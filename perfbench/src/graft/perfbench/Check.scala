package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Output check: a ranked result (qid -> [(docId, score)] in rank order)
  * against a reference computed by another engine path.
  *
  * The rule is the engine test suite's (BM25EngineSpec): scores agree
  * position by position within `ScoreTol`, and docIds are rank-identical
  * outside tie groups, where a tie group is a run of reference scores
  * closer than `TieTol` and is compared as a set. Different kernels sum
  * the same impacts in different orders, so equal scores may come out a
  * few ulps apart and swap places. The tie group cut by the k boundary
  * is compared by size and score only: which of its tied members fall
  * inside k is not defined by the ranking.
  */
object Check {
  type Ranked = Map[String, Seq[(String, Double)]]

  val ScoreTol = 1e-4
  val TieTol = 1e-6

  /** Rows (qid, docId, score, rank) into per-qid ranked lists. */
  def ranked(rows: Seq[Row]): Ranked =
    rows.groupBy(_.getString(0)).map { case (qid, rs) =>
      qid -> rs.sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2)))
    }

  def collectRanked(df: DataFrame): Ranked =
    ranked(df.select("qid", "docId", "score", "rank").collect().toSeq)

  /** Mismatch descriptions, empty when `got` matches `want`. `qids` are the
    * sampled queries: each must have the same (possibly empty) result.
    */
  def compare(got: Ranked, want: Ranked, qids: Seq[String], k: Int): Seq[String] =
    qids.flatMap { qid =>
      val g = got.getOrElse(qid, Nil)
      val w = want.getOrElse(qid, Nil)
      if (g.size != w.size) Seq(s"$qid: ${g.size} hits, reference has ${w.size}")
      else {
        val scoreErr = g.zip(w).zipWithIndex.collectFirst {
          case (((_, gs), (_, ws)), r) if !(math.abs(gs - ws) < ScoreTol) =>
            s"$qid rank ${r + 1}: score $gs, reference $ws"
        }
        scoreErr.toSeq ++ tieGroups(w.map(_._2)).flatMap { case (from, until) =>
          val cutByK = until == w.size && w.size == k
          val gs = g.slice(from, until).map(_._1).toSet
          val ws = w.slice(from, until).map(_._1).toSet
          if (cutByK || gs == ws) None
          else Some(s"$qid ranks ${from + 1}-$until: docs ${gs.toSeq.sorted} " +
            s"reference ${ws.toSeq.sorted}")
        }.headOption
      }
    }

  /** [from, until) index ranges of runs of consecutive scores closer than
    * `TieTol` to their predecessor.
    */
  private def tieGroups(scores: Seq[Double]): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var from = 0
    for (i <- 1 to scores.size)
      if (i == scores.size || math.abs(scores(i) - scores(i - 1)) >= TieTol) {
        out += ((from, i)); from = i
      }
    if (scores.isEmpty) Nil else out.result()
  }
}
