package graft.index

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.query.{BM25Index, QueryEngine}

/** Skew fixture (SURVEY.md §7.5 risk 5): one term in ~50% of all docs —
  * the code-keyword regime ("return", "import") that at corpus scale would
  * otherwise form a single giant posting group. Asserts the explicit
  * (term, salt) salting actually splits the hot term's postings into one
  * bounded run per salt, and that retrieval over the skewed term stays
  * correct vs the scalar engine.
  */
class SkewSpec extends SparkTestBase {

  private val nDocs = 4000
  // every even doc contains the hot term; fillers keep vocab non-trivial
  private def text(i: Int): String = {
    val hot = if (i % 2 == 0) "hotterm " else ""
    s"${hot}filler$i alpha beta doc body word${i % 7} token${i % 13}"
  }
  private lazy val corpus = (0 until nDocs).map(i => (s"doc$i", text(i)))

  private lazy val indexDir = {
    val dir = tmpDir("graft-skew")
    import spark.implicits._
    val df = corpus.toDF("docId", "content")
    // several id partitions -> several salts even at this small size
    IndexBuilder.build(spark, df, dir,
      IndexBuilder.Config(stem = false,
        tokenPattern = graft.tokenize.Tokenizer.AsciiTokenPattern,
        numSegmentGroups = 1, numBuckets = 4, docmapPartitions = 4))
    dir
  }

  test("hot term's postings split into one bounded run per salt") {
    val idx = new BM25Index(spark, indexDir)
    assert(idx.numSalts >= 4, s"fixture needs several salts, got ${idx.numSalts}")
    val runs = idx.postings.where(col("term") === "hotterm")
      .select(col("salt"), col("count")).collect()
      .map(r => r.getInt(0) -> r.getInt(1))
    val df = runs.map(_._2.toLong).sum
    assert(df == nDocs / 2, s"hot term df $df")
    // salted: one run per salt, none holding the whole df
    assert(runs.length == idx.numSalts.toInt,
      s"expected ${idx.numSalts} salted runs, got ${runs.length}")
    assert(runs.map(_._1).distinct.length == runs.length, "duplicate salt runs")
    val maxRun = runs.map(_._2).max
    assert(maxRun < df, s"one run holds the entire hot-term df ($maxRun)")
    // and the runs are balanced to the salt width, not skew-shaped
    assert(maxRun <= (df / idx.numSalts) * 2 + 1,
      s"hot-term run imbalance: max $maxRun for df $df over ${idx.numSalts} salts")
  }

  test("retrieval over the skewed term matches the scalar engine") {
    import spark.implicits._
    val idx = new BM25Index(spark, indexDir)
    val scalar = new graft.score.BM25.ScalarEngine(
      corpus.map { case (id, t) =>
        id -> graft.tokenize.Tokenizer.tokenizeScalar(t, stem = false) },
      graft.score.BM25Params(), quantizeImpacts = true)
    val q = Seq(("qs", "hotterm word3")).toDF("qid", "query")
    val got = QueryEngine.searchWand(idx, q, 20).collect()
      .sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2)))
    val expected = scalar.topK(Seq("hotterm", "word3"), 20)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case ((_, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-4, s"$gs vs $es")
    }
  }
}
