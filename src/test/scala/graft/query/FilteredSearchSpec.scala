package graft.query

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.index.IndexBuilder
import graft.util.SynthCorpus

/** Filtered retrieval (query-time doc predicate, Lucene filter-query
  * semantics): candidates restricted, corpus statistics global. Truth is
  * DERIVED from the unfiltered engine — because stats don't move, the
  * filtered top-k must equal the allowed-subset prefix of a deep
  * unfiltered ranking, doc for doc and score for score. Covered paths:
  * kernel broadcast set (DAAT + TAAT), single-chunk and over-chunk
  * batches, over-bound semi-join fallback, empty filter.
  */
class FilteredSearchSpec extends SparkTestBase {

  private val k = 10
  private lazy val corpus = SynthCorpus.gen(8, 25) // 200 docs
  private lazy val queries = SynthCorpus.queries

  private lazy val indexDir = {
    val dir = tmpDir("graft-fltidx")
    import spark.implicits._
    val df = spark.createDataset(corpus).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
    IndexBuilder.build(spark, df, dir,
      IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 8))
    dir
  }

  /** ~50% deterministic predicate over the external docId. */
  private val pred = pmod(xxhash64(col("docId")), lit(2)) === 0

  private def collectResults(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .groupBy(_.getString(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq
      }

  /** Unfiltered deep ranking → allowed-subset prefix = expected filtered
    * top-k (scores must be IDENTICAL to the unfiltered run's).
    */
  private def derivedTruth(idx: BM25Index,
                           allowed: Set[String]): Map[String, Seq[(String, Double)]] =
    collectResults(QueryEngine.searchExact(idx, queriesDf, corpus.size))
      .map { case (qid, seq) => qid -> seq.filter(d => allowed(d._1)).take(k) }
      .filter(_._2.nonEmpty)

  private lazy val queriesDf = {
    import spark.implicits._
    queries.toDF("qid", "query")
  }

  private def checkEqual(got: Map[String, Seq[(String, Double)]],
                         want: Map[String, Seq[(String, Double)]]): Unit = {
    assert(got.keySet == want.keySet, s"qids ${got.keySet} vs ${want.keySet}")
    for (qid <- want.keySet) {
      val (g, w) = (got(qid), want(qid))
      assert(g.map(_._1) == w.map(_._1), s"$qid docs:\n got=$g\n want=$w")
      g.zip(w).foreach { case ((_, gs), (wd, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"$qid $wd: score $gs vs $ws")
      }
    }
  }

  private def allowedSet(idx: BM25Index): Set[String] =
    idx.docs.where(pred).select("docId").collect().map(_.getString(0)).toSet

  test("filtered wand (DAAT kernel set) matches the derived truth") {
    val idx = new BM25Index(spark, indexDir)
    val allowed = allowedSet(idx)
    assert(allowed.nonEmpty && allowed.size < corpus.size, s"degenerate predicate: ${allowed.size}")
    checkEqual(
      collectResults(QueryEngine.searchWand(idx, queriesDf, k, Some(pred))),
      derivedTruth(idx, allowed))
  }

  test("filtered exact path matches the derived truth") {
    val idx = new BM25Index(spark, indexDir)
    checkEqual(
      collectResults(QueryEngine.searchExact(idx, queriesDf, k, Some(pred))),
      derivedTruth(idx, allowedSet(idx)))
  }

  test("TAAT kernel honors the filter") {
    val idx = new BM25Index(spark, indexDir)
    spark.conf.set("spark.graft.taatMinBatchQueries", "1")
    try checkEqual(
      collectResults(QueryEngine.searchWand(idx, queriesDf, k, Some(pred))),
      derivedTruth(idx, allowedSet(idx)))
    finally spark.conf.unset("spark.graft.taatMinBatchQueries")
  }

  test("over-bound filter falls back to the semi-join path and agrees") {
    val idx = new BM25Index(spark, indexDir)
    spark.conf.set("spark.graft.filterMaxBroadcastDocs", "1")
    try checkEqual(
      collectResults(QueryEngine.searchWand(idx, queriesDf, k, Some(pred))),
      derivedTruth(idx, allowedSet(idx)))
    finally spark.conf.unset("spark.graft.filterMaxBroadcastDocs")
  }

  test("Graft.search forwards the doc filter on both paths") {
    val idx = new BM25Index(spark, indexDir)
    val truth = derivedTruth(idx, allowedSet(idx))
    checkEqual(
      collectResults(graft.Graft.search(idx, queriesDf, k, docFilter = Some(pred))),
      truth)
    checkEqual(
      collectResults(graft.Graft.search(idx, queriesDf, k, exact = true,
        docFilter = Some(pred))),
      truth)
  }

  // ---- weighted-path filter composition ----------------------------------

  /** Integer-qtf weighted twin of the text queries: the weighted kernel
    * path must agree with the text path under the same filter.
    */
  private def weightedQueries(idx: BM25Index) =
    queriesDf
      .select(col("qid"),
        explode(graft.tokenize.Tokenizer.tokens(col("query"),
          idx.tokenPattern, idx.stem)).as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).cast("double").as("qtf"))

  test("filtered weighted search matches the derived truth") {
    val idx = new BM25Index(spark, indexDir)
    checkEqual(
      collectResults(QueryEngine.searchWandWeighted(idx, weightedQueries(idx),
        k, Some(pred))),
      derivedTruth(idx, allowedSet(idx)))
  }

  test("filtered weighted over-bound fallback agrees") {
    val idx = new BM25Index(spark, indexDir)
    spark.conf.set("spark.graft.filterMaxBroadcastDocs", "1")
    try checkEqual(
      collectResults(QueryEngine.searchWandWeighted(idx, weightedQueries(idx),
        k, Some(pred))),
      derivedTruth(idx, allowedSet(idx)))
    finally spark.conf.unset("spark.graft.filterMaxBroadcastDocs")
  }

  test("filtered over-chunk batches equal the filtered single-chunk result") {
    // two queries per chunk streams every batch here through the chunked
    // spill with the allowed-set broadcast shared by all chunks
    val idx = new BM25Index(spark, indexDir)
    def run() = (
      collectResults(QueryEngine.searchWand(idx, queriesDf, k, Some(pred))),
      collectResults(QueryEngine.searchWandWeighted(idx, weightedQueries(idx),
        k, Some(pred))))
    val (wand, weighted) = run()
    assert(wand.size > 2, s"too few results for two-query chunks: ${wand.keySet}")
    spark.conf.set("spark.graft.wandQueryChunkRows", "2")
    try {
      val (chunkedWand, chunkedWeighted) = run()
      checkEqual(chunkedWand, wand)
      checkEqual(chunkedWeighted, weighted)
    } finally spark.conf.unset("spark.graft.wandQueryChunkRows")
  }

  test("filtered RM3 equals the hand-composed filtered two-pass pipeline") {
    val idx = new BM25Index(spark, indexDir)
    val got = collectResults(
      Rm3.searchIndexed(idx, queriesDf, k, fbDocs = 5, fbTerms = 8,
        alpha = 0.5, docFilter = Some(pred)))
    // every result doc must be allowed
    val allowed = allowedSet(idx)
    got.values.flatten.foreach { case (d, _) =>
      assert(allowed(d), s"disallowed doc $d in filtered RM3 output")
    }
    // compose the same two passes by hand: filtered pass-1 feedback →
    // expandWeights over stored vectors → filtered weighted pass-2
    import spark.implicits._
    val fb = QueryEngine.searchWand(idx, queriesDf, 5, Some(pred))
      .select(col("qid"), col("docId"), col("score"))
      .persist()
    val (docTf, dl) = Rm3.feedbackVectors(idx, fb.select("docId"))
    val qtf = queriesDf.select(col("qid"),
      explode(graft.tokenize.Tokenizer.tokens(col("query"),
        idx.tokenPattern, idx.stem)).as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).as("qtf"))
    val weights = Rm3.expandWeights(fb, docTf, dl, qtf, fbTerms = 8,
      alpha = 0.5, docCol = "docId")
    val want = collectResults(
      QueryEngine.searchWandWeighted(idx, weights, k, Some(pred)))
    fb.unpersist()
    checkEqual(got, want)
  }

  test("filter selecting no docs returns an empty result with the contract schema") {
    val idx = new BM25Index(spark, indexDir)
    val res = QueryEngine.searchWand(idx, queriesDf, k, Some(lit(false)))
    assert(res.columns.toSeq == Seq("qid", "docId", "score", "rank"))
    assert(res.count() == 0)
  }
}
