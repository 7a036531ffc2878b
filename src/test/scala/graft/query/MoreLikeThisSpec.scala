package graft.query

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.index.IndexBuilder
import graft.util.SynthCorpus

/** More-Like-This over stored doc vectors: self-retrieval sanity, term-cut
  * bounds, doc-filter composition (seed exclusion), and the driver entry's
  * shape.
  */
class MoreLikeThisSpec extends SparkTestBase {

  private lazy val corpusDf = {
    import spark.implicits._
    spark.createDataset(SynthCorpus.gen(8, 25)).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
  }
  private lazy val indexDir = {
    val dir = tmpDir("graft-mltidx")
    IndexBuilder.build(spark, corpusDf, dir,
      IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 8))
    dir
  }

  test("each seed retrieves itself first; weighted query is term-capped") {
    import spark.implicits._
    val idx = new BM25Index(spark, indexDir)
    val seeds = corpusDf.select("docId").limit(4)
    val seedIds = seeds.collect().map(_.getString(0)).toSet
    val wq = MoreLikeThis.queryTerms(idx, seeds, maxTerms = 10)
    val perSeed = wq.groupBy("qid").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSeed.keySet == seedIds)
    assert(perSeed.values.forall(n => n > 0 && n <= 10), s"$perSeed")
    // tf·idf weights are positive and the cut keeps the heaviest ones
    assert(wq.where(col("qtf") <= 0.0).isEmpty)

    val res = MoreLikeThis.searchIndexed(idx, seeds, k = 5, maxTerms = 10)
      .collect().groupBy(_.getString(0))
    for (sid <- seedIds) {
      val top = res(sid).minBy(_.getInt(3))
      assert(top.getString(1) == sid, s"seed $sid did not rank itself first: $top")
    }
  }

  test("docFilter composes: seeds excluded from their own results") {
    import spark.implicits._
    val idx = new BM25Index(spark, indexDir)
    val seeds = corpusDf.select("docId").limit(3)
    val seedIds = seeds.collect().map(_.getString(0)).toSet
    val res = MoreLikeThis.searchIndexed(idx, seeds, k = 5, maxTerms = 10,
      docFilter = Some(!col("docId").isInCollection(seedIds)))
      .collect()
    assert(res.nonEmpty)
    res.foreach(r => assert(!seedIds.contains(r.getString(1)),
      s"seed leaked into filtered MLT results: $r"))
  }

  test("excludeSeeds drops each seed from its OWN list and closes rank gaps") {
    val idx = new BM25Index(spark, indexDir)
    val seeds = corpusDf.select("docId").limit(3)
    val seedIds = seeds.collect().map(_.getString(0)).toSet
    val kept = MoreLikeThis.searchIndexed(idx, seeds, k = 5, maxTerms = 10)
      .collect().groupBy(_.getString(0))
    val excl = MoreLikeThis.searchIndexed(idx, seeds, k = 5, maxTerms = 10,
      excludeSeeds = true)
      .collect().groupBy(_.getString(0))
    assert(excl.keySet == seedIds)
    for (sid <- seedIds) {
      // no self-rows, ranks contiguous from 1, k respected
      assert(excl(sid).forall(_.getString(1) != sid), s"$sid kept itself")
      val ranks = excl(sid).map(_.getInt(3)).sorted.toSeq
      assert(ranks == (1 to ranks.size) && ranks.size <= 5, s"$sid: $ranks")
      // the kept-at-k list minus the self row is a PREFIX of the excluded
      // list (which runs one deeper to backfill the freed slot); other
      // seeds' docs remain — exclusion is per-seed, not global
      val keptMinusSelf = kept(sid).filter(_.getString(1) != sid)
        .sortBy(_.getInt(3)).map(_.getString(1)).toSeq
      assert(excl(sid).sortBy(_.getInt(3)).map(_.getString(1))
        .take(keptMinusSelf.size).toSeq == keptMinusSelf,
        s"$sid order changed")
    }
  }

  test("free-text seeds: a seed doc's own content retrieves that doc first") {
    import spark.implicits._
    val idx = new BM25Index(spark, indexDir)
    // seed text = the content of 3 known docs — the pseudo-vector path
    // should rank the source doc first, mirroring docId-seed self-retrieval
    val picked = corpusDf.limit(3).collect()
    val seeds = picked.map(r => (r.getString(0), r.getString(1))).toSeq
      .toDF("qid", "text")
    val res = MoreLikeThis.searchIndexedText(idx, seeds, k = 5, maxTerms = 25)
      .collect().groupBy(_.getString(0))
    for ((qid, _) <- seeds.collect().map(r => (r.getString(0), ()))) {
      val top = res(qid).minBy(_.getInt(3))
      assert(top.getString(1) == qid, s"text seed $qid top: $top")
    }
    // and the facade's run-mode wrapper produces the same frame shape
    val facade = graft.Graft.searchMltText(idx, seeds, k = 5, maxTerms = 25)
    assert(facade.columns.toSeq == Seq("qid", "docId", "score", "rank"))
  }

  test("warm searchIndexed and searchIndexedText job counts") {
    // the counts measured with the seed query built by a Spark plan
    // (feedback vectors, df join, row_number cut) before the kernel route
    import spark.implicits._
    val idx = new BM25Index(spark, indexDir)
    val seeds = corpusDf.select("docId").limit(5)
    val texts = corpusDf.limit(5).collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.toDF("qid", "text")
    for ((leg, maxJobs, call) <- Seq[(String, Int, () => Unit)](
        ("searchIndexed", 18,
          () => MoreLikeThis.searchIndexed(idx, seeds, k = 10).collect()),
        ("searchIndexedText", 10,
          () => MoreLikeThis.searchIndexedText(idx, texts, k = 10).collect()))) {
      call() // first use opens the index tables and builds the docId dictionary
      val jobs = jobsIn(call())
      assert(jobs <= maxJobs, s"$leg: $jobs jobs")
    }
  }

  test("composed driver entry: schema, seeds present, rank contiguity") {
    val df = graft.entry.DriverQueries.bm25Mlt(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(df.columns.toSeq == Seq("qid", "doc_id", "score", "rank"))
    val byQid = rows.groupBy(_.getString(0))
    assert(byQid.keySet == Set("m3", "m10", "m17"))
    byQid.foreach { case (qid, rs) =>
      val ranks = rs.map(_.getInt(3)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"$qid ranks: $ranks")
      // the seed ranks itself first (self-similarity sanity)
      assert(rs.minBy(_.getInt(3)).getLong(1).toString == qid.drop(1),
        s"$qid top doc: ${rs.minBy(_.getInt(3))}")
    }
    spark.catalog.clearCache()
  }
}
