package graft.query

import graft.SparkTestBase
import graft.index.IndexBuilder
import graft.score.{BM25, BM25Params}
import graft.tokenize.Tokenizer
import graft.util.SynthCorpus

/** Golden end-to-end parity: Spark index+query (both physical paths) vs the
  * in-repo scalar reference engine — playing the role the rank_bm25 /
  * numpy-vs-numba-vs-jax cross-assertions play in the reference
  * (benchmark/on_bm25s.py:189,207-208, tolerance 1e-6 there; our impacts are
  * float32 like bm25s's score matrix, summed in differing orders across
  * engines, so the tolerance here is 1e-4 on scores with rank-identity
  * checked outside tie groups).
  */
class BM25EngineSpec extends SparkTestBase {

  private val k = 10
  private lazy val corpus = SynthCorpus.gen(8, 25) // 200 docs
  private lazy val queries = SynthCorpus.queries

  private lazy val indexDir = {
    val dir = tmpDir("graft-index")
    import spark.implicits._
    val df = spark.createDataset(corpus).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
    IndexBuilder.build(spark, df, dir,
      IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 8))
    dir
  }

  private lazy val scalar = new BM25.ScalarEngine(
    corpus.map(sf => sf.docId -> Tokenizer.tokenizeScalar(sf.content)),
    BM25Params(), quantizeImpacts = true)

  private lazy val queriesDf = {
    import spark.implicits._
    queries.toDF("qid", "query")
  }

  private def checkAgainstScalar(results: Map[String, Seq[(String, Double)]]): Unit = {
    for ((qid, qtext) <- queries) {
      val expected = scalar.topK(Tokenizer.tokenizeScalar(qtext), k)
      val got = results.getOrElse(qid, Nil)
      assert(got.size == expected.size, s"$qid: size ${got.size} != ${expected.size} ($qtext)")
      // scores match positionally within tolerance
      got.zip(expected).zipWithIndex.foreach { case (((gd, gs), (ed, es)), r) =>
        assert(math.abs(gs - es) < 1e-4,
          s"$qid rank ${r + 1}: score $gs vs $es (doc $gd vs $ed)")
      }
      // docIds rank-identical outside tie groups: compare as sets within
      // groups of equal (rounded) score
      def tieGroups(xs: Seq[(String, Double)]): Seq[Set[String]] =
        xs.groupBy { case (_, s) => math.round(s * 1e6) }.toSeq
          .sortBy(-_._1).map(_._2.map(_._1).toSet)
      assert(tieGroups(got) == tieGroups(expected),
        s"$qid: rank order differs\n got=$got\n exp=$expected")
    }
  }

  private def collectResults(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .groupBy(_.getString(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq
      }

  test("exact path matches scalar reference") {
    val idx = new BM25Index(spark, indexDir)
    assert(idx.numDocs == 200)
    val res = QueryEngine.searchExact(idx, queriesDf, k)
    checkAgainstScalar(collectResults(res))
  }

  test("wand path matches scalar reference") {
    val idx = new BM25Index(spark, indexDir)
    val res = QueryEngine.searchWand(idx, queriesDf, k)
    checkAgainstScalar(collectResults(res))
  }

  test("dual-path allclose: exact vs wand agree") {
    val idx = new BM25Index(spark, indexDir)
    val a = collectResults(QueryEngine.searchExact(idx, queriesDf, k))
    val b = collectResults(QueryEngine.searchWand(idx, queriesDf, k))
    assert(a.keySet == b.keySet)
    for (qid <- a.keySet) {
      val (da, db) = (a(qid), b(qid))
      assert(da.size == db.size, s"$qid sizes")
      da.zip(db).foreach { case ((d1, s1), (d2, s2)) =>
        assert(math.abs(s1 - s2) < 1e-6, s"$qid: $d1=$s1 vs $d2=$s2")
      }
    }
  }

  test("k=1000 depth (reference retrieval depth): both paths match scalar") {
    // k far beyond corpus size: result = every matching doc, fully ranked
    val idx = new BM25Index(spark, indexDir)
    import spark.implicits._
    val q = Seq(("qd", "binary search tree"), ("qe", "def class return"))
      .toDF("qid", "query")
    val exact = collectResults(QueryEngine.searchExact(idx, q, 1000))
    val wand = collectResults(QueryEngine.searchWand(idx, q, 1000))
    for ((qid, qtext) <- Seq(("qd", "binary search tree"), ("qe", "def class return"))) {
      val expected = scalar.topK(Tokenizer.tokenizeScalar(qtext), 1000)
      assert(exact(qid).size == expected.size, s"$qid exact size")
      assert(wand(qid).size == expected.size, s"$qid wand size")
      exact(qid).zip(expected).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-4, s"$qid exact score $gs vs $es")
      }
      wand(qid).zip(expected).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-4, s"$qid wand score $gs vs $es")
      }
    }
  }

  test("kernel cross-check: WAND and TAAT agree at both depths") {
    // the k>=scoreAllMinK switch picks the TAAT dense-accumulator kernel at
    // depth and WAND for small k; pin the conf both ways so each kernel is
    // exercised in the other's regime and both match the scalar reference
    val idx = new BM25Index(spark, indexDir)
    try {
      spark.conf.set("spark.graft.scoreAllMinK", "1") // force TAAT at k=10
      checkAgainstScalar(collectResults(QueryEngine.searchWand(idx, queriesDf, k)))
      spark.conf.set("spark.graft.scoreAllMinK", "100000") // force WAND at k=1000
      import spark.implicits._
      val q = Seq(("qd", "binary search tree")).toDF("qid", "query")
      val wand = collectResults(QueryEngine.searchWand(idx, q, 1000))
      val expected = scalar.topK(Tokenizer.tokenizeScalar("binary search tree"), 1000)
      assert(wand("qd").size == expected.size)
      wand("qd").zip(expected).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-4, s"forced-wand score $gs vs $es")
      }
    } finally spark.conf.unset("spark.graft.scoreAllMinK")
  }

  test("chunked large-batch path matches the single-collect path") {
    // force the toLocalIterator streaming path (chunk=3 queries) and the
    // per-task early heap drain (taskHeapMaxRows=1): both must be invisible
    // in the results — the WAND finish's per-query top-k heap merges the
    // early-drained partial heaps
    val idx = new BM25Index(spark, indexDir)
    val base = collectResults(QueryEngine.searchWand(idx, queriesDf, k))
    try {
      spark.conf.set("spark.graft.wandQueryChunkRows", "3")
      spark.conf.set("spark.graft.taskHeapMaxRows", "1")
      val chunked = collectResults(QueryEngine.searchWand(idx, queriesDf, k))
      assert(chunked.keySet == base.keySet)
      for (qid <- base.keySet) {
        assert(chunked(qid).map(_._1) == base(qid).map(_._1), s"$qid docs differ")
        chunked(qid).zip(base(qid)).foreach { case ((_, s1), (_, s2)) =>
          assert(math.abs(s1 - s2) < 1e-9, s"$qid scores differ")
        }
      }
    } finally {
      spark.conf.unset("spark.graft.wandQueryChunkRows")
      spark.conf.unset("spark.graft.taskHeapMaxRows")
    }
  }

  test("over-chunk spill derives from the index filesystem, not java.io.tmpdir") {
    // cluster-safety gate: chunk results must land where EVERY node can
    // reach them — under the index dir by default, the conf override when
    // set — never a driver-local temp dir
    val idx = new BM25Index(spark, indexDir)
    // the root DERIVES from the index location (shared by all nodes) —
    // in these local tests indexDir itself is a temp dir, so the gate is
    // the derivation, not the absolute prefix
    assert(QueryEngine.chunkSpillRoot(idx) == s"$indexDir/_tmp-query")
    try {
      spark.conf.set("spark.graft.wandQueryChunkRows", "3")
      assert(QueryEngine.searchWand(idx, queriesDf, k).count() > 0)
      val root = new java.io.File(s"$indexDir/_tmp-query")
      val runs = Option(root.listFiles()).getOrElse(Array.empty)
      assert(runs.nonEmpty, s"no spill run dirs under $root")
      assert(runs.exists(r => Option(r.listFiles()).getOrElse(Array.empty)
        .exists(_.getName.startsWith("chunk-"))), "no chunk dirs in spill run")

      val custom = tmpDir("graft-spill-custom")
      spark.conf.set("spark.graft.chunkSpillDir", custom)
      assert(QueryEngine.chunkSpillRoot(idx) == custom)
      assert(QueryEngine.searchWand(idx, queriesDf, k).count() > 0)
      assert(Option(new java.io.File(custom).listFiles())
        .getOrElse(Array.empty).nonEmpty, s"conf spill dir $custom unused")
    } finally {
      spark.conf.unset("spark.graft.wandQueryChunkRows")
      spark.conf.unset("spark.graft.chunkSpillDir")
    }
  }

  /** wandPartials' rows as (qidx, docIntIds, scores). */
  private def partialLists(idx: BM25Index, kk: Int): Array[(Int, Array[Long], Array[Double])] = {
    import spark.implicits._
    val qArr = QueryEngine.tokenizeRows(idx, queriesDf.collect())
    QueryEngine.wandPartials(idx, qArr, kk).as[(Int, Array[Long], Array[Double])].collect()
  }

  test("deep-k partial emission is bounded by salt-bucket cap, not numSalts") {
    // the scale contract: per query the pre-merge candidates are at most
    // min(numSalts, S = 4) × k — independent of how many salts the index
    // has (at 10^12-doc scale numSalts is ~10^6); each emitted list is a
    // task heap's arrays as they are, unsorted, at most k long
    val idx = new BM25Index(spark, indexDir)
    val kk = 7
    try {
      spark.conf.set("spark.graft.scoreAllMinK", "1") // force deep-k mode
      val lists = partialLists(idx, kk)
      assert(lists.nonEmpty)
      lists.foreach { case (q, ids, scores) =>
        assert(ids.length == scores.length && ids.nonEmpty && ids.length <= kk)
      }
      lists.groupBy(_._1).foreach { case (q, ls) =>
        val n = ls.map(_._2.length.toLong).sum
        assert(n <= math.min(idx.numSalts, 4).toLong * kk, s"qidx $q: $n partials > bound")
      }
    } finally spark.conf.unset("spark.graft.scoreAllMinK")
  }

  test("early drains never list a (query, doc) twice across the partial rows") {
    // taskHeapMaxRows=1 drains at every (salt, qgrp) boundary, so a query
    // gets one list per group it was scored in; the merge has no dedup, so
    // a docIntId must leave the kernel once per query — both kernels
    val idx = new BM25Index(spark, indexDir)
    try {
      spark.conf.set("spark.graft.taskHeapMaxRows", "1")
      for (minK <- Seq("1", "100000")) {
        spark.conf.set("spark.graft.scoreAllMinK", minK)
        val lists = partialLists(idx, k)
        assert(lists.groupBy(_._1).exists(_._2.length > 1), "no query drained twice")
        lists.groupBy(_._1).foreach { case (q, ls) =>
          val ids = ls.toSeq.flatMap(_._2.toSeq)
          assert(ids.distinct.size == ids.size, s"scoreAllMinK=$minK qidx $q: repeated docIntId")
        }
      }
    } finally {
      spark.conf.unset("spark.graft.taskHeapMaxRows")
      spark.conf.unset("spark.graft.scoreAllMinK")
    }
  }

  test("salt placement: bucket sizes differ by at most one salt") {
    // salts deal round-robin over the deep-k kernel's S = min(numSalts, 4)
    // buckets by id partition p and run j: salt = (p << 13) + j at the
    // default shift of 20
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val shift = IndexBuilder.SaltShift
    for (nP <- Seq(1, 3, 4, 8, 64); runs <- Seq(1, 2)) {
      val salts = for (p <- 0 until nP; j <- 0 until runs)
        yield (p << (IndexBuilder.IdPartitionShift - shift)) + j
      val nS = math.min(salts.size, 4)
      val buckets = salts.toDF("salt")
        .select(QueryEngine.saltBucket(col("salt"), shift, nS)).as[Int].collect()
      val sizes = (0 until nS).map(b => buckets.count(_ == b))
      assert(sizes.max - sizes.min <= 1, s"P=$nP runs=$runs S=$nS: bucket sizes $sizes")
    }
  }

  test("salt placement: each of the S×G kernel partitions holds one (bucket, group)") {
    // a 4-salt index at deep k: S = 4 buckets × G query groups, one task
    // each — none empty, none shared (the hashed placement left 5 of 8
    // kernel tasks of a 4-salt index without rows)
    import org.apache.spark.sql.functions._
    val idx = new BM25Index(spark, indexDir)
    assert(idx.numSalts == 4, s"fixture has ${idx.numSalts} salts")
    val qArr = QueryEngine.tokenizeRows(idx, queriesDf.collect())
    val terms = qArr.flatMap(_._2.map(_._1)).distinct.toSeq
    val (nS, nG) = QueryEngine.fanOut(idx, qArr.length, useTaat = true)
    assert(nS == 4 && nG == 2, s"S=$nS G=$nG")
    val parts = QueryEngine.kernelInput(idx, terms, nS, nG)
      .select(spark_partition_id().as("pid"),
        QueryEngine.saltBucket(col("salt"), idx.saltShift, nS).as("bucket"), col("qgrp"))
      .distinct().collect().map(r => (r.getInt(0), (r.getInt(1), r.getInt(2))))
    val byPart = parts.groupBy(_._1).map { case (pid, rs) => pid -> rs.map(_._2).toSet }
    assert(byPart.keySet == (0 until nS * nG).toSet, s"partitions with rows: ${byPart.keySet}")
    byPart.foreach { case (pid, groups) =>
      assert(groups == Set((pid / nG, pid % nG)), s"partition $pid holds $groups")
    }
  }

  test("the docId dictionary finish returns the join finish's rows") {
    // an index of at most broadcastHitsMaxRows docs resolves docIds from the
    // handle's dictionary; a bound below numDocs takes the docs join — both
    // must give identical rows on every path that finishes through them
    import org.apache.spark.sql.functions._
    val idx = new BM25Index(spark, indexDir)
    val pred = Some(pmod(xxhash64(col("docId")), lit(2)) === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def parity(leg: String, confs: (String, String)*)(
        search: => org.apache.spark.sql.DataFrame): Unit = {
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      try {
        val dict = rows(search)
        spark.conf.set("spark.graft.broadcastHitsMaxRows", (idx.numDocs - 1).toString)
        val joined =
          try rows(search) finally spark.conf.unset("spark.graft.broadcastHitsMaxRows")
        assert(dict.nonEmpty, leg)
        assert(dict == joined, s"$leg: dictionary and join finishes differ")
      } finally confs.foreach { case (c, _) => spark.conf.unset(c) }
    }
    parity("searchWand k=10")(QueryEngine.searchWand(idx, queriesDf, k))
    parity("searchWand k=1000")(QueryEngine.searchWand(idx, queriesDf, 1000))
    parity("searchExact")(QueryEngine.searchExact(idx, queriesDf, k))
    parity("filtered searchWand")(QueryEngine.searchWand(idx, queriesDf, k, pred))
    parity("early drains", "spark.graft.taskHeapMaxRows" -> "1")(
      QueryEngine.searchWand(idx, queriesDf, k))
  }

  test("warm small-batch searchWand job count, unfiltered and filtered") {
    // both benchmark workloads take this leg: one limit-collect probe, the
    // kernel and the finish — no count() and no second probe. The filtered
    // leg adds the allowed-set collect and the spill of its finished rows.
    import org.apache.spark.sql.functions._
    val idx = new BM25Index(spark, indexDir)
    val pred = Some(pmod(xxhash64(col("docId")), lit(2)) === 0)
    // the counts measured once the kernel's query groups became a literal
    // explode (4 and 7 with a `range(G)` cross join, 5 and 8 with the docs
    // join before the handle's docId dictionary)
    for ((flt, maxJobs) <- Seq((None, 3), (pred, 6))) {
      def call() = QueryEngine.searchWand(idx, queriesDf, k, flt).collect()
      call() // first use opens the index tables and builds the docId dictionary
      val jobs = jobsIn(call())
      assert(jobs <= maxJobs, s"filter=${flt.isDefined}: $jobs jobs")
    }
  }

  test("all-stopword and all-OOV queries yield no rows") {
    val idx = new BM25Index(spark, indexDir)
    import spark.implicits._
    val res = QueryEngine.searchExact(idx,
      Seq(("qa", "a the of to"), ("qb", "zzz_oov qqq_missing")).toDF("qid", "query"), k)
    assert(res.count() == 0)
  }

  test("stem=false config: build+query parity vs unstemmed scalar engine") {
    // the no-stem pipeline backs the driver's oracle-checked
    // bm25_topk_indexed entry; properties must pin it so the query side
    // tokenizes identically to the build
    val dir = tmpDir("graft-index-nostem")
    import spark.implicits._
    val df = spark.createDataset(corpus).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
    IndexBuilder.build(spark, df, dir,
      IndexBuilder.Config(stem = false, numSegmentGroups = 1, numBuckets = 8))
    val idx = new BM25Index(spark, dir)
    assert(!idx.stem && idx.props("stemmer") == "none")
    val scalarNoStem = new BM25.ScalarEngine(
      corpus.map(sf => sf.docId -> Tokenizer.tokenizeScalar(sf.content, stem = false)),
      BM25Params(), quantizeImpacts = true)
    val results = collectResults(QueryEngine.searchWand(idx, queriesDf, k))
    for ((qid, qtext) <- queries) {
      val expected = scalarNoStem.topK(Tokenizer.tokenizeScalar(qtext, stem = false), k)
      val got = results.getOrElse(qid, Nil)
      assert(got.size == expected.size, s"$qid: size ${got.size} != ${expected.size}")
      got.zip(expected).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-4, s"$qid: $gs vs $es")
      }
    }
  }

  test("empty corpus: build completes, both paths return zero rows") {
    val dir = tmpDir("graft-index-empty")
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("docId", "content")
    IndexBuilder.build(spark, empty, dir,
      IndexBuilder.Config(numSegmentGroups = 1, numBuckets = 4))
    val idx = new BM25Index(spark, dir)
    assert(idx.numDocs == 0)
    val q = Seq(("q1", "binary search")).toDF("qid", "query")
    assert(QueryEngine.searchWand(idx, q, 5).count() == 0)
    assert(QueryEngine.searchExact(idx, q, 5).count() == 0)
  }

  test("empty corpus: docvecs opens with its schema and zero rows") {
    // no data file to infer a schema from: the handle reads DocvecsSchema
    val dir = tmpDir("graft-index-empty-docvecs")
    import spark.implicits._
    IndexBuilder.build(spark, Seq.empty[(String, String)].toDF("docId", "content"), dir,
      IndexBuilder.Config(numSegmentGroups = 1, numBuckets = 4))
    val idx = new BM25Index(spark, dir)
    assert(idx.docvecs.schema == IndexBuilder.DocvecsSchema)
    assert(idx.docvecs.count() == 0)
    assert(idx.docs.count() == 0)
    val (docTf, dl) = Rm3.feedbackVectors(idx, Seq("d1").toDF("docId"))
    assert(docTf.count() == 0 && dl.count() == 0)
  }

  test("index stats and properties recorded") {
    val idx = new BM25Index(spark, indexDir)
    assert(idx.params == BM25Params())
    assert(idx.avgdl > 0)
    assert(idx.props("stemmer") == "snowball-en")
    // per-partition lineage present
    val commits = idx.store.readCommits()
    assert(commits.map(_.group).toSet == Set("seg-0", "seg-1", "termstats", "postings"))
    // the format version, in the properties and in every manifest
    val version = IndexBuilder.FormatVersion.toString
    assert(idx.props("formatVersion") == version)
    assert(commits.forall(_.metrics.get("formatVersion").contains(version)), commits)
  }
}
