package graft.query

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.index.IndexBuilder
import graft.util.SynthCorpus

/** RM3 pseudo-relevance feedback: the relevance-model math against a
  * hand-computed fixture, the α=1 degeneration law (pure query model ⇒
  * original ranking preserved), an expansion-recall construction where a
  * document sharing NO original query term enters the top-k only through
  * feedback terms, and weighted-search parity with the text path.
  */
class Rm3Spec extends SparkTestBase {

  import org.apache.spark.sql.DataFrame

  private def resultsByQid(df: DataFrame): Map[String, Seq[(String, Double)]] =
    df.collect()
      .groupBy(_.getString(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq
      }

  // ---- expandWeights math vs hand computation ---------------------------

  test("expandWeights reproduces the hand-computed relevance model") {
    import spark.implicits._
    // fb: d1 score 2, d2 score 1 (ssum 3); d1 = {apple×2, banana×1} |d1|=3,
    // d2 = {banana×2, cherry×2} |d2|=4; query = {apple} (qsum 1)
    val fb = Seq(("q1", "d1", 2.0), ("q1", "d2", 1.0)).toDF("qid", "doc_id", "score")
    val docTf = Seq(("d1", "apple", 2L), ("d1", "banana", 1L),
      ("d2", "banana", 2L), ("d2", "cherry", 2L)).toDF("doc_id", "term", "tf")
    val dl = Seq(("d1", 3L), ("d2", 4L)).toDF("doc_id", "dl")
    val qtf = Seq(("q1", "apple", 1L)).toDF("qid", "term", "qtf")

    // rm1: apple (2/3)(2/3)=4/9; banana (1/3)(2/3)+(2/4)(1/3)=7/18;
    // cherry (2/4)(1/3)=1/6 — fbTerms=2 keeps apple, banana.
    // α=0.5: apple 0.5·1 + 0.5·4/9 = 13/18; banana 0.5·7/18 = 7/36
    val w = Rm3.expandWeights(fb, docTf, dl, qtf, fbTerms = 2, alpha = 0.5)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toMap
    assert(w.keySet == Set("apple", "banana"), s"terms: ${w.keySet}")
    assert(math.abs(w("apple") - 13.0 / 18.0) < 1e-12, s"apple ${w("apple")}")
    assert(math.abs(w("banana") - 7.0 / 36.0) < 1e-12, s"banana ${w("banana")}")
  }

  // ---- engine path over a built index ------------------------------------

  private lazy val corpus = SynthCorpus.gen(8, 25) // 200 docs
  private lazy val corpusDf = {
    import spark.implicits._
    spark.createDataset(corpus).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
  }
  private lazy val indexDir = {
    val dir = tmpDir("graft-rm3idx")
    IndexBuilder.build(spark, corpusDf, dir,
      IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 8))
    dir
  }
  private lazy val queriesDf = {
    import spark.implicits._
    SynthCorpus.queries.toDF("qid", "query")
  }

  test("alpha=1 (pure query model) preserves the unexpanded ranking") {
    val idx = new BM25Index(spark, indexDir)
    val base = resultsByQid(QueryEngine.searchWand(idx, queriesDf, 10))
    val rm3 = resultsByQid( // via the facade — same code path as Rm3.searchIndexed
      graft.Graft.searchRm3(idx, queriesDf, 10, fbDocs = 5, fbTerms = 8,
        alpha = 1.0))
    assert(rm3.keySet == base.keySet)
    for (qid <- base.keySet) {
      assert(rm3(qid).map(_._1) == base(qid).map(_._1),
        s"$qid doc order: ${rm3(qid)} vs ${base(qid)}")
      // scores scale by exactly 1/Σqtf per query — ratios must agree
      val ratios = rm3(qid).map(_._2).zip(base(qid).map(_._2)).map(t => t._1 / t._2)
      assert(ratios.forall(r => math.abs(r - ratios.head) < 1e-9),
        s"$qid non-uniform scale: $ratios")
    }
  }

  test("feedback terms retrieve a doc sharing no original query term") {
    import spark.implicits._
    // d1 is the only alpha-match; its mass sits on betafeature, which d2 is
    // all about; fillers keep df stats honest
    val docs = Seq(
      ("d1", "alphakey betafeature betafeature betafeature"),
      ("d2", "betafeature betafeature betafeature gammaload"),
      ("d3", "deltapath epsilonmode zetaflag etaflag"),
      ("d4", "thetaknob iotaknob kappamode lambdapath"),
      ("d5", "gammaload deltapath epsilonmode zetaflag")).toDF("docId", "content")
    val dir = tmpDir("graft-rm3fb")
    IndexBuilder.build(spark, docs, dir,
      IndexBuilder.Config(numSegmentGroups = 1, numBuckets = 2))
    val idx = new BM25Index(spark, dir)
    val q = Seq(("q1", "alphakey")).toDF("qid", "query")

    val base = resultsByQid(QueryEngine.searchWand(idx, q, 5))
    assert(base("q1").map(_._1) == Seq("d1"), s"pass-1: ${base("q1")}")

    val rm3 = resultsByQid(
      Rm3.searchIndexed(idx, q, 5, fbDocs = 1, fbTerms = 2, alpha = 0.5))
    val got = rm3("q1").map(_._1)
    assert(got.contains("d2"), s"expansion did not recall d2: $got")
    assert(got.head == "d1", s"original match must stay on top: $got")
  }

  test("stored doc vectors reproduce the retokenize relevance model exactly") {
    val idx = new BM25Index(spark, indexDir)
    assert(idx.hasDocVectors)
    val stored = resultsByQid(
      Rm3.searchIndexed(idx, queriesDf, 10, fbDocs = 5, fbTerms = 8, alpha = 0.5))
    val retok = resultsByQid(
      Rm3.searchIndexedRetokenize(idx, corpusDf, queriesDf, 10,
        fbDocs = 5, fbTerms = 8, alpha = 0.5))
    assert(stored.keySet == retok.keySet)
    for (qid <- retok.keySet) {
      assert(stored(qid).map(_._1) == retok(qid).map(_._1), s"$qid docs differ")
      stored(qid).zip(retok(qid)).foreach { case ((d, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"$qid $d: $gs vs $ws")
      }
    }
  }

  test("docvec fetch is pruned: salt partition filter + docIntId pushdown, no corpus scan") {
    import spark.implicits._
    val idx = new BM25Index(spark, indexDir)
    val fbIds = corpusDf.select(col("docId")).limit(7)
    val (docTf, _) = Rm3.feedbackVectors(idx, fbIds)
    val plan = docTf.queryExecution.executedPlan.toString
    // partition pruning on the salt dirs reached the scan
    assert(plan.contains("PartitionFilters") && plan.contains("salt"),
      s"no salt partition filter in:\n$plan")
    // the docIntId In-filter is pushed to the parquet row-group stats
    assert(plan.contains("PushedFilters: [In(docIntId"),
      s"docIntId filter not pushed in:\n$plan")
    // nothing in the fetch reads the corpus (only index tables appear)
    assert(!plan.contains("graft-rm3idx-corpus") && !plan.contains("content"),
      s"corpus scan leaked into the docvec fetch:\n$plan")
  }

  test("a docIntId stored in two docvecs rows fails the vector fetch loudly") {
    val dir = tmpDir("graft-rm3-dupvec")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(indexDir), new java.io.File(dir))
    val first = new BM25Index(spark, dir).docvecs.orderBy("docIntId").limit(1)
    val Array((id, g, salt)) = first.select("docIntId", "g", "salt").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // a second copy of its row, as a file beside its (group, salt) file
    val staged = s"${tmpDir("graft-rm3-dupvec-row")}/row"
    first.drop("g", "salt").coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles.filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "docvecs", s"g=$g", s"salt=$salt", "part-dup.parquet"))
    val e = intercept[IllegalStateException](
      Rm3.fetchVectors(new BM25Index(spark, dir), Array(id)))
    assert(e.getMessage.contains(s"docIntId $id has more than one row in $dir/docvecs"),
      e.getMessage)
  }

  test("over-bound docvec-fetch fallbacks (semi-join, broadcast In) stay exact") {
    val idx = new BM25Index(spark, indexDir)
    val want = resultsByQid(
      Rm3.searchIndexed(idx, queriesDf, 10, fbDocs = 5, fbTerms = 8, alpha = 0.5))
    // force the collect bound (driver-heap guard, Rm3.maxPrunedFeedbackDocs)
    // and the In-literal bound (Rm3.maxInIds) in turn — both fallbacks must
    // reproduce the pruned path bit for bit
    for (conf <- Seq("spark.graft.rm3MaxPrunedFeedbackDocs",
                     "spark.graft.docvecMaxInIds")) {
      spark.conf.set(conf, "1")
      try {
        val got = resultsByQid(
          Rm3.searchIndexed(idx, queriesDf, 10, fbDocs = 5, fbTerms = 8, alpha = 0.5))
        assert(got.keySet == want.keySet, s"fallback via $conf: qid set")
        for (qid <- want.keySet) {
          assert(got(qid).map(_._1) == want(qid).map(_._1),
            s"fallback via $conf: $qid doc order")
          // the fallback changes partitioning, hence double-summation order
          // in the relevance model — scores agree to FP-reassociation noise
          got(qid).zip(want(qid)).foreach { case ((d, gs), (_, ws)) =>
            assert(math.abs(gs - ws) < 1e-9, s"$conf $qid $d: $gs vs $ws")
          }
        }
      } finally spark.conf.unset(conf)
    }
  }

  test("searchWandWeighted with integer qtf weights matches the text path") {
    val idx = new BM25Index(spark, indexDir)
    val weighted = queriesDf
      .select(col("qid"),
        explode(graft.tokenize.Tokenizer.tokens(col("query"),
          idx.tokenPattern, idx.stem)).as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).cast("double").as("qtf"))
    val got = resultsByQid(QueryEngine.searchWandWeighted(idx, weighted, 10))
    val want = resultsByQid(QueryEngine.searchWand(idx, queriesDf, 10))
    assert(got.keySet == want.keySet)
    for (qid <- want.keySet) {
      assert(got(qid).map(_._1) == want(qid).map(_._1), s"$qid docs differ")
      got(qid).zip(want(qid)).foreach { case ((d, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"$qid $d: $gs vs $ws")
      }
    }
  }

  test("zero/negative-score feedback carries no relevance mass (no NaN weights)") {
    import spark.implicits._
    // all-zero feedback would be 0/0 without the guard; the negative row
    // (robertson idf regime) must be ignored rather than flip ssum's sign
    val fb = Seq(("q1", "d1", 0.0), ("q1", "d2", -1.5)).toDF("qid", "doc_id", "score")
    val docTf = Seq(("d1", "apple", 2L), ("d2", "pear", 1L)).toDF("doc_id", "term", "tf")
    val dl = Seq(("d1", 2L), ("d2", 1L)).toDF("doc_id", "dl")
    val qtf = Seq(("q1", "apple", 1L)).toDF("qid", "term", "qtf")
    val w = Rm3.expandWeights(fb, docTf, dl, qtf, fbTerms = 4, alpha = 0.5)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toMap
    // only the query model survives: apple = α·1; nothing NaN, no pear
    assert(w == Map("apple" -> 0.5), s"weights: $w")
  }

  test("negative term weights are rejected before the kernels") {
    import spark.implicits._
    val idx = new BM25Index(spark, indexDir)
    val bad = Seq(("q1", "merge", 1.0), ("q1", "join", -2.0))
      .toDF("qid", "term", "qtf")
    val e = intercept[IllegalArgumentException] {
      QueryEngine.searchWandWeighted(idx, bad, 5).collect()
    }
    assert(e.getMessage.contains("non-negative"), e.getMessage)
  }

  test("weighted over-chunk path matches the single-collect path") {
    val idx = new BM25Index(spark, indexDir)
    val weighted = queriesDf
      .select(col("qid"),
        explode(graft.tokenize.Tokenizer.tokens(col("query"),
          idx.tokenPattern, idx.stem)).as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).cast("double").as("qtf"))
    val want = resultsByQid(QueryEngine.searchWandWeighted(idx, weighted, 10))
    spark.conf.set("spark.graft.wandQueryChunkRows", "2") // force chunking
    try {
      val got = resultsByQid(QueryEngine.searchWandWeighted(idx, weighted, 10))
      assert(got == want, s"chunked != single-collect:\n$got\nvs\n$want")
    } finally spark.conf.unset("spark.graft.wandQueryChunkRows")
  }

  // ---- driver-local RM3: scalar twin, chunking, job count -----------------

  private def scalarWeights(qtf: Map[String, Array[(String, Double)]],
                            fb: Map[String, Array[(Long, Double)]],
                            vectors: Map[Long, (Array[String], Array[Long])],
                            fbTerms: Int, alpha: Double): Map[String, Map[String, Double]] =
    qtf.map { case (qid, qt) =>
      qid -> Rm3.expandScalar(qt, fb.getOrElse(qid, Array.empty), vectors,
        fbTerms, alpha).toMap
    }.filter(_._2.nonEmpty)

  private def planWeights(df: DataFrame): Map[String, Map[String, Double]] =
    df.collect().groupBy(_.getString(0)).map { case (qid, rs) =>
      qid -> rs.map(r => r.getString(1) -> r.getDouble(2)).toMap
    }

  private def assertSameWeights(got: Map[String, Map[String, Double]],
                                want: Map[String, Map[String, Double]],
                                what: String): Unit = {
    assert(got.keySet == want.keySet, s"$what: qids ${got.keySet} vs ${want.keySet}")
    for (qid <- want.keySet) {
      assert(got(qid).keySet == want(qid).keySet,
        s"$what $qid terms: ${got(qid).keySet} vs ${want(qid).keySet}")
      for ((t, w) <- want(qid))
        assert(math.abs(got(qid)(t) - w) <= 1e-12, s"$what $qid $t: ${got(qid)(t)} vs $w")
    }
  }

  test("driver expansion equals expandWeights on hand-built feedback") {
    import spark.implicits._
    // q1: the hand-computed model above. q2: kiwi and lime tie on rm1 (the
    // fbTerms = 1 cut keeps kiwi, term asc); the 0-score and negative-score
    // feedback docs carry no mass. q3: only non-positive feedback.
    val vectors = Map(
      1L -> (Array("apple", "banana"), Array(2L, 1L)),
      2L -> (Array("banana", "cherry"), Array(2L, 2L)),
      3L -> (Array("lime", "kiwi"), Array(1L, 1L)),
      4L -> (Array("pear"), Array(3L)),
      5L -> (Array("plum", "kiwi"), Array(1L, 4L)))
    val fb = Map(
      "q1" -> Array((1L, 2.0), (2L, 1.0)),
      "q2" -> Array((3L, 1.5), (4L, 0.0), (5L, -0.5)),
      "q3" -> Array((4L, 0.0), (5L, -2.0)))
    val qtf = Map(
      "q1" -> Array(("apple", 1.0)),
      "q2" -> Array(("kiwi", 2.0), ("fig", 1.0)),
      "q3" -> Array(("plum", 1.0)))
    val fbDf = fb.toSeq.flatMap { case (q, hs) => hs.map { case (d, sc) => (q, s"d$d", sc) } }
      .toDF("qid", "doc_id", "score")
    val docTf = vectors.toSeq.flatMap { case (d, (ts, tfs)) =>
      ts.zip(tfs).map { case (t, tf) => (s"d$d", t, tf) } }.toDF("doc_id", "term", "tf")
    val dl = vectors.toSeq.map { case (d, (_, tfs)) => (s"d$d", tfs.sum) }.toDF("doc_id", "dl")
    val qtfDf = qtf.toSeq.flatMap { case (q, ts) => ts.map { case (t, c) => (q, t, c.toLong) } }
      .toDF("qid", "term", "qtf")
    for (fbTerms <- Seq(1, 2); alpha <- Seq(0.0, 0.5, 1.0)) {
      val want = planWeights(Rm3.expandWeights(fbDf, docTf, dl, qtfDf, fbTerms, alpha))
      assertSameWeights(scalarWeights(qtf, fb, vectors, fbTerms, alpha), want,
        s"fbTerms=$fbTerms alpha=$alpha")
    }
    val q2 = scalarWeights(qtf, fb, vectors, fbTerms = 1, alpha = 0.0)("q2")
    assert(q2.keySet == Set("kiwi"), s"rm1 tie cut: $q2")
  }

  test("driver expansion equals expandWeights on the index's real feedback") {
    val idx = new BM25Index(spark, indexDir)
    val fb = QueryEngine.searchWand(idx, queriesDf, 5)
      .join(idx.docs.select("docId", "docIntId"), "docId")
      .select(col("qid"), col("docId"), col("docIntId"), col("score"))
      .persist()
    try {
      val (docTf, dl) = Rm3.feedbackVectors(idx, fb.select("docId"))
      val qtfDf = queriesDf.select(col("qid"),
        explode(graft.tokenize.Tokenizer.tokens(col("query"),
          idx.tokenPattern, idx.stem)).as("term"))
        .groupBy("qid", "term").agg(count(lit(1)).as("qtf"))
      val fbRows = fb.collect()
      val fbByQid = fbRows.groupBy(_.getString(0)).map { case (q, rs) =>
        q -> rs.map(r => (r.getLong(2), r.getDouble(3))) }
      val vectors = Rm3.fetchVectors(idx, fbRows.map(_.getLong(2)).distinct)
      val qtf = qtfDf.collect().groupBy(_.getString(0)).map { case (q, rs) =>
        q -> rs.map(r => (r.getString(1), r.getLong(2).toDouble)) }
      assert(fbByQid.size >= 3, s"too little feedback: ${fbByQid.keySet}")
      // dl = Σtf of the fetched vector is the docs table's len
      val lens = dl.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      fbRows.foreach { r =>
        assert(vectors(r.getLong(2))._2.sum == lens(r.getString(1)), r.getString(1))
      }
      for (alpha <- Seq(0.0, 0.5, 1.0)) {
        val want = planWeights(Rm3.expandWeights(
          fb.select("qid", "docId", "score"), docTf, dl, qtfDf,
          fbTerms = 8, alpha = alpha, docCol = "docId"))
        assertSameWeights(scalarWeights(qtf, fbByQid, vectors, 8, alpha), want,
          s"alpha=$alpha")
      }
    } finally fb.unpersist()
  }

  test("chunked and over-bound-filter RM3 routes give the single-chunk result") {
    val idx = new BM25Index(spark, indexDir)
    val pred = Some(pmod(xxhash64(col("docId")), lit(2)) === 0)
    // 10 feedback docs per chunk at fbDocs = 5 is two queries per chunk;
    // a filter over the broadcast bound runs the declarative plan
    val legs = Seq(
      ("spark.graft.rm3MaxPrunedFeedbackDocs", "10", None),
      ("spark.graft.rm3MaxPrunedFeedbackDocs", "10", pred),
      ("spark.graft.filterMaxBroadcastDocs", "1", pred))
    for ((conf, value, flt) <- legs) {
      def run() = resultsByQid(Rm3.searchIndexed(idx, queriesDf, 10,
        fbDocs = 5, fbTerms = 8, alpha = 0.5, docFilter = flt))
      val want = run()
      assert(want.size >= 3, s"too few results: ${want.keySet}")
      spark.conf.set(conf, value)
      try {
        if (flt.isEmpty) assert(Rm3.chunkQueries(spark, 5) == 2)
        val got = run()
        val leg = s"$conf=$value filter=${flt.isDefined}"
        assert(got.keySet == want.keySet, s"$leg: qids")
        for (qid <- want.keySet) {
          assert(got(qid).map(_._1) == want(qid).map(_._1), s"$leg $qid docs")
          got(qid).zip(want(qid)).foreach { case ((d, gs), (_, ws)) =>
            assert(math.abs(gs - ws) < 1e-9, s"$leg $qid $d: $gs vs $ws")
          }
        }
      } finally spark.conf.unset(conf)
    }
  }

  test("one RM3 call runs at most half the jobs of the distributed expansion plan") {
    val idx = new BM25Index(spark, indexDir)
    def call() = Rm3.searchIndexed(idx, queriesDf, 10, fbDocs = 5, fbTerms = 8,
      alpha = 0.5).collect()
    call() // first use opens the index tables and builds the docId dictionary
    val jobs = jobsIn(call())
    // the distributed plan (pass 1 → feedbackVectors → expandWeights →
    // weighted pass 2, index tables re-opened per use) ran 33 jobs here
    assert(jobs <= 33 / 2, s"$jobs jobs")
    // pass 1 collects the kernel's lists and selects each query's top k on
    // the driver, so its collect runs no exchange; pass 2 resolves docIds
    // from the handle's dictionary; neither kernel call runs a job for its
    // query groups: 6 jobs measured here (8 with a `range(G)` cross join,
    // 9 with the docs join)
    assert(jobs <= 6, s"$jobs jobs")
  }

  test("composed driver entry: rows, schema, and OOV/stopword behavior") {
    val df = graft.entry.DriverQueries.bm25TopkRm3(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(df.columns.toSeq == Seq("qid", "doc_id", "score", "rank"))
    assert(rows.nonEmpty)
    val byQid = rows.groupBy(_.getString(0))
    // OOV query q07 has no feedback docs and no indexed terms: absent
    assert(!byQid.contains("q07"), s"q07 rows: ${byQid.get("q07")}")
    // every present query respects k and rank contiguity
    byQid.foreach { case (qid, rs) =>
      val ranks = rs.map(_.getInt(3)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"$qid ranks: $ranks")
      assert(ranks.size <= 10, s"$qid exceeded k")
    }
    spark.catalog.clearCache() // entry persists are test-scoped
  }
}
