package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.tokenize.Tokenizer

class DedupSpec extends SparkTestBase {
  import org.apache.spark.sql.DataFrame

  private lazy val docs: DataFrame = {
    import spark.implicits._
    // 0/1 identical; 2 near-dup of 0 (one token changed); 3-5 distinct
    Seq(
      (0L, "binary search tree node insert delete balance rotate left right"),
      (1L, "binary search tree node insert delete balance rotate left right"),
      (2L, "binary search tree node insert delete balance rotate left center"),
      (3L, "hash map bucket collision probe chain resize load factor table"),
      (4L, "stream window watermark state event time processing trigger sink"),
      (5L, "short doc")).toDF("id", "text")
  }
  private def toks = Tokenizer.splitTokens(col("text"), Tokenizer.AsciiTokenPattern)

  test("exact dedup groups identical docs") {
    val r = Dedup.exact(docs, "id", "text").collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getBoolean(3))).toMap
    assert(r(0L) == (2L, true))
    assert(r(1L) == (2L, false))
    assert(r(3L) == (1L, true))
  }

  test("ngram jaccard finds near-dups, exact values") {
    val pairs = Dedup.ngramJaccard(docs, toks, "id", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical docs: jaccard 1.0
    assert(pairs((0L, 1L)) == 1.0)
    // 10-token docs, 8 shingles each; the changed 10th token appears only
    // in the final shingle: inter=7, union=9 -> 7/9
    assert(math.abs(pairs((0L, 2L)) - 7.0 / 9.0) < 1e-6)
    assert(math.abs(pairs((1L, 2L)) - 7.0 / 9.0) < 1e-6)
    assert(!pairs.contains((3L, 4L)))
  }

  test("minhash+lsh catches high-jaccard pairs with sane estimates") {
    val est = Dedup.minhashLsh(docs, toks, "id", n = 3, m = 32, bands = 8,
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((0L, 1L)) == 1.0) // identical signatures
    assert(est.contains((0L, 2L)) && math.abs(est((0L, 2L)) - 7.0 / 9.0) < 0.3)
  }

  test("shingle df cap drops ubiquitous shingles from blocking AND sizes") {
    // cap=2: the 7 shingles shared by docs 0/1/2 (df=3) drop; each doc's
    // final shingle (df=2 for 0/1, df=1 for 2) survives -> (0,1) compare
    // on 1 shingle each (jaccard 1.0), (0,2) share nothing kept
    val pairs = Dedup.ngramJaccard(docs, toks, "id", n = 3, threshold = 0.3,
      maxShingleDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(!pairs.contains((0L, 2L)))
  }

  test("connected components match union-find on random graphs (seed 42)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(30)
      val edges = Seq.fill(20 + rnd.nextInt(30))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // scalar union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> {
          // min id in the component = repeatedly find
          val root = find(id.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).distinct
            .filter(x => find(x.toInt) == root).min
        }).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("clusters: full-table assignment with survivors; chains converge") {
    import spark.implicits._
    // a 6-node path 0-1-2-3-4-5 (diameter 5) + isolated docs 10, 11
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val table = (Seq(0L, 1L, 2L, 3L, 4L, 5L, 10L, 11L)).map(i => (i, s"d$i"))
      .toDF("id", "text")
    val r = Dedup.clusters(table, "id", pairs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    (0L to 5L).foreach(i => assert(r(i) == (0L, i == 0L), s"node $i: ${r(i)}"))
    assert(r(10L) == (10L, true) && r(11L) == (11L, true))
  }

  test("connectedComponents: one job per round (convergence observed in-job)") {
    import spark.implicits._
    // single edge -> exactly 2 rounds (one change round + one confirm).
    // Expected jobs with AQE off and broadcast joins off (each broadcast
    // exchange is otherwise its own job): init-label checkpoint (1) + one
    // label job per round (2) + the final count (1) = 4. The pre-fix
    // shape ran a second join+count probe job per round — gate it out.
    val edges = Seq((1L, 2L)).toDF("id_a", "id_b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.ccLocalMaxEdges", "0") // distributed path
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = Dedup.connectedComponents(edges)
      assert(got.count() == 2)
      // listener events are async: wait for the count to settle
      var prev = -1
      while (prev != jobs.get()) { prev = jobs.get(); Thread.sleep(300) }
      assert(jobs.get() <= 4, s"${jobs.get()} jobs for a 2-round CC " +
        "(expected 4: init + 1/round + final count — is the convergence " +
        "probe running as its own job again?)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.ccLocalMaxEdges")
    }
  }

  test("connectedComponents: bounded local union-find matches the distributed loop") {
    import spark.implicits._
    // chain + triangle + isolated pair + cross-links; unsorted input order
    val edges = Seq((7L, 3L), (3L, 9L), (9L, 1L), (12L, 14L), (14L, 13L),
      (20L, 21L), (5L, 7L), (2L, 2L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(edges) // default: fast path
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.ccLocalMaxEdges", "0")
    try {
      val dist = Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"local $local != distributed $dist")
      assert(local(1L) == 1L && local(5L) == 1L && local(9L) == 1L)
      assert(local(13L) == 12L && local(21L) == 20L && local(2L) == 2L)
    } finally spark.conf.unset("spark.graft.ccLocalMaxEdges")
  }

  test("connectedComponents: over-bound edge sets fall back to the distributed loop") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.ccLocalMaxEdges", "2") // 3 edges > bound
    try {
      val got = Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L))
    } finally spark.conf.unset("spark.graft.ccLocalMaxEdges")
  }

  test("connectedComponents: over-bound fallback computes the pair input once") {
    // the fast-path probe finds too many edges, then the distributed loop
    // reads the same pairs for both directions of its edge union: each
    // upstream pair row must still be produced exactly once
    val produced = spark.sparkContext.longAccumulator("cc-pairs-produced")
    val pairRow = udf { (id: Long) => produced.add(1); id }.asNondeterministic()
    val edges = spark.range(0, 6, 1, 2)
      .select(pairRow(col("id")).as("id_a"), (col("id") + 1).as("id_b"))
    spark.conf.set("spark.graft.ccLocalMaxEdges", "2") // 6 edges > bound
    try {
      val got = Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (0L to 6L).map(_ -> 0L).toMap)
      assert(produced.value == 6L,
        s"${produced.value} pair rows produced for 6 upstream rows")
    } finally spark.conf.unset("spark.graft.ccLocalMaxEdges")
  }

  test("connectedComponents: reliable checkpoint dir (cluster durability)") {
    import spark.implicits._
    val ckpt = tmpDir("graft-cc-ckpt")
    spark.conf.set("spark.graft.ccCheckpointDir", ckpt)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.ccLocalMaxEdges", "0") // distributed path
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // 0-1-2 chain: label(2) takes two rounds to reach 0, +1 confirm round
      val got = Dedup.connectedComponents(
          Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L))
      // rounds landed under the reliable dir, and superseded rounds were
      // deleted as the loop advanced: exactly ONE round dir (the final
      // labels the returned frame reads) survives the call
      val roundDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("round-"))
        .count()
      assert(roundDirs == 1,
        s"$roundDirs round dirs under $ckpt — per-round cleanup broken")
      // one write job per round — the reliable path must not double-compute
      // the round plan the way checkpoint()-without-persist would. 3 label
      // rounds + init write + final collect = 5 jobs.
      var prev = -1
      while (prev != jobs.get()) { prev = jobs.get(); Thread.sleep(300) }
      assert(jobs.get() <= 5, s"${jobs.get()} jobs for a 3-round reliable " +
        "CC (expected 5: init + 1 write/round + final collect)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.graft.ccCheckpointDir")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.ccLocalMaxEdges")
    }
  }

  test("minhash LSH detection tracks banding theory on mutated pairs (seed 42)") {
    // r7 detection-rate law (graft.tools.NearDupRecall is the full sweep):
    // (base, mutant) pairs with exact shingle Jaccard computed by an
    // independent scalar path; LSH at n=3/m=32/bands=8/threshold=0.5 must
    // (a) catch nearly all high-J pairs — banding theory 1-(1-J^4)^8 is
    // ~0.997 at J=0.85; (b) estimate J within signature-sampling error;
    // (c) report (almost) nothing for low-J pairs — theory ~1.3% at J=0.2,
    // and the est>=0.5 filter drops those candidates too.
    import graft.tools.NearDupRecall
    import spark.implicits._
    val nPairs = 150
    val bases = (0 until nPairs).map(i =>
      graft.util.SynthCorpus.docOf(i / 100, i % 100).content)
    def run(rate: Double): (Seq[Double], Map[Int, Double]) = {
      val rng = new scala.util.Random(42 * 1000 + (rate * 1000).toInt)
      val mutants = bases.map(t => NearDupRecall.mutate(t, rate, rng))
      val exact = bases.indices.map(i =>
        NearDupRecall.exactJaccard(bases(i), mutants(i)))
      val corpus = (bases.indices.map(i => (f"b$i%05d", bases(i))) ++
        bases.indices.map(i => (f"m$i%05d", mutants(i)))).toDF("doc_id", "text")
      val reported = Dedup.minhashLsh(corpus,
          Tokenizer.splitTokens(col("text"), Tokenizer.AsciiTokenPattern),
          "doc_id", n = 3, m = 32, bands = 8, threshold = 0.5)
        .where(substring(col("id_a"), 1, 1) === "b" &&
          substring(col("id_b"), 1, 1) === "m" &&
          substring(col("id_a"), 2, 5) === substring(col("id_b"), 2, 5))
        .select(substring(col("id_a"), 2, 5).cast("int"), col("est_jaccard"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      (exact, reported)
    }
    val (exactLo, repLo) = run(0.02) // mean exact J ~0.89
    val hi = exactLo.zipWithIndex.filter(_._1 >= 0.85)
    assert(hi.size > 50, s"fixture drifted: only ${hi.size} high-J pairs")
    val recall = hi.count { case (_, i) => repLo.contains(i) }.toDouble / hi.size
    assert(recall >= 0.9, f"high-J recall $recall%.3f < 0.9")
    val errs = repLo.toSeq.map { case (i, est) => math.abs(est - exactLo(i)) }
    assert(errs.nonEmpty, "fixture drifted: no reported pairs at rate 0.02")
    assert(errs.sum / errs.size <= 0.15,
      f"mean |est-exact| ${errs.sum / errs.size}%.3f > 0.15")
    val (exactHi, repHi) = run(0.4) // mean exact J ~0.11
    val lo = exactHi.zipWithIndex.filter(_._1 < 0.35)
    assert(lo.nonEmpty, "fixture drifted: no low-J pairs at rate 0.4")
    val falseAlarm = lo.count { case (_, i) => repHi.contains(i) }.toDouble / lo.size
    assert(falseAlarm <= 0.05, f"low-J false-alarm rate $falseAlarm%.3f > 0.05")
  }

  test("de-skewed plan shapes: no Window exec in exact dedup / ngram jaccard") {
    // scale gate: a Window.partitionBy(grp|sh) would place an entire
    // duplicate group / a ubiquitous shingle's full df on ONE task
    val pExact = Dedup.exact(docs, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!pExact.contains("Window"), s"Window exec in exact dedup:\n$pExact")
    val pJac = Dedup.ngramJaccard(docs, toks, "id", n = 3, threshold = 0.3,
      maxShingleDf = 100).queryExecution.executedPlan.toString
    assert(!pJac.contains("Window"), s"Window exec in ngram jaccard:\n$pJac")
  }

  test("simhash: identical docs at hamming 0, unrelated docs not near") {
    val r = Dedup.simhashNearDups(docs, toks, "id", maxDist = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap
    assert(r((0L, 1L)) == 0)
    assert(!r.contains((3L, 4L)))
  }

  test("embedding near-dups via LSH blocking + exact verify") {
    import spark.implicits._
    def v(seed: Int): Array[Float] = Array.tabulate(8)(d =>
      ((graft.util.SynthCorpus.mix(seed * 97L + d) >>> 11).toFloat / (1L << 53) - 0.5f))
    def jitter(a: Array[Float], eps: Float): Array[Float] =
      a.zipWithIndex.map { case (x, i) => x + eps * (i % 3 - 1) }
    val base = v(1)
    val vecs = Seq(
      (0L, base), (1L, jitter(base, 1e-4f)), (2L, v(2)), (3L, v(3)))
      .toDF("vec_id", "embedding")
    val r = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      dims = 8, threshold = 0.99, nBits = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.contains((0L, 1L)))
    assert(!r.exists(p => p._2 == 2L || p._2 == 3L && p._1 != 0L || p._1 == 2L))
  }

  test("autoBits sizing rule keeps expected bucket population bounded") {
    import graft.ops.Similarity.autoBits
    assert(autoBits(1000) == 1) // <= one target bucket still hashes somewhere
    assert(autoBits(16 * 1024) == 4)
    assert(autoBits(16 * 1024 + 1) == 5)
    assert(autoBits(1L << 40) == 30) // 10^12 docs -> ~2^30 buckets of ~1k
    // the invariant that matters at scale: expected population <= target
    for (n <- Seq(10_000L, 1_000_000L, 123_456_789L))
      assert(n.toDouble / (1L << autoBits(n)) <= 1024.0)
  }
}

class SimilaritySpec extends SparkTestBase {

  /** deterministic clustered vectors: 4 centers, 25 points each. */
  private def clustered(n: Int, dims: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val c = i % 4
      val vec = Array.tabulate(dims) { d =>
        val center = ((graft.util.SynthCorpus.mix(c * 131L + d) >>> 11).toDouble / (1L << 53) - 0.5)
        val noise = ((graft.util.SynthCorpus.mix(i * 7919L + d) >>> 11).toDouble / (1L << 53) - 0.5) * 0.1
        (center + noise).toFloat
      }
      (i.toLong, vec)
    }

  test("brute-force cosine matches scalar math") {
    import spark.implicits._
    val data = clustered(40, 16)
    val corpus = data.drop(4).toDF("id", "embedding")
    val queries = data.take(4).map { case (i, v) => (i, v) }.toDF("qid", "embedding")
    val got = Similarity.bruteForceTopK(corpus, queries, k = 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap

    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    for ((qid, qv) <- data.take(4)) {
      val expected = data.drop(4)
        .map { case (id, v) =>
          (id, BigDecimal(cos(qv, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (id, s) => (-s, id) }.take(3)
      assert(got(qid) == expected, s"query $qid")
    }
  }

  test("lsh top-k achieves high recall on clustered data") {
    import spark.implicits._
    val data = clustered(104, 16)
    val corpus = data.drop(4).toDF("id", "embedding")
    val queries = data.take(4).toDF("qid", "embedding")
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Similarity.lshTopK(corpus, queries, k = 10, dims = 16,
      nBits = 6, probes = 6).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.keys.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean lsh recall $mean too low")
  }

  test("ivf top-k: high recall on clustered data, no window, 1 row/vector shuffle") {
    import spark.implicits._
    val data = clustered(104, 16)
    val corpus = data.drop(4).toDF("id", "embedding")
    val queries = data.take(4).toDF("qid", "embedding")
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // 4 natural clusters; 8 sampled centroids, probe 3 — recall comes from
    // cells landing ON the data (unlike LSH's data-blind sign bits)
    val ivf = Similarity.ivfTopK(corpus, queries, k = 10,
      nCells = 8, nProbe = 3)
    val approx = ivf.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.keys.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean ivf recall $mean too low")
    // scale shape: bounded-heap finish, no windows; assignment's argmax is
    // an aggregate (1 row per vector crosses the shuffle, not ×nCells)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"Window exec in ivfTopK:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"no aggregate finish in ivfTopK:\n$plan")
  }

  test("persisted IVF index: save/load round-trip + cell partition pruning") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val data = clustered(104, 16)
    val corpus = data.drop(4).toDF("id", "embedding")
    val queries = data.take(4).toDF("qid", "embedding")
    val dir = tmpDir("graft-ivfidx")
    Similarity.ivfBuild(corpus, dir, nCells = 8)
    val idx = Similarity.ivfOpen(spark, dir) // reopen from disk
    assert(idx.nCells == 8 && idx.centroids.size == 8)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    val got = Similarity.ivfSearch(idx, queries, k = 10, nProbe = 3)
    val want = Similarity.ivfTopK(corpus, queries, k = 10, nCells = 8, nProbe = 3)
    assert(asMap(got) == asMap(want), "persisted search != in-memory ivfTopK")
    // the probed cids prune the stored cell PARTITIONS (no full-table scan)
    val plan = Similarity.ivfSearch(idx, queries, k = 10, nProbe = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"no cid partition pruning in:\n$plan")
    // a second build over the same dir is a no-op (properties unchanged)
    val before = new graft.store.IcebergLikeStore(dir).readProperties()
    Similarity.ivfBuild(corpus, dir, nCells = 8)
    assert(new graft.store.IcebergLikeStore(dir).readProperties() == before)
  }

  test("ivf recall-vs-nProbe sweep: monotone to 1.0 at full probe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val data = clustered(204, 16)
    val corpus = data.drop(4).toDF("id", "embedding")
    val queries = data.take(4).toDF("qid", "embedding")
    val dir = tmpDir("graft-ivfsweep")
    Similarity.ivfBuild(corpus, dir, nCells = 8)
    val idx = Similarity.ivfOpen(spark, dir)
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select(col("qid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(1, 2, 4, 8).map { nProbe =>
      val got = Similarity.ivfSearch(idx, queries, k = 10, nProbe = nProbe)
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      nProbe -> got.intersect(exact).size.toDouble / exact.size
    }
    // recall never degrades as probes widen, and probing EVERY cell is
    // exhaustive search — recall exactly 1.0 (sanity anchor of the sweep)
    recalls.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra - 1e-9, s"recall fell $pa->$pb: $recalls")
    }
    assert(recalls.last._2 == 1.0, s"full probe not exhaustive: $recalls")
    assert(recalls.head._2 > 0.3, s"nProbe=1 recall degenerate: $recalls")
  }

  test("ivf centroids are the md5-smallest ids (oracle-reproducible rule)") {
    import spark.implicits._
    val data = clustered(40, 8)
    val corpus = data.toDF("id", "embedding")
    val cents = Similarity.ivfCentroids(corpus, nCells = 4)
    assert(cents.map(_._1) == Seq(1L, 2L, 3L, 4L))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectedIds = data.map(_._1)
      .sortBy(id => (md5hex(id.toString), id))
      .take(4)
    val expectedVecs = expectedIds.map(id =>
      data.find(_._1 == id).get._2.map(_.toDouble).toSeq)
    assert(cents.map(_._2.toSeq) == expectedVecs)
  }

  test("lsh top-k finishes with the bounded-heap aggregate, not a window") {
    import spark.implicits._
    val data = clustered(24, 8)
    val corpus = data.drop(2).toDF("id", "embedding")
    val queries = data.take(2).toDF("qid", "embedding")
    val plan = Similarity.lshTopK(corpus, queries, k = 5, dims = 8, nBits = 4)
      .queryExecution.executedPlan.toString
    // a window row_number would shuffle EVERY candidate of a query to one
    // task; the heap aggregate caps the shuffle at k rows per partition
    assert(!plan.contains("Window"), s"Window exec in lshTopK:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"no aggregate finish in lshTopK:\n$plan")
  }
}

class TextAnalysisSpec extends SparkTestBase {

  test("kgram rolling hash matches BigInt reference") {
    val s = "the quick brown fox jumps over the lazy dog"
    val k = 8
    val got = TextAnalysis.kgramHashes(s, k)
    val M = BigInt(TextAnalysis.RollM)
    val B = BigInt(TextAnalysis.RollB)
    val cps = s.codePoints().toArray
    val expected = (0 to cps.length - k).map { i =>
      (0 until k).foldLeft(BigInt(0))((acc, j) => (acc * B + cps(i + j)) mod M).toLong
    }
    assert(got.toSeq == expected)
  }

  test("winnow: fingerprints are kgram hashes; identical docs share all") {
    val s = "binary search tree rotations keep the invariant balanced"
    val fp = TextAnalysis.winnow(s, k = 8, w = 4)
    assert(fp.nonEmpty)
    assert(fp.toSet.subsetOf(TextAnalysis.kgramHashes(s, 8).toSet))
    assert(TextAnalysis.winnow(s, 8, 4).toSeq == fp.toSeq) // deterministic
    // shared long substring ⇒ shared fingerprints
    val t = "xx " + s.substring(3) + " yy"
    assert(TextAnalysis.winnow(t, 8, 4).toSet.intersect(fp.toSet).nonEmpty)
  }

  test("quality + langid columns behave on fixtures") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog, with a ball!"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, ""),
      (4L, "!!! ??? ...")).toDF("doc_id", "text")
    val q = TextAnalysis.quality(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(3L).getLong(1) == 0L) // n_chars
    assert(q(3L).getDouble(7) == 0.0) // quality_score
    assert(q(4L).getDouble(4) == 0.0) // stopword_ratio (no alpha tokens)
    assert(q(1L).getDouble(4) > 0.4) // many stopwords
    val l = df.select(col("doc_id"),
      TextAnalysis.langIdCol(
        Tokenizer.splitTokens(col("text"), Tokenizer.AsciiTokenPattern)).as("l"))
      .select(col("doc_id"), col("l.lang_pred")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(l(1L) == "en")
    assert(l(2L) == "de")
    assert(l(3L) == "en") // default
  }
}

class MultimodalSpec extends SparkTestBase {

  test("media table + batched stub decode: deterministic, typed, complete") {
    import spark.implicits._
    val docs = Seq((0L, "alpha beta gamma"), (1L, "delta"), (2L, "epsilon zeta"))
      .toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    assert(media.select("kind").distinct().collect().map(_.getString(0)).toSet ==
      Set("image", "audio", "video"))
    val d1 = Multimodal.decodeBatch(media).collect().sortBy(_.getLong(0))
    val d2 = Multimodal.decodeBatch(media.repartition(3)).collect().sortBy(_.getLong(0))
    assert(d1.toSeq == d2.toSeq) // partitioning must not change results
    assert(d1.length == 3)
    assert(d1.forall(_.getSeq[Float](5).size == 8))
  }

  test("frame sampling shapes") {
    import spark.implicits._
    val docs = Seq((2L, "x" * 300)).toDF("doc_id", "text") // doc_id%3==2 -> video
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, stride = 2)
      .collect().map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
    // 300 bytes -> chunks 0..4 (sizes 64,64,64,64,44); stride 2 keeps 0,2,4
    assert(frames.toSeq == Seq((0, 64), (2, 64), (4, 44)))
  }
}

class TrecEvalSpec extends SparkTestBase {

  test("hand-computed ndcg/map/recall/p fixture") {
    import spark.implicits._
    val results = Seq(
      ("q1", "d1", 5.0), ("q1", "dx", 4.0), ("q1", "d2", 3.0),
      ("q1", "d4", 2.0), ("q1", "d3", 1.0)).toDF("qid", "docId", "score")
    val qrels = Seq(("q1", "d1", 2), ("q1", "d2", 1), ("q1", "d3", 1))
      .toDF("qid", "docId", "grade")
    val m = graft.eval.TrecEval.evaluate(results, qrels, Seq(1, 3), roundTo = 6)
      .collect().map(r => r.getInt(0) -> r).toMap
    // @1: dcg=3, idcg=3 -> ndcg=1; ap=(1/1)/3; recall=1/3; p=1
    assert(m(1).getDouble(1) == 1.0)
    assert(math.abs(m(1).getDouble(2) - 1.0 / 3) < 1e-6)
    assert(math.abs(m(1).getDouble(3) - 1.0 / 3) < 1e-6)
    assert(m(1).getDouble(4) == 1.0)
    // @3: dcg=3 + 1/log2(4)=3.5; idcg=3 + 1/log2(3) + 1/log2(4)
    val idcg3 = 3.0 + 1.0 / (math.log(3) / math.log(2)) + 0.5
    assert(math.abs(m(3).getDouble(1) - 3.5 / idcg3) < 1e-5)
    // ap@3 = (1 + 2/3)/3
    assert(math.abs(m(3).getDouble(2) - (1.0 + 2.0 / 3) / 3) < 1e-5)
    assert(math.abs(m(3).getDouble(3) - 2.0 / 3) < 1e-5)
    assert(math.abs(m(3).getDouble(4) - 2.0 / 3) < 1e-5)
  }

  test("xxh64-family kernels agree with the interpreted TwinChecks twins") {
    import graft.ops.TwinChecks
    // the twin cross-checks lived in the driver entries while those had no
    // SQL oracle; the entries now run the md5 family (DuckDB-checked), so
    // the fast default family keeps its independent-twin coverage here
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    val tokFn = graft.tokenize.Tokenizer.splitTokens(
      col("text"), graft.tokenize.Tokenizer.AsciiTokenPattern)
    // minhash + simhash twins, row by row
    d.select(col("doc_id"), tokFn.as("toks"))
      .select(col("doc_id"), col("toks"),
        Dedup.minhashSignature(Dedup.shingles(col("toks"), 3), 32).as("sig"),
        Dedup.simhash(col("toks")).as("sh"))
      .collect().foreach { r =>
        val toks = r.getSeq[String](1)
        assert(r.getSeq[Long](2) ==
          TwinChecks.minhashSig(TwinChecks.shingles(toks, 3), 32),
          s"minhash twin mismatch for doc ${r.getLong(0)}")
        assert(r.getLong(3) == TwinChecks.simhash(toks),
          s"simhash twin mismatch for doc ${r.getLong(0)}")
      }
    // rolling-hash winnow vs the Horner-rule twin
    graft.ops.TextAnalysis.fingerprints(d, "doc_id", "text")
      .join(d.select(col("doc_id").as("id"), col("text")), "id")
      .collect().foreach { r =>
        assert(r.getSeq[Long](1) ==
          TwinChecks.winnowNaive(r.getString(2).toLowerCase, 8, 4),
          s"winnow twin mismatch for doc ${r.getLong(0)}")
      }
  }

  test("md5-family signatures match a scalar JVM recomputation") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Seq(
      (0L, "key agg row scan slow fast table value part hash"),
      (1L, "key agg row scan slow fast table value part hash"),
      (2L, "key agg row scan slow fast table value part join"),
      (3L, "totally unrelated words about streams and windows here"))
      .toDF("id", "text")
    val toks = graft.tokenize.Tokenizer.splitTokens(
      col("text"), graft.tokenize.Tokenizer.AsciiTokenPattern)

    // simhashMd5: per-bit ±1 votes of the big-endian first-16-hex value
    val got = Dedup.simhashMd5(d, toks, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def scalarSimhash(words: Seq[String]): Long = {
      val us = words.map(w => java.lang.Long.parseUnsignedLong(
        md5hex(w).substring(0, 16), 16))
      (0 until 64).foldLeft(0L) { (acc, b) =>
        val vote = us.map(u => if (((u >>> b) & 1L) == 1L) 1 else -1).sum
        if (vote > 0) acc | (1L << b) else acc
      }
    }
    d.select(col("id"), toks.as("t")).collect().foreach { r =>
      assert(got(r.getLong(0)) == scalarSimhash(r.getSeq[String](1)),
        s"simhashMd5 mismatch for ${r.getLong(0)}")
    }

    // minhashLshMd5: identical docs pair at est 1.0; near-identical pair
    // found with high estimate; unrelated doc pairs with nothing
    val est = Dedup.minhashLshMd5(d, toks, "id", n = 3, m = 32, bands = 8,
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((0L, 1L)) == 1.0, s"est: $est")
    assert(est.contains((0L, 2L)) && est((0L, 2L)) > 0.3)
    assert(!est.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // the (0,2) estimate equals the scalar signature agreement: recompute
    // both docs' full signatures (min md5("j:"+shingle) per seed) in plain
    // Scala and compare component-wise agreement / 32
    val shingleSets = d.select(col("id"), toks.as("t")).collect()
      .map(r => r.getLong(0) ->
        graft.ops.TwinChecks.shingles(r.getSeq[String](1), 3)).toMap
    def scalarSig(sh: Seq[String]): Seq[String] =
      (0 until 32).map(j => sh.map(s => md5hex(s"$j:" + s)).min)
    val sig0 = scalarSig(shingleSets(0L)); val sig2 = scalarSig(shingleSets(2L))
    val wantEst02 = sig0.zip(sig2).count(t => t._1 == t._2) / 32.0
    assert(math.abs(est((0L, 2L)) - wantEst02) < 1e-9,
      s"est(0,2)=${est((0L, 2L))} scalar=$wantEst02")

    // winnow md5: fingerprints equal a scalar recomputation
    val fps = graft.ops.TextAnalysis.fingerprintsMd5(d, "id", "text", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def scalarWinnow(s: String, k: Int, w: Int): Seq[String] = {
      val t = s.toLowerCase
      if (t.length < k) return Seq.empty
      val hs = (0 to t.length - k).map(i => md5hex(t.substring(i, i + k)))
      val n = math.max(hs.length - w + 1, 1)
      (0 until n).map(i => hs.slice(i, math.min(i + w, hs.length)).min)
        .distinct.sorted
    }
    d.collect().foreach { r =>
      assert(fps(r.getLong(0)) == scalarWinnow(r.getString(1), 8, 4),
        s"winnowMd5 mismatch for ${r.getLong(0)}")
    }
  }

  test("md5-family signature stages plan as projections, not aggregations") {
    // r7 scale gate: the md5 signatures are native per-row kernels — a
    // regression to the explode + min(string) shape would re-introduce
    // SortAggregate (string agg buffers are not HashAggregate-mutable) and
    // shuffle the full shingle/k-gram table per call
    import spark.implicits._
    val d = Seq((0L, "some document text tokens here")).toDF("id", "text")
    val toks = graft.tokenize.Tokenizer.splitTokens(
      col("text"), graft.tokenize.Tokenizer.AsciiTokenPattern)
    val sim = Dedup.simhashMd5(d, toks, "id")
      .queryExecution.executedPlan.toString
    assert(!sim.contains("Exchange") && !sim.contains("Aggregate"),
      s"simhashMd5 no longer single-pass:\n$sim")
    val fp = graft.ops.TextAnalysis.fingerprintsMd5(d, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!fp.contains("Exchange") && !fp.contains("Window") &&
      !fp.contains("Aggregate"), s"fingerprintsMd5 no longer single-pass:\n$fp")
  }

  test("duplicate cutoffs collapse instead of minting duplicate columns") {
    import spark.implicits._
    val results = Seq(("q1", "d1", 2.0), ("q1", "d2", 1.0)).toDF("qid", "docId", "score")
    val qrels = Seq(("q1", "d1", 1)).toDF("qid", "docId", "grade")
    val m = graft.eval.TrecEval.evaluate(results, qrels, Seq(1, 1, 10, 10))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(m.keySet == Set(1, 10), s"cutoffs: ${m.keySet}")
    assert(m(1) == 1.0)
  }
}
