package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.store.IcebergLikeStore
import graft.util.SynthCorpus

/** North-rule resume semantics: a build killed after a committed partition
  * group resumes from the commit log and produces an index identical to a
  * single-shot build (SURVEY.md §5.2 "Resume test").
  */
class ResumeSpec extends SparkTestBase {

  private def corpusDf = {
    import spark.implicits._
    spark.createDataset(SynthCorpus.gen(4, 20)).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
  }

  private def postingsFingerprint(dir: String): Seq[(String, Int, Long, String)] =
    spark.read.parquet(s"$dir/postings")
      .selectExpr("term", "salt", "df",
        "sha2(cast(concat_ws(',', transform(blocks, b -> concat(b.first, ':', b.n, ':', hex(b.ids), ':', hex(b.imps)))) as binary), 256) as sig")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  private def assertSameIndex(dirA: String, dirB: String): Unit = {
    assert(postingsFingerprint(dirA) == postingsFingerprint(dirB))
    val docsA = spark.read.parquet(s"$dirA/docs").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val docsB = spark.read.parquet(s"$dirB/docs").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(docsA == docsB)
  }

  private val Injected = "injected failure: sentinel doc"

  /** Build `dir` over corpusDf with one sentinel doc of the LAST segment
    * group whose content raises `Injected` when read: the build dies inside
    * that group's docvecs write, after the earlier groups committed. The
    * corpus is staged as parquet first — over a local relation the
    * optimizer would evaluate the sentinel column while planning.
    */
  private def killedBuild(dir: String, cfg: IndexBuilder.Config): Unit = {
    val groups = cfg.numSegmentGroups
    val sentinel = corpusDf
      .where(pmod(xxhash64(col("docId")), lit(groups.toLong)) === groups - 1)
      .agg(min("docId")).head().getString(0)
    val staged = s"${tmpDir("graft-killing-corpus")}/corpus"
    corpusDf.write.parquet(staged)
    val killing: DataFrame = spark.read.parquet(staged).withColumn("content",
      when(col("docId") === sentinel, raise_error(lit(Injected)))
        .otherwise(col("content")))
    val e = intercept[Exception](IndexBuilder.build(spark, killing, dir, cfg))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains(Injected)), e)
  }

  test("killed-after-group-1 build resumes to an identical index") {
    val dirA = tmpDir("graft-single")
    val dirB = tmpDir("graft-resumed")
    val cfg = IndexBuilder.Config(numSegmentGroups = 3, numBuckets = 4)

    IndexBuilder.build(spark, corpusDf, dirA, cfg)

    // killed build: dies inside segment group 2's write, after group 1
    // committed; whatever that write left under docvecs/g=2 has no
    // manifest and is overwritten on resume
    killedBuild(dirB, cfg)
    val store = new IcebergLikeStore(dirB)
    assert(!store.isComplete)
    assert(store.committedGroups() == Set("docmap", "seg-0", "seg-1"))

    // resume: only seg-2 and downstream stages run
    IndexBuilder.build(spark, corpusDf, dirB, cfg)
    assert(new IcebergLikeStore(dirB).isComplete)
    assertSameIndex(dirA, dirB)
  }

  test("a truncated temp manifest left by a killed commit is not read as a commit") {
    val dirA = tmpDir("graft-tmp-single")
    val dirB = tmpDir("graft-tmp-killed")
    val cfg = IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4)
    IndexBuilder.build(spark, corpusDf, dirA, cfg)
    killedBuild(dirB, cfg)
    // a kill inside the docs commit, before its rename, leaves a truncated
    // temp manifest behind
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dirB, "_commits", ".tmp-docs.json"),
      "{\"group\": \"docs\", \"rowCount\": ")
    assert(new IcebergLikeStore(dirB).committedGroups() == Set("docmap", "seg-0"))
    IndexBuilder.build(spark, corpusDf, dirB, cfg)
    assert(new IcebergLikeStore(dirB).isComplete)
    assertSameIndex(dirA, dirB)
  }

  test("completed build is a no-op on re-invocation") {
    val dir = tmpDir("graft-noop")
    val cfg = IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4)
    IndexBuilder.build(spark, corpusDf, dir, cfg)
    val props1 = new graft.store.IcebergLikeStore(dir).readProperties()
    IndexBuilder.build(spark, corpusDf, dir, cfg) // must not rebuild
    val props2 = new graft.store.IcebergLikeStore(dir).readProperties()
    assert(props1 == props2) // buildElapsedSec unchanged ⇒ nothing re-ran
  }

  private def docvecPairs(dir: String): Seq[(Long, String, Long)] =
    spark.read.parquet(s"$dir/docvecs")
      .select(col("docIntId"), explode(arrays_zip(col("terms"), col("tfs"))).as("tt"))
      .select(col("docIntId"), col("tt.terms").as("term"), col("tt.tfs").as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq

  test("packed docvecs hold exactly the tokenized corpus pairs, one row per doc") {
    val dir = tmpDir("graft-dvpack")
    IndexBuilder.build(spark, corpusDf, dir,
      IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4))
    val unpacked = docvecPairs(dir)
    val intIds = spark.read.parquet(s"$dir/docs").select("docId", "docIntId")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = corpusDf.collect().toSeq.flatMap { r =>
      graft.tokenize.Tokenizer.tokenizeScalar(r.getString(1))
        .groupBy(identity).map { case (t, ts) => (intIds(r.getString(0)), t, ts.size.toLong) }
    }.sorted
    assert(unpacked == want)
    // a document is exactly one packed row, whose len is its token count
    val rows = spark.read.parquet(s"$dir/docvecs")
      .select(col("docIntId"), col("len"), aggregate(col("tfs"), lit(0L), (a, b) => a + b))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == intIds.size)
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall { case (_, len, tfSum) => len == tfSum })
  }

  test("seg-* commit rowCounts sum to the df sum and the packed pair count") {
    val dir = tmpDir("graft-segrows")
    IndexBuilder.build(spark, corpusDf, dir,
      IndexBuilder.Config(numSegmentGroups = 3, numBuckets = 4))
    val commits = new IcebergLikeStore(dir).readCommits()
    val segs = commits.filter(_.group.startsWith("seg-"))
    assert(segs.map(_.group).toSet == Set("seg-0", "seg-1", "seg-2"))
    assert(segs.forall(c => c.metrics("stage") == "segments" && c.metrics("format") == "packed"))
    assert(!commits.exists(_.group == "docvecs"))
    val segRows = segs.map(_.rowCount).sum
    val dfSum = spark.read.parquet(s"$dir/termstats").agg(sum("df")).head().getLong(0)
    val pairs = spark.read.parquet(s"$dir/docvecs").agg(sum(size(col("terms")))).head().getLong(0)
    assert(segRows > 0)
    assert(segRows == dfSum)
    assert(segRows == pairs)
  }

  test("a partial index with an old-layout seg-0 commit fails loudly") {
    val dir = tmpDir("graft-oldlayout")
    // a seg-0 manifest as the exploded-segments layout wrote it
    val commits = java.nio.file.Paths.get(dir, "_commits")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.writeString(commits.resolve("00000-seg-0.json"),
      """{"group": "seg-0", "rowCount": 40, "files": ["segments/g=0"],
        | "metrics": {"stage": "segments", "group": "0"}, "elapsedSec": 0.1}""".stripMargin)
    val e = intercept[IllegalStateException](IndexBuilder.build(spark, corpusDf, dir,
      IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4)))
    assert(e.getMessage.contains(s"$dir/segments"), e.getMessage)
    assert(e.getMessage.contains("built by an older layout; delete and rebuild"), e.getMessage)
    // nothing was written over the old partial index
    assert(new IcebergLikeStore(dir).committedGroups() == Set("seg-0"))
    assert(!new java.io.File(s"$dir/docvecs").exists())
  }

  test("legacy row-per-term docvecs (docvecsFormat=rows) feed RM3 identically") {
    // read compatibility: indexes built before round 6 store one docvecs
    // row per (doc, term) and record docvecsFormat=rows; Rm3 unpacks them
    // through its rows branch
    val dir = tmpDir("graft-legacydv")
    IndexBuilder.build(spark, corpusDf, dir,
      IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4))
    import spark.implicits._
    val q = Seq(("q1", "merge sort")).toDF("qid", "query")
    def rm3Rows() = graft.query.Rm3
      .searchIndexed(new graft.query.BM25Index(spark, dir), q, 5, fbDocs = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sorted.toSeq
    val want = rm3Rows()
    val pairs = docvecPairs(dir)
    // rewrite the docvecs table to the legacy layout: docvecs/salt=<s>/
    // (docIntId, term, tf)
    val legacyTmp = tmpDir("graft-legacydv-rows")
    pairs.toDF("docIntId", "term", "tf")
      .withColumn("salt", IndexBuilder.saltOf(col("docIntId")))
      .write.partitionBy("salt").parquet(s"$legacyTmp/docvecs")
    graft.util.Dirs.deleteRecursively(new java.io.File(s"$dir/docvecs"))
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$legacyTmp/docvecs"),
      java.nio.file.Paths.get(s"$dir/docvecs"))
    val store = new IcebergLikeStore(dir)
    store.writeProperties(store.readProperties() + ("docvecsFormat" -> "rows"))
    val idx = new graft.query.BM25Index(spark, dir)
    assert(idx.docvecsFormat == "rows")
    assert(spark.read.parquet(s"$dir/docvecs").columns.toSet ==
      Set("docIntId", "term", "tf", "salt"))
    assert(rm3Rows() == want) // the rows branch feeds RM3 identically
  }

  test("numBuckets=0 derives a vocabulary-proportional bucket count") {
    assert(IndexBuilder.autoBuckets(0) == 8)
    assert(IndexBuilder.autoBuckets(100000) == 8) // small vocab -> floor
    assert(IndexBuilder.autoBuckets(1L << 20) == 16)
    assert(IndexBuilder.autoBuckets(1L << 30) == 4096) // cap
    val dir = tmpDir("graft-autobuckets")
    IndexBuilder.build(spark, corpusDf, dir,
      IndexBuilder.Config(numSegmentGroups = 1, numBuckets = 0))
    val idx = new graft.query.BM25Index(spark, dir)
    assert(idx.numBuckets == 8) // derived value recorded in properties
    import spark.implicits._
    val q = Seq(("q1", "merge sort")).toDF("qid", "query")
    assert(graft.query.QueryEngine.searchWand(idx, q, 5).count() > 0)
  }

  test("per-row sha256(content) invariant preserved through ingestion") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-sha")
    val c = corpusDf
    IndexBuilder.build(spark, c, dir, IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4))
    // every input docId appears exactly once in the docs table
    val in = c.select(col("docId"), sha2(col("content").cast("binary"), 256).as("sha"))
    val out = spark.read.parquet(s"$dir/docs").select("docId")
    assert(out.count() == in.count())
    assert(out.join(in, "docId").count() == in.count())
    // and the content hashes of the input are stable across two reads
    assert(in.collect().map(_.getString(1)).sorted.toSeq ==
      c.select(sha2(col("content").cast("binary"), 256)).collect().map(_.getString(0)).sorted.toSeq)
  }
}
