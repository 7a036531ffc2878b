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
    * that group's segments write, after the earlier groups committed. The
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
    // committed; whatever that write left under segments/g=2 has no
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

  test("packed docvecs unpack to exactly the segments (doc, term, tf) pairs") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-dvpack")
    IndexBuilder.build(spark, corpusDf, dir,
      IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4))
    val unpacked = spark.read.parquet(s"$dir/docvecs")
      .select(col("docIntId"), explode(arrays_zip(col("terms"), col("tfs"))).as("tt"))
      .select(col("docIntId"), col("tt.terms").as("term"), col("tt.tfs").as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val segs = spark.read.parquet(s"$dir/segments")
      .select("docIntId", "term", "tf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(unpacked == segs)
    // pairs are globally unique even if a doc straddled an input split
    assert(unpacked.distinct.size == unpacked.size)
  }

  test("complete no-docvec store is backfilled when storeDocVectors is requested") {
    val dir = tmpDir("graft-backfill")
    val cfg = IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4,
      storeDocVectors = false)
    IndexBuilder.build(spark, corpusDf, dir, cfg)
    val props0 = new graft.store.IcebergLikeStore(dir).readProperties()
    assert(props0("docVectors") == "false")
    assert(!new java.io.File(s"$dir/docvecs").exists())
    // re-invoking with the default (storeDocVectors = true) backfills the
    // stage instead of silently returning the vectorless store
    IndexBuilder.build(spark, corpusDf, dir, cfg.copy(storeDocVectors = true))
    val props1 = new graft.store.IcebergLikeStore(dir).readProperties()
    assert(props1("docVectors") == "true")
    assert(props1("docvecsFormat") == "packed")
    assert(props1("numDocs") == props0("numDocs")) // nothing else re-ran
    val idx = new graft.query.BM25Index(spark, dir)
    assert(idx.hasDocVectors && idx.docvecsFormat == "packed")
    // the backfilled vectors feed RM3 end to end
    import spark.implicits._
    val q = Seq(("q1", "merge sort")).toDF("qid", "query")
    assert(graft.query.Rm3.searchIndexed(idx, q, 5, fbDocs = 3).count() >= 0)
  }

  test("resumed legacy row-per-term docvecs commit stamps docvecsFormat=rows") {
    // r6 ADVICE (medium): a pre-round-6 partial index whose LEGACY
    // row-per-term docvecs group is already committed must not be stamped
    // docvecsFormat=packed on resume — Rm3's packed unpack would then fail
    // at query time on a table without terms[]/tfs[] columns. The format is
    // now derived from the docvecs commit's own metadata.
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft-legacydv")
    val cfg = IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4)
    IndexBuilder.build(spark, corpusDf, dir, cfg)
    import spark.implicits._
    val q = Seq(("q1", "merge sort")).toDF("qid", "query")
    def rm3Rows() = graft.query.Rm3
      .searchIndexed(new graft.query.BM25Index(spark, dir), q, 5, fbDocs = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sorted.toSeq
    val want = rm3Rows()
    // devolve to the legacy on-disk state: row-per-term docvecs, a commit
    // manifest without the format key, no _properties.json (= a pre-packed
    // build interrupted right before finishing)
    val legacyTmp = tmpDir("graft-legacydv-rows")
    spark.read.parquet(s"$dir/docvecs")
      .select(col("docIntId"),
        explode(arrays_zip(col("terms"), col("tfs"))).as("tt"), col("salt"))
      .select(col("docIntId"), col("tt.terms").as("term"),
        col("tt.tfs").as("tf"), col("salt"))
      .write.partitionBy("salt").parquet(s"$legacyTmp/docvecs")
    graft.util.Dirs.deleteRecursively(new java.io.File(s"$dir/docvecs"))
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$legacyTmp/docvecs"),
      java.nio.file.Paths.get(s"$dir/docvecs"))
    // the manifest is rewritten through the Hadoop FS, which keeps its
    // checksum file in step
    val commits = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = fs.listStatus(commits).map(_.getPath)
      .filter(_.getName.endsWith("-docvecs.json")).head
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(manifest)
    val body = try json.readTree(in) finally in.close()
    val metrics = body.get("metrics")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(metrics.remove("format") != null, s"format key not found in manifest: $body")
    val out = fs.create(manifest, true)
    try out.write(json.writeValueAsBytes(body)) finally out.close()
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/_properties.json"))
    // resume: every group is committed, so only properties are re-stamped
    IndexBuilder.build(spark, corpusDf, dir, cfg)
    val idx = new graft.query.BM25Index(spark, dir)
    assert(idx.docvecsFormat == "rows",
      s"resumed legacy index stamped ${idx.docvecsFormat}")
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
