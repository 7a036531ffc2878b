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

  /** The docs dimension of the index at `dir`, as its handle reads it. */
  private def docsOf(dir: String): DataFrame = new graft.query.BM25Index(spark, dir).docs

  private def assertSameIndex(dirA: String, dirB: String): Unit = {
    assert(postingsFingerprint(dirA) == postingsFingerprint(dirB))
    def sorted(df: DataFrame, cols: String*): Seq[String] =
      df.selectExpr(cols: _*).collect().map(_.toString).sorted.toSeq
    def rows(dir: String, table: String, cols: String*): Seq[String] =
      sorted(spark.read.parquet(s"$dir/$table"), cols: _*)
    assert(sorted(docsOf(dirA), "docIntId", "docId", "len", "salt") ==
      sorted(docsOf(dirB), "docIntId", "docId", "len", "salt"))
    val vectors = Seq("docIntId", "docId", "len", "to_json(terms)", "to_json(tfs)", "g", "salt")
    assert(rows(dirA, "docvecs", vectors: _*) == rows(dirB, "docvecs", vectors: _*))
    assert(rows(dirA, "termstats", "term", "df", "ctf") == rows(dirB, "termstats", "term", "df", "ctf"))
    assert(new IcebergLikeStore(dirA).readProperties().removed("buildElapsedSec") ==
      new IcebergLikeStore(dirB).readProperties().removed("buildElapsedSec"))
  }

  private val Injected = "injected failure: sentinel doc"

  /** Build `dir` over corpusDf with one sentinel doc of the LAST segment
    * group (groups are docId ranges: the largest docId) whose content
    * raises `Injected` when read: the build dies inside that group's
    * docvecs write, after the earlier groups committed. The corpus is
    * staged as parquet first — over a local relation the optimizer would
    * evaluate the sentinel column while planning.
    */
  private def killedBuild(dir: String, cfg: IndexBuilder.Config): Unit = {
    val sentinel = corpusDf.agg(max("docId")).head().getString(0)
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
    assert(store.committedGroups() == Set("seg-0", "seg-1"))

    // resume: only seg-2 and downstream stages run
    IndexBuilder.build(spark, corpusDf, dirB, cfg)
    assert(new IcebergLikeStore(dirB).isComplete)
    assertSameIndex(dirA, dirB)
  }

  private val matrixCfg = IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4)
  private lazy val completed = {
    val dir = tmpDir("graft-completed")
    IndexBuilder.build(spark, corpusDf, dir, matrixCfg)
    dir
  }

  /** A copy of the completed build, cut back to a kill inside `stage`:
    * "write" before its write (no data, no manifest), "rename" after the
    * write and before the manifest rename (its data and a truncated temp
    * manifest), "commit" after the rename. The later stages left nothing,
    * and `_properties.json` is never there.
    */
  private def killedCopy(stage: String, at: String): String = {
    val dir = tmpDir(s"graft-kill-$stage-$at")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(completed), new java.io.File(dir))
    val commitsDir = new java.io.File(dir, "_commits")
    // manifests are named <seq>-<group>.json in commit order
    val manifests = commitsDir.listFiles.filter(_.getName.head.isDigit).sortBy(_.getName)
    val commits = new IcebergLikeStore(dir).readCommits()
    assert(commits.map(_.group) == Seq("seg-0", "seg-1", "termstats", "postings"))
    for ((c, m) <- commits.zip(manifests).dropWhile(_._1.group != stage)) {
      if (c.group != stage || at == "write")
        c.files.foreach(f => graft.util.Dirs.deleteRecursively(new java.io.File(dir, f)))
      if (c.group != stage || at != "commit") {
        m.delete()
        new java.io.File(commitsDir, s".${m.getName}.crc").delete()
      }
      if (c.group == stage && at == "rename")
        java.nio.file.Files.writeString(
          new java.io.File(commitsDir, ".tmp-" + m.getName.stripSuffix(".json")).toPath,
          s"""{"group": "$stage", "rowCount": """)
    }
    new java.io.File(dir, "_properties.json").delete()
    dir
  }

  for (stage <- Seq("seg-0", "seg-1", "termstats", "postings");
       at <- Seq("write", "rename", "commit"))
    test(s"a build killed at $stage, $at, resumes to the identical index") {
      val dir = killedCopy(stage, at)
      val store = new IcebergLikeStore(dir)
      assert(!store.isComplete)
      assert(store.committedGroups().contains(stage) == (at == "commit"))
      IndexBuilder.build(spark, corpusDf, dir, matrixCfg)
      assert(new IcebergLikeStore(dir).isComplete)
      assertSameIndex(completed, dir)
    }

  test("a resume under another default parallelism numbers with the recorded P") {
    val dir = killedCopy("seg-0", "commit")
    val sc = spark.sparkContext
    val conf = classOf[org.apache.spark.SparkContext].getMethod("conf").invoke(sc)
      .asInstanceOf[org.apache.spark.SparkConf]
    val before = sc.defaultParallelism
    conf.set("spark.default.parallelism", (before + 3).toString)
    try {
      assert(sc.defaultParallelism == before + 3)
      IndexBuilder.build(spark, corpusDf, dir, matrixCfg)
    } finally conf.remove("spark.default.parallelism")
    assert(sc.defaultParallelism == before)
    assertSameIndex(completed, dir)
  }

  /** Resuming `dir` under `cfg` fails naming `field` and writes nothing. */
  private def assertRefused(dir: String, corpus: DataFrame, cfg: IndexBuilder.Config,
                            field: String): Unit = {
    val e = intercept[IllegalStateException](IndexBuilder.build(spark, corpus, dir, cfg))
    assert(e.getMessage.contains(s"seg-0 was committed with $field="), e.getMessage)
    assert(new IcebergLikeStore(dir).committedGroups() == Set("seg-0"))
    assert(new java.io.File(s"$dir/docvecs").list().toSeq == Seq("g=0"))
  }

  test("a resume with a changed group count, token pattern or stemming fails loudly") {
    assertRefused(killedCopy("seg-0", "commit"), corpusDf,
      matrixCfg.copy(numSegmentGroups = 3), "numSegmentGroups")
    assertRefused(killedCopy("seg-0", "commit"), corpusDf,
      matrixCfg.copy(tokenPattern = graft.tokenize.Tokenizer.AsciiTokenPattern), "tokenPattern")
    assertRefused(killedCopy("seg-0", "commit"), corpusDf,
      matrixCfg.copy(stem = false), "stem")
  }

  test("a resume over a changed corpus fails loudly") {
    import spark.implicits._
    val grown = corpusDf.union(Seq(("extra-doc", "merge sort")).toDF("docId", "content"))
    assertRefused(killedCopy("seg-0", "commit"), grown, matrixCfg, "docCounts")
  }

  test("ids: the docId rank in its hash partition, whatever the group count") {
    // the rule a separate docmap table used to hold: hash partition of P,
    // sorted by docId, numbered by monotonically_increasing_id
    val rule = corpusDf.select("docId").repartition(4, col("docId"))
      .sortWithinPartitions("docId").withColumn("docIntId", monotonically_increasing_id())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (groups <- Seq(1, 3)) {
      val dir = tmpDir(s"graft-ids-$groups")
      IndexBuilder.build(spark, corpusDf, dir,
        IndexBuilder.Config(numSegmentGroups = groups, numBuckets = 4, docmapPartitions = 4))
      val ids = docsOf(dir).collect()
        .map(r => r.getAs[String]("docId") -> r.getAs[Long]("docIntId")).toMap
      assert(ids == rule, s"$groups groups")
      // every group holds docs, and each (group, salt) file one id range
      val ranges = spark.read.parquet(s"$dir/docvecs").groupBy("g", "salt")
        .agg(count(lit(1)), min("docIntId"), max("docIntId")).collect()
      assert(ranges.map(_.getInt(0)).distinct.length == groups)
      for (r <- ranges) {
        val inRange = rule.values.count(id => id >= r.getLong(3) && id <= r.getLong(4))
        assert(inRange == r.getLong(2), r)
      }
    }
  }

  test("bloom filters are sized for the keys a file holds") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
    // parquet writes no bloom filter for a column chunk it could encode
    // with a dictionary alone, as it does the terms of small postings files
    val dir = tmpDir("graft-bloom")
    spark.conf.set("parquet.enable.dictionary", "false")
    try IndexBuilder.build(spark, corpusDf, dir, matrixCfg)
    finally spark.conf.unset("parquet.enable.dictionary")
    val full = new BlockSplitBloomFilter(BlockSplitBloomFilter.optimalNumOfBits(16384, 0.01) / 8)
      .getBitsetSize
    def bloomBytes(table: String, column: String): Seq[Int] =
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir, table),
          Array("parquet"), true).asScala.toSeq.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          r.readBloomFilter(b.getColumns.asScala.find(_.getPath.toDotString == column).get)
            .getBitsetSize
        } finally r.close()
      }
    for ((table, column) <- Seq("docvecs" -> "docIntId", "postings" -> "term")) {
      val sizes = bloomBytes(table, column)
      assert(sizes.nonEmpty, table)
      assert(sizes.forall(_ < full), s"$table bloom bytes $sizes, 16384-ndv size $full")
    }
  }

  test("a truncated temp manifest left by a killed commit is not read as a commit") {
    val dirA = tmpDir("graft-tmp-single")
    val dirB = tmpDir("graft-tmp-killed")
    val cfg = IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4)
    IndexBuilder.build(spark, corpusDf, dirA, cfg)
    killedBuild(dirB, cfg)
    // a kill inside the termstats commit, before its rename, leaves a
    // truncated temp manifest behind
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dirB, "_commits", ".tmp-termstats.json"),
      "{\"group\": \"termstats\", \"rowCount\": ")
    assert(new IcebergLikeStore(dirB).committedGroups() == Set("seg-0"))
    IndexBuilder.build(spark, corpusDf, dirB, cfg)
    assert(new IcebergLikeStore(dirB).isComplete)
    assertSameIndex(dirA, dirB)
  }

  /** Overwrites `file` under `dir` with `body` as a torn write would leave
    * it, dropping its Hadoop checksum sidecar (a stale one would fail the
    * read before the JSON parser sees the bytes).
    */
  private def tear(dir: String, file: String, body: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(dir, file)
    java.nio.file.Files.writeString(p, body)
    java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    p
  }

  private def assertNamed(e: IllegalStateException, file: java.nio.file.Path): Unit = {
    assert(e.getMessage.contains(file.toString), e.getMessage)
    assert(e.getMessage.contains("delete it"), e.getMessage)
  }

  for ((what, manifest, props) <- Seq(
      ("an empty", "", ""),
      ("a truncated", """{"group": "termstats", "rowCount": """, """{"k1": "1.2", "b": """)))
    test(s"$what committed manifest or _properties.json fails naming the file") {
      // a manifest: the store and the build refuse it by name; deleting it
      // and the later manifests, as the message says, resumes
      val dir = killedCopy("postings", "commit")
      val torn = tear(dir, "_commits/00002-termstats.json", manifest)
      assertNamed(intercept[IllegalStateException](new IcebergLikeStore(dir).readCommits()), torn)
      assertNamed(intercept[IllegalStateException](
        IndexBuilder.build(spark, corpusDf, dir, matrixCfg)), torn)
      for (m <- Seq("00002-termstats", "00003-postings");
           f <- Seq(s"$m.json", s".$m.json.crc"))
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "_commits", f))
      IndexBuilder.build(spark, corpusDf, dir, matrixCfg)
      assertSameIndex(completed, dir)
      // the properties file: opening the index refuses it by name; deleting
      // it and re-running the build writes it again
      val tornProps = tear(dir, "_properties.json", props)
      assertNamed(intercept[IllegalStateException](
        new graft.query.BM25Index(spark, dir)), tornProps)
      java.nio.file.Files.delete(tornProps)
      IndexBuilder.build(spark, corpusDf, dir, matrixCfg)
      assertSameIndex(completed, dir)
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
    val intIds = docsOf(dir).select("docId", "docIntId")
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

  test("a build writes no docs table: BM25Index.docs projects the packed rows") {
    assert(!new java.io.File(s"$completed/docs").exists())
    assert(new IcebergLikeStore(completed).readCommits().map(_.group) ==
      Seq("seg-0", "seg-1", "termstats", "postings"))
    val docs = docsOf(completed)
    val rows = docs.collect().map(_.toString).sorted.toSeq
    assert(rows.length == corpusDf.count())
    assert(docs.select("docId").distinct().count() == rows.length)
    assert(rows == spark.read.parquet(s"$completed/docvecs")
      .select("docIntId", "docId", "len", "salt").collect().map(_.toString).sorted.toSeq)
    // one cached partition below the dictionary bound: a filter's
    // limit-collect over it runs one job
    assert(docs.rdd.getNumPartitions == 1)
  }

  /** `e` refuses the index at `dir` as recording formatVersion=`found`. */
  private def assertFormatRefused(e: IllegalStateException, dir: String, found: String): Unit = {
    assert(e.isInstanceOf[IndexBuilder.FormatMismatch], e)
    assert(e.getMessage.contains(s"index at $dir:"), e.getMessage)
    assert(e.getMessage.contains(s"formatVersion=$found,"), e.getMessage)
    assert(e.getMessage.contains("delete and rebuild"), e.getMessage)
  }

  /** A copy of the completed build whose `_properties.json` records
    * formatVersion `v` (none when `v` is None).
    */
  private def withPropsVersion(name: String, v: Option[String]): String = {
    val dir = tmpDir(name)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(completed), new java.io.File(dir))
    val store = new IcebergLikeStore(dir)
    val props = store.readProperties() - "formatVersion"
    store.writeProperties(v.fold(props)(x => props + ("formatVersion" -> x)))
    dir
  }

  test("opening an index whose properties record no or another formatVersion fails") {
    for ((v, found) <- Seq(None -> "(none)", Some("2") -> "2")) {
      val dir = withPropsVersion(s"graft-format-open-$found", v)
      assertFormatRefused(intercept[IllegalStateException](
        new graft.query.BM25Index(spark, dir)), dir, found)
    }
  }

  /** A build over the partial index at `dir` fails as recording no
    * formatVersion in its `group` commit, and writes nothing there.
    */
  private def assertOlderLayoutRefused(dir: String, group: String): Unit = {
    // every path under `dir`, with a file's bytes
    def tree(): Map[String, Seq[Byte]] = {
      val paths = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try paths.toArray.map(_.asInstanceOf[java.nio.file.Path]).map(p => p.toString ->
          (if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.readAllBytes(p).toSeq
           else Nil)).toMap
      finally paths.close()
    }
    val before = tree()
    val e = intercept[IllegalStateException](IndexBuilder.build(spark, corpusDf, dir, matrixCfg))
    assertFormatRefused(e, dir, "(none)")
    assert(e.getMessage.contains(s"the $group commit"), e.getMessage)
    // nothing was written over the old partial index
    assert(tree() == before)
  }

  /** A partial index whose log holds only `manifest`, as `name`. */
  private def olderLog(layout: String, name: String, manifest: String): String = {
    val dir = tmpDir(s"graft-format-$layout")
    java.nio.file.Files.writeString(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "_commits")).resolve(name),
      manifest)
    dir
  }

  test("a partial index with a docmap commit fails loudly") {
    val dir = killedCopy("seg-0", "commit")
    // a docmap manifest as the joined-docmap layout wrote it, first in the
    // log, before a seg-0 commit of the current layout
    val commits = java.nio.file.Paths.get(dir, "_commits")
    java.nio.file.Files.move(commits.resolve("00000-seg-0.json"), commits.resolve("00001-seg-0.json"))
    java.nio.file.Files.writeString(commits.resolve("00000-docmap.json"),
      """{"group": "docmap", "rowCount": 80, "files": ["docmap"],
        | "metrics": {"stage": "docmap"}, "elapsedSec": 0.1}""".stripMargin)
    assertOlderLayoutRefused(dir, "docmap")
    assert(new IcebergLikeStore(dir).committedGroups() == Set("docmap", "seg-0"))
  }

  test("a partial index with an old-layout seg-0 commit fails loudly") {
    // a seg-0 manifest as the exploded-segments layout wrote it
    val dir = olderLog("segments", "00000-seg-0.json",
      """{"group": "seg-0", "rowCount": 40, "files": ["segments/g=0"],
        | "metrics": {"stage": "segments", "group": "0"}, "elapsedSec": 0.1}""".stripMargin)
    assertOlderLayoutRefused(dir, "seg-0")
    assert(!new java.io.File(s"$dir/docvecs").exists())
  }

  test("a partial index of an older layout is refused and left as it was") {
    // the hand-written manifest (an always-empty sha256 key) of the store
    // before it used Jackson
    val dir = olderLog("handwritten", "00000-seg-0.json",
      """{"group": "seg-0", "rowCount": 40,
        | "files": ["docvecs/g=0"],
        | "metrics": {"stage": "segments","group": "0","format": "packed"}, "elapsedSec": 4.0E-4,
        | "sha256": ""}""".stripMargin)
    assertOlderLayoutRefused(dir, "seg-0")
    assert(new java.io.File(dir).list().toSeq == Seq("_commits"))
  }

  test("a build over a complete index of another formatVersion is refused") {
    // the properties, or one manifest, record another version
    val props = withPropsVersion("graft-format-complete-props", Some("2"))
    assertFormatRefused(intercept[IllegalStateException](
      IndexBuilder.build(spark, corpusDf, props, matrixCfg)), props, "2")
    assert(new IcebergLikeStore(props).readProperties()("formatVersion") == "2")
    val manifest = tmpDir("graft-format-complete-manifest")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(completed), new java.io.File(manifest))
    val postings = java.nio.file.Paths.get(manifest, "_commits", "00003-postings.json")
    val body = java.nio.file.Files.readString(postings)
    val older = body.replace(
      s"\"formatVersion\" : \"${IndexBuilder.FormatVersion}\"", "\"formatVersion\" : \"0\"")
    assert(older != body)
    tear(manifest, "_commits/00003-postings.json", older)
    val e = intercept[IllegalStateException](IndexBuilder.build(spark, corpusDf, manifest, matrixCfg))
    assertFormatRefused(e, manifest, "0")
    assert(e.getMessage.contains("the postings commit"), e.getMessage)
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
    // every input docId appears exactly once in the docs dimension
    val in = c.select(col("docId"), sha2(col("content").cast("binary"), 256).as("sha"))
    val out = docsOf(dir).select("docId")
    assert(out.count() == in.count())
    assert(out.join(in, "docId").count() == in.count())
    // and the content hashes of the input are stable across two reads
    assert(in.collect().map(_.getString(1)).sorted.toSeq ==
      c.select(sha2(col("content").cast("binary"), 256)).collect().map(_.getString(0)).sorted.toSeq)
  }
}
