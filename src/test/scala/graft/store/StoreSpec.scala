package graft.store

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.index.IndexBuilder
import graft.query.{BM25Index, QueryEngine}
import graft.util.SynthCorpus

/** The index store: paths resolve through Spark's Hadoop filesystem, the
  * manifest log and properties round-trip any text, and files written in
  * the earlier hand-rolled JSON format read back where they are JSON.
  */
class StoreSpec extends SparkTestBase {

  test("a filesystem whose rename does not replace still commits and replaces") {
    // HDFS-style rename: false when the destination exists
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.norename.impl", classOf[NoReplaceRenameFs].getName)
    hc.setBoolean("fs.norename.impl.disable.cache", true)
    try {
      val local = tmpDir("graft-store-norename")
      val store = new IcebergLikeStore(s"norename://$local")
      store.writeProperties(Map("a" -> "1"))
      store.writeProperties(Map("a" -> "2", "b" -> "3"))
      assert(new IcebergLikeStore(s"norename://$local").readProperties() ==
        Map("a" -> "2", "b" -> "3"))
      store.stage("g", Seq("f"), Map("m" -> "x")) { 5L }
      store.stage("h", Seq("f2"), Map.empty) { 6L }
      assert(store.readCommits().map(c => (c.group, c.rowCount)) == Seq(("g", 5L), ("h", 6L)))
      val left = Files.walk(Paths.get(local)).toArray.map(_.toString)
        .filter(_.contains(".tmp-"))
      assert(left.isEmpty, s"temp files left behind: ${left.mkString(", ")}")
    } finally {
      hc.unset("fs.norename.impl")
      hc.unset("fs.norename.impl.disable.cache")
    }
  }

  test("a file:// URI index dir builds, opens and searches like a plain path") {
    import spark.implicits._
    val corpus = spark.createDataset(SynthCorpus.gen(3, 12)).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
    val cfg = IndexBuilder.Config(numSegmentGroups = 2, numBuckets = 4)
    val plain = tmpDir("graft-store-plain")
    val local = tmpDir("graft-store-uri")
    val uri = s"file://$local"
    IndexBuilder.build(spark, corpus, plain, cfg)
    IndexBuilder.build(spark, corpus, uri, cfg)
    // manifests and properties sit beside the data Spark wrote
    assert(new java.io.File(local, "_properties.json").isFile)
    assert(new java.io.File(local, "_commits").list().count(_.endsWith("-postings.json")) == 1)
    assert(new IcebergLikeStore(uri).committedGroups() ==
      new IcebergLikeStore(plain).committedGroups())

    val q = Seq(("q1", "binary search tree"), ("q2", "hash index merge"))
      .toDF("qid", "query")
    def hits(dir: String): Seq[String] =
      QueryEngine.searchWand(new BM25Index(spark, dir), q, 5)
        .collect().map(_.toString).sorted.toSeq
    val got = hits(uri)
    assert(got.nonEmpty)
    assert(got == hits(plain))
  }

  test("metrics and properties with JSON-special and non-ASCII text round-trip exactly") {
    val tricky = Map(
      "brace}" -> "a}b{c",
      "quote\"" -> "say \"hi\"",
      "back\\slash" -> "C:\\dir\\",
      "new\nline" -> "one\ntwo",
      "ünï" -> "cödé ✓ 索引")
    val dir = tmpDir("graft-store-json")
    val store = new IcebergLikeStore(dir)
    var runs = 0
    store.stage("g", Seq("f}\"\\"), tricky) { runs += 1; 7L }
    store.stage("g", Seq("f"), Map.empty) { runs += 1; 8L } // committed: skipped
    assert(runs == 1)
    val c = new IcebergLikeStore(dir).lastCommit("g").get
    assert(c.metrics == tricky)
    assert(c.files == Seq("f}\"\\") && c.rowCount == 7)
    assert(store.readCommits().map(_.group) == Seq("g"))

    store.writeProperties(tricky)
    assert(new IcebergLikeStore(dir).readProperties() == tricky)
    store.writeProperties(tricky + ("k" -> "v")) // replaces the file
    assert(new IcebergLikeStore(dir).readProperties() == tricky + ("k" -> "v"))
  }

  test("a manifest log and properties in the earlier hand-written format read back") {
    val dir = tmpDir("graft-store-legacy")
    val commits = Files.createDirectories(Paths.get(dir, "_commits"))
    // verbatim output of the earlier writer: escapes only `"` and `\`, and
    // records an (always empty) sha256 key
    Files.writeString(commits.resolve("00000-seg-0.json"),
      """{"group": "seg-0", "rowCount": 40,
        | "files": ["segments/g=0"],
        | "metrics": {"stage": "segments","group": "0"}, "elapsedSec": 4.0E-4,
        | "sha256": ""}""".stripMargin)
    Files.writeString(commits.resolve("00001-docvecs.json"),
      """{"group": "docvecs", "rowCount": 80,
        | "files": ["docvecs"],
        | "metrics": {"stage": "docvecs","format": "packed"}, "elapsedSec": 1.25,
        | "sha256": ""}""".stripMargin)
    val props = Paths.get(dir, "_properties.json")
    Files.writeString(props,
      "{\"avgdl\": \"12.5\",\n" +
        "\"note\": \"say \\\"hi\\\"\",\n" +
        "\"tokenPattern\": \"[\\\\p{L}\\\\p{N}]+\"}")

    val store = new IcebergLikeStore(dir)
    assert(store.committedGroups() == Set("seg-0", "docvecs"))
    assert(store.readCommits() == Seq(
      PartitionCommit("seg-0", Seq("segments/g=0"), 40,
        Map("stage" -> "segments", "group" -> "0"), 4.0e-4),
      PartitionCommit("docvecs", Seq("docvecs"), 80,
        Map("stage" -> "docvecs", "format" -> "packed"), 1.25)))
    assert(store.lastCommit("docvecs").flatMap(_.metrics.get("format")).contains("packed"))
    assert(store.isComplete)
    assert(store.readProperties() == Map(
      "avgdl" -> "12.5",
      "note" -> "say \"hi\"",
      "tokenPattern" -> "[\\p{L}\\p{N}]+"))
    // a control character the earlier writer left unescaped is not JSON:
    // it fails naming the file (such an index also records no
    // formatVersion, so it is refused on open and on resume)
    Files.writeString(props, "{\"note\": \"one\ntwo\"}")
    val e = intercept[IllegalStateException](store.readProperties())
    assert(e.getMessage.contains("_properties.json is empty or incomplete"), e.getMessage)
  }
}

/** The local filesystem under the `norename` scheme, with HDFS's rename
  * contract: a rename onto an existing path fails (returns false) instead
  * of replacing it.
  */
class NoReplaceRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !exists(dst) && super.rename(src, dst)
}
