package graft

import java.nio.file.{Files, Paths}

import graft.bench.Analysis
import graft.util.SynthCorpus

/** Facade lifecycle (reference §3.1: load → index → retrieve → evaluate →
  * save_dict report) and the report→analysis loop: our RunReport files
  * must flow through the SAME glob/flatten/aggregate/pivot pipeline the
  * reference's analysis scripts run over its runs.
  */
class GraftSpec extends SparkTestBase {

  test("full lifecycle run: results, metrics, save_dict report") {
    import spark.implicits._
    val corpus = spark.createDataset(SynthCorpus.gen(4, 25)).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
    val queries = SynthCorpus.queries.toDF("qid", "query")
    // qrels: each query's own top doc by the composed scorer is graded 1 —
    // enough to make metrics non-trivial and deterministic
    val idxDir = tmpDir("graft-facade-idx")
    val resultDir = tmpDir("graft-facade-results")
    val prelim = Graft.run(spark, corpus, queries, Seq.empty[(String, String, Int)]
      .toDF("qid", "docId", "grade"), idxDir, k = 5)
    val qrels = prelim.results.where($"rank" === 1)
      .selectExpr("qid", "docId", "1 as grade")

    val run = Graft.run(spark, corpus, queries, qrels, idxDir,
      k = 5, cutoffs = Seq(1, 10), dataset = "synth-200",
      resultDir = Some(resultDir))
    assert(run.results.count() > 0)
    val m = run.metrics.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(m.keySet == Set(1, 10))
    assert(m(1) == 1.0, s"rank-1 qrels must give perfect ndcg@1: $m")
    assert(run.report.numDocs == 100)
    assert(run.report.timing.contains("index") && run.report.timing.contains("query"))
    val path = run.reportPath.get
    assert(Files.exists(Paths.get(path)) &&
      path.contains("graft-spark") && path.contains("synth-200-"))

    // the report round-trips through the reference-shaped analysis loop
    val flat = Analysis.flattenRuns(Analysis.loadRuns(spark, resultDir))
    val row = flat.collect().head
    assert(row.getAs[String]("model") == "graft-spark")
    assert(row.getAs[Double]("ndcg@10") == 1.0)
    assert(row.getAs[Double]("qps") > 0 && row.getAs[Double]("dps") > 0)
  }

  test("runBeir: a BEIR data folder end to end, reference split rule") {
    import spark.implicits._
    assert(Graft.defaultSplit("msmarco") == "dev")
    assert(Graft.defaultSplit("scifact") == "test")
    val folder = tmpDir("beir-folder")
    Files.writeString(Paths.get(folder, "corpus.jsonl"),
      """{"_id": "d1", "title": "Trees", "text": "binary search tree insert"}
        |{"_id": "d2", "title": "Maps", "text": "hash map bucket probe"}
        |{"_id": "d3", "title": "Sorts", "text": "merge sort pivot quick"}
        |""".stripMargin)
    Files.writeString(Paths.get(folder, "queries.jsonl"),
      """{"_id": "q1", "text": "binary tree"}
        |{"_id": "q2", "text": "hash probe"}
        |""".stripMargin)
    Files.createDirectories(Paths.get(folder, "qrels"))
    Files.writeString(Paths.get(folder, "qrels", "test.tsv"),
      "query-id\tcorpus-id\tscore\nq1\td1\t1\nq2\td2\t1\n")
    val run = Graft.runBeir(spark, folder, tmpDir("beir-folder-idx"), k = 3)
    val top = run.results.where($"rank" === 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(top == Map("q1" -> "d1", "q2" -> "d2"))
    val ndcg1 = run.metrics.where($"cutoff" === 1).head().getDouble(1)
    assert(ndcg1 == 1.0)
  }

  test("runBeir: scheme-qualified URI dataFolder (Hadoop FS layout detection)") {
    import spark.implicits._
    // a file: URI is the local stand-in for hdfs://, s3a://, etc. — layout
    // detection must go through the Hadoop FileSystem API, not
    // java.io.File, or every non-bare-path location falls into the
    // sub-corpus branch and fails its require
    val folder = tmpDir("beir-uri-folder")
    Files.writeString(Paths.get(folder, "corpus.jsonl"),
      """{"_id": "d1", "title": "Graphs", "text": "dijkstra shortest path heap"}""" + "\n")
    Files.writeString(Paths.get(folder, "queries.jsonl"),
      """{"_id": "q1", "text": "shortest path"}""" + "\n")
    Files.createDirectories(Paths.get(folder, "qrels"))
    Files.writeString(Paths.get(folder, "qrels", "test.tsv"),
      "query-id\tcorpus-id\tscore\nq1\td1\t1\n")
    val uri = Paths.get(folder).toUri.toString // file:///...
    val run = Graft.runBeir(spark, uri, tmpDir("beir-uri-idx"), k = 1,
      dataset = "uri-ds")
    assert(run.results.where($"rank" === 1).head().getString(1) == "d1")
  }

  test("runBeir: cqadupstack-style sub-corpus folders merge into one index") {
    import spark.implicits._
    // two BEIR sub-corpora with COLLIDING raw ids (d1, q1 in both) — the
    // merge must prefix ids so retrieval and qrels stay distinct
    val root = tmpDir("beir-cqa")
    def writeSub(name: String, docText: String, queryText: String): Unit = {
      val d = Paths.get(root, name)
      Files.createDirectories(d.resolve("qrels"))
      Files.writeString(d.resolve("corpus.jsonl"),
        s"""{"_id": "d1", "title": "$name", "text": "$docText"}""" + "\n")
      Files.writeString(d.resolve("queries.jsonl"),
        s"""{"_id": "q1", "text": "$queryText"}""" + "\n")
      Files.writeString(d.resolve("qrels").resolve("test.tsv"),
        "query-id\tcorpus-id\tscore\nq1\td1\t1\n")
    }
    writeSub("android", "intent activity fragment lifecycle", "activity lifecycle")
    writeSub("gaming", "respawn checkpoint boss arena", "boss arena")
    val run = Graft.runBeir(spark, root, tmpDir("beir-cqa-idx"), k = 2)
    assert(run.report.numDocs == 2)
    assert(run.report.numQueries == 2)
    val top = run.results.where($"rank" === 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(top == Map("android_q1" -> "android_d1", "gaming_q1" -> "gaming_d1"))
    val ndcg1 = run.metrics.where($"cutoff" === 1).head().getDouble(1)
    assert(ndcg1 == 1.0)
  }

  test("run: BM25, BM25+RM3 and MLT reports from one corpus flow through one analysis") {
    import spark.implicits._
    val corpus = spark.createDataset(SynthCorpus.gen(4, 25)).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
    val queries = SynthCorpus.queries.toDF("qid", "query")
    val idxDir = tmpDir("graft-rm3mode-idx")
    val resultDir = tmpDir("graft-rm3mode-results")
    val qrels = Graft.run(spark, corpus, queries,
      Seq.empty[(String, String, Int)].toDF("qid", "docId", "grade"),
      idxDir, k = 5)
      .results.where($"rank" === 1).selectExpr("qid", "docId", "1 as grade")
      .persist()
    val plain = Graft.run(spark, corpus, queries, qrels, idxDir, k = 5,
      cutoffs = Seq(1, 10), dataset = "synth-200", resultDir = Some(resultDir))
    val rm3 = Graft.run(spark, corpus, queries, qrels, idxDir, k = 5,
      cutoffs = Seq(1, 10), dataset = "synth-200", resultDir = Some(resultDir),
      rm3 = Some(Graft.Rm3Params(fbDocs = 3, fbTerms = 8, alpha = 0.5)))
    val mlt = Graft.run(spark, corpus, queries, qrels, idxDir, k = 5,
      cutoffs = Seq(1, 10), dataset = "synth-200", resultDir = Some(resultDir),
      mlt = Some(Graft.MltParams(maxTerms = 8)))
    qrels.unpersist()
    assert(plain.report.model == "graft-spark")
    assert(rm3.report.model == "graft-rm3")
    assert(mlt.report.model == "graft-mlt")
    assert(rm3.results.count() > 0)
    assert(mlt.results.count() > 0)
    // the three retrieval modes land in one flattened analysis table,
    // pivotable by model — the reference's engine-comparison shape
    val flat = Analysis.flattenRuns(Analysis.loadRuns(spark, resultDir))
    val byModel = flat.collect().map(r =>
      r.getAs[String]("model") -> r.getAs[Double]("ndcg@10")).toMap
    assert(byModel.keySet == Set("graft-spark", "graft-rm3", "graft-mlt"),
      s"$byModel")
    assert(byModel.values.forall(v => v >= 0.0 && v <= 1.0))
    // the modes are mutually exclusive knobs
    intercept[IllegalArgumentException] {
      Graft.run(spark, corpus, queries, qrels, idxDir, k = 5,
        rm3 = Some(Graft.Rm3Params()), mlt = Some(Graft.MltParams()))
    }
  }

  test("run: qrels-filtered query set (GenericDataLoader parity)") {
    import spark.implicits._
    val corpus = spark.createDataset(SynthCorpus.gen(2, 10)).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
    val queries = SynthCorpus.queries.toDF("qid", "query")
    val someQid = SynthCorpus.queries.head._1
    val run = Graft.run(spark, corpus, queries,
      // qrels name ONE query -> only that query is retrieved/reported
      Seq((someQid, "nonexistent-doc", 1)).toDF("qid", "docId", "grade"),
      tmpDir("graft-filter-idx"), k = 3)
    assert(run.report.numQueries == 1)
    assert(run.results.select("qid").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(someQid))
  }

  test("looping run leaves no pinned cache entries behind") {
    import spark.implicits._
    val corpus = spark.createDataset(SynthCorpus.gen(2, 10)).toDF()
      .selectExpr("concat(repo, ':', path, '@', commit) as docId", "content")
    val queries = SynthCorpus.queries.toDF("qid", "query")
    val qrels = Seq((SynthCorpus.queries.head._1, "x", 1))
      .toDF("qid", "docId", "grade")
    val idxDir = tmpDir("graft-leak-idx")
    def settledRddCount(): Int = {
      // unpersist is async: wait for the persistent-RDD set to settle
      var prev = -1; var cur = spark.sparkContext.getPersistentRDDs.size
      while (prev != cur) { prev = cur; Thread.sleep(300)
        cur = spark.sparkContext.getPersistentRDDs.size }
      cur
    }
    Graft.run(spark, corpus, queries, qrels, idxDir, k = 3)
    val after1 = settledRddCount()
    Graft.run(spark, corpus, queries, qrels, idxDir, k = 3)
    val after2 = settledRddCount()
    assert(after2 <= after1,
      s"pinned RDDs grew across runs: $after1 -> $after2 (facade cache leak)")
  }

  test("README conf table lists exactly the spark.graft.* confs the code reads") {
    import scala.jdk.CollectionConverters._
    val confLiteral = "\"spark\\.graft\\.(\\w+)\"".r
    val read = scala.util.Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(f => confLiteral.findAllMatchIn(Files.readString(f)).map(_.group(1)))
        .toSet
    }
    val table = Files.readString(Paths.get("README.md")).linesIterator
      .dropWhile(!_.startsWith("## Tuning")).drop(1)
      .takeWhile(!_.startsWith("## "))
      .collect { case row if row.startsWith("| `") => row.split('`')(1) }
      .toSet
    assert(read.nonEmpty, "no spark.graft.* conf literals found under src/main/scala")
    assert(table == read, s"README table lacks ${(read -- table).toSeq.sorted}; " +
      s"lists confs no code reads: ${(table -- read).toSeq.sorted}")
  }

  test("ScaleLegs child heap is 3/4 of host memory, capped at 16 GiB") {
    import graft.tools.ScaleLegs.childHeapMb
    assert(childHeapMb(8L << 30) == 6144)
    assert(childHeapMb(15L << 30) == 11520)
    assert(childHeapMb(64L << 30) == 16384)
  }

  test("flattenRuns reproduces combine_results timing semantics") {
    // reference-shaped fixture: numba timing preferred over default,
    // tokenize_corpus folded into index time (combine_results.py:88-108)
    val dir = tmpDir("graft-analysis-fixture")
    Files.createDirectories(Paths.get(dir, "bm25s"))
    Files.writeString(Paths.get(dir, "bm25s", "ds1-abc.json"),
      """{"model": "bm25s", "dataset": "ds1", "n_threads": 1,
        |"stats": {"num_docs": 1000, "num_queries": 100, "num_tokens": 9999},
        |"timing": {"index": {"elapsed": 8.0},
        |           "tokenize_corpus": {"elapsed": 2.0},
        |           "query": {"elapsed": 5.0},
        |           "query_numba": {"elapsed": 2.0},
        |           "query_numpy": {"elapsed": 4.0},
        |           "tokenize_queries": {"elapsed": 0.5}},
        |"scores": {"ndcg": {"10": 0.5}, "map": {"10": 0.3},
        |           "recall": {"1000": 0.9}, "precision": {"10": 0.1}}}
        |""".stripMargin)
    val flat = Analysis.flattenRuns(Analysis.loadRuns(spark, dir)).collect().head
    // dps = 1000 / (8 + 2); qps = 100 / (2 + 0.5) — numba preferred
    assert(math.abs(flat.getAs[Double]("dps") - 100.0) < 1e-9)
    assert(math.abs(flat.getAs[Double]("qps") - 40.0) < 1e-9)
    assert(flat.getAs[Double]("ndcg@10") == 0.5)
    assert(flat.getAs[Double]("r@1000") == 0.9)
  }
}
