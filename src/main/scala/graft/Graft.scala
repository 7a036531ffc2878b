package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession

import graft.bench.{RunReport, Timer}
import graft.index.IndexBuilder
import graft.query.{BM25Index, QueryEngine}

/** Library facade: the reference harness's full run lifecycle
  * (benchmark/on_bm25s.py §3.1 of SURVEY.md — load → tokenize+index →
  * batch retrieve → BEIR evaluate → save_dict report) as one call, over
  * any (docId, content) corpus — e.g. `sources.BeirReader` output for
  * real BEIR data, or a table in the input_hint shape.
  *
  * A user of the reference maps their workflow 1:1:
  *
  * {{{
  * val corpus  = BeirReader.readCorpusContent(spark, "data/corpus.jsonl")
  * val queries = BeirReader.readQueries(spark, "data/queries.jsonl")
  * val qrels   = BeirReader.readQrels(spark, "data/qrels/test.tsv")
  * val run = Graft.run(spark, corpus, queries, qrels,
  *   indexDir = "/indexes/mycorpus", resultDir = Some("results"),
  *   dataset = "mycorpus")
  * run.results  // (qid, docId, score, rank) top-k
  * run.metrics  // (cutoff, ndcg, map, recall, p)
  * }}}
  *
  * Reports written via `resultDir` are globbable by `bench.Analysis`
  * (loadRuns → flattenRuns → aggregate → pivots → csv/md/latex), closing
  * the same loop the reference's analysis/ scripts close over its runs.
  */
object Graft {

  final case class Run(
      index: BM25Index,
      results: DataFrame,
      metrics: DataFrame,
      report: RunReport,
      reportPath: Option[String])

  /** BM25+RM3 retrieval-mode knob for [[run]] (Anserini's defaults:
    * fbDocs=10, fbTerms=10, originalQueryWeight=0.5).
    */
  final case class Rm3Params(fbDocs: Int = 10, fbTerms: Int = 10,
                             alpha: Double = 0.5)

  /** More-Like-This retrieval-mode knob for [[run]]: each query's TEXT is
    * treated as a free-text seed document (Lucene MLT `like(text)`) —
    * tokenized into a pseudo doc vector, cut to the `maxTerms` highest
    * tf·idf terms, retrieved weighted.
    */
  final case class MltParams(maxTerms: Int = 25)

  def buildIndex(spark: SparkSession, corpus: DataFrame, indexDir: String,
                 cfg: IndexBuilder.Config = IndexBuilder.Config()): BM25Index = {
    IndexBuilder.build(spark, corpus, indexDir, cfg)
    new BM25Index(spark, indexDir)
  }

  def open(spark: SparkSession, indexDir: String): BM25Index =
    new BM25Index(spark, indexDir)

  /** Batch top-k retrieval; `exact = true` selects the declarative
    * cross-check path instead of the WAND/TAAT engine. `docFilter` (a
    * predicate over the index's docs dimension — docId, len) restricts
    * CANDIDATE docs at query time with corpus statistics unchanged
    * (Lucene filter-query semantics); see QueryEngine for the broadcast
    * set vs semi-join strategy split.
    */
  def search(index: BM25Index, queries: DataFrame, k: Int = 1000,
             exact: Boolean = false,
             docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    if (exact) QueryEngine.searchExact(index, queries, k, docFilter)
    else QueryEngine.searchWand(index, queries, k, docFilter)

  /** BM25+RM3 retrieval (pseudo-relevance-feedback query expansion):
    * pass 1 retrieves fbDocs feedback docs per query, a relevance model is
    * estimated from the index's stored doc vectors (a pruned fetch of only
    * those docs — no corpus scan), and the α-interpolated weighted query
    * runs pass 2. See [[graft.query.Rm3]] for the math and scale shape,
    * and [[graft.query.Rm3.searchIndexedRetokenize]] for its cross-check
    * twin. `docFilter` restricts BOTH passes (feedback docs and final
    * ranking) to the allowed subset.
    */
  def searchRm3(index: BM25Index, queries: DataFrame,
                k: Int = 1000, fbDocs: Int = 10, fbTerms: Int = 10,
                alpha: Double = 0.5,
                docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    query.Rm3.searchIndexed(index, queries, k, fbDocs, fbTerms, alpha, docFilter)

  /** More-Like-This retrieval from SEED DOC IDS (`seedDocIds`: a frame
    * with a `docId` column): top-k docs most similar to each seed, ranked
    * by its stored doc vector's top tf·idf terms. Seeds are excluded from
    * their own result lists by default (each seed otherwise ranks itself
    * first); `docFilter` additionally restricts every seed's candidates.
    */
  def searchMlt(index: BM25Index, seedDocIds: DataFrame, k: Int = 1000,
                maxTerms: Int = 25, excludeSeeds: Boolean = true,
                docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    query.MoreLikeThis.searchIndexed(index, seedDocIds, k, maxTerms,
      docFilter, excludeSeeds = excludeSeeds)

  /** More-Like-This retrieval from FREE TEXT (`seeds`: (qid, text)):
    * Lucene MLT `like(text)` — the text becomes a pseudo doc vector.
    */
  def searchMltText(index: BM25Index, seeds: DataFrame, k: Int = 1000,
                    maxTerms: Int = 25,
                    docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    query.MoreLikeThis.searchIndexedText(index, seeds, k, maxTerms, docFilter)

  def evaluate(results: DataFrame, qrels: DataFrame,
               cutoffs: Seq[Int] = eval.TrecEval.DefaultCutoffs): DataFrame =
    eval.TrecEval.evaluate(
      results.selectExpr("qid", "docId", "score"), qrels, cutoffs)

  /** The reference's split rule: `dev` for msmarco, `test` otherwise
    * (benchmark/on_bm25s.py:46-49).
    */
  def defaultSplit(dataset: String): String =
    if (dataset == "msmarco") "dev" else "test"

  /** BEIR-folder entry point, mirroring
    * `GenericDataLoader(data_folder).load(split)` + the harness run
    * (benchmark/on_bm25s.py:41-51): expects `corpus.jsonl`,
    * `queries.jsonl` and `qrels/<split>.tsv` under `dataFolder`.
    *
    * cqadupstack-style multi-corpus folders are auto-detected: when
    * `dataFolder` has no flat `corpus.jsonl` but its subfolders do, every
    * sub-corpus is merged with `"<subfolder>_"`-prefixed ids — corpus,
    * queries AND qrels — before one index is built over the union,
    * mirroring `merge_cqa_dupstack` (utils/beir.py:38-112; call site
    * benchmark/on_bm25s.py:43-44).
    */
  def runBeir(spark: SparkSession, dataFolder: String, indexDir: String,
              dataset: String = "", split: String = "",
              cfg: IndexBuilder.Config = IndexBuilder.Config(),
              k: Int = 1000,
              resultDir: Option[String] = None): Run = {
    // Layout detection through the Hadoop FileSystem API: `dataFolder` is
    // any Spark-readable location (hdfs://, s3a://, file:/, a bare local
    // path) — a java.io.File probe would mis-detect every non-driver-local
    // URI and break paths spark.read handles fine.
    val rootPath = new org.apache.hadoop.fs.Path(dataFolder)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def isFile(p: org.apache.hadoop.fs.Path): Boolean =
      try fs.getFileStatus(p).isFile catch {
        case _: java.io.FileNotFoundException => false
      }
    val ds =
      if (dataset.nonEmpty) dataset
      else rootPath.getName
    val sp = if (split.nonEmpty) split else defaultSplit(ds)
    val (corpus, queries, qrels) =
      if (isFile(new org.apache.hadoop.fs.Path(rootPath, "corpus.jsonl")))
        (sources.BeirReader.readCorpusContent(spark, s"$dataFolder/corpus.jsonl"),
         sources.BeirReader.readQueries(spark, s"$dataFolder/queries.jsonl"),
         sources.BeirReader.readQrels(spark, s"$dataFolder/qrels/$sp.tsv"))
      else {
        val subs = fs.listStatus(rootPath)
          .filter(st => st.isDirectory &&
            isFile(new org.apache.hadoop.fs.Path(st.getPath, "corpus.jsonl")))
          .map(_.getPath)
          .sortBy(_.getName)
        require(subs.nonEmpty,
          s"$dataFolder has neither corpus.jsonl nor sub-corpus folders")
        def part(read: org.apache.hadoop.fs.Path => org.apache.spark.sql.DataFrame) =
          subs.toSeq.map(d => d.getName -> read(d))
        (sources.CorpusMerge.merge(
           part(d => sources.BeirReader.readCorpusContent(spark, s"$d/corpus.jsonl")),
           idCols = Seq("docId")),
         sources.CorpusMerge.merge(
           part(d => sources.BeirReader.readQueries(spark, s"$d/queries.jsonl")),
           idCols = Seq("qid")),
         sources.CorpusMerge.mergeQrels(
           part(d => sources.BeirReader.readQrels(spark, s"$d/qrels/$sp.tsv")),
           queryIdCol = "qid", corpusIdCol = "docId"))
      }
    run(spark, corpus = corpus, queries = queries, qrels = qrels,
      indexDir = indexDir, cfg = cfg, k = k,
      dataset = ds, resultDir = resultDir)
  }

  /** Full lifecycle: (re)build or resume the index at `indexDir`, retrieve
    * top-k for `queries`, evaluate against `qrels` at `cutoffs`, and
    * produce (optionally write) a save_dict-schema RunReport.
    *
    * Reference parity: when qrels are supplied, queries are first
    * restricted to the split's qrels query set (a left-semi join), exactly
    * as `GenericDataLoader.load(split)` does — so num_queries, qps and the
    * timed query span are comparable with reference result files (msmarco
    * retrieves its ~7k dev-qrels queries, not all ~509k). Pass
    * `filterQueriesByQrels = false` (or empty qrels) to retrieve everything.
    *
    * Caching: every intermediate this call pins (retrieval results, the
    * evaluator's tables) is released before it returns — looping `run` in
    * one session accumulates nothing. The returned `results` frame stays
    * valid but recomputes retrieval if re-consumed; persist it yourself if
    * you iterate over it repeatedly.
    *
    * Retrieval mode: pass `rm3 = Some(Rm3Params(...))` for BM25+RM3
    * pseudo-relevance feedback, or `mlt = Some(MltParams(...))` for
    * free-text More-Like-This over the query text, instead of plain BM25
    * (the modes are mutually exclusive); the report's model name then
    * defaults to "graft-rm3"/"graft-mlt" (override via `model`), so
    * `bench.Analysis` pivots compare BM25 / BM25+RM3 / MLT rows the way
    * the reference's analysis compares engines
    * (analysis/combine_results.py:150-184).
    */
  def run(spark: SparkSession,
          corpus: DataFrame, queries: DataFrame, qrels: DataFrame,
          indexDir: String,
          cfg: IndexBuilder.Config = IndexBuilder.Config(),
          k: Int = 1000,
          cutoffs: Seq[Int] = eval.TrecEval.DefaultCutoffs,
          model: String = "",
          dataset: String = "synthetic",
          resultDir: Option[String] = None,
          filterQueriesByQrels: Boolean = true,
          rm3: Option[Rm3Params] = None,
          mlt: Option[MltParams] = None): Run = {
    require(rm3.isEmpty || mlt.isEmpty,
      "rm3 and mlt retrieval modes are mutually exclusive")
    val modelName =
      if (model.nonEmpty) model
      else if (rm3.isDefined) "graft-rm3"
      else if (mlt.isDefined) "graft-mlt"
      else "graft-spark"
    val timer = new Timer()

    timer.start("index") // includes tokenization (combine_results folds it)
    val index = buildIndex(spark, corpus, indexDir, cfg)
    timer.stop("index")

    val evalQueries =
      (if (filterQueriesByQrels && qrels.head(1).nonEmpty)
         queries.join(qrels.select("qid").distinct(), Seq("qid"), "left_semi")
       else queries)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Exact save_dict num_queries (reference: len(queries) as loaded) —
    // counted on the INPUT side, so queries whose top-k comes back empty
    // (all tokens OOV/stopword) still count, unlike a distinct-qid scan of
    // the results. Runs BEFORE the timed query span (the reference doesn't
    // time query loading either) and doubles as the cache warm for the
    // search path's own scan of the query table.
    val numQueries = evalQueries.count()

    timer.start("query")
    val results = ((rm3, mlt) match {
        case (Some(p), _) =>
          searchRm3(index, evalQueries, k, p.fbDocs, p.fbTerms, p.alpha)
        case (_, Some(p)) =>
          searchMltText(index,
            evalQueries.selectExpr("qid", "query as text"), k, p.maxTerms)
        case _ => search(index, evalQueries, k)
      })
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nHits = results.count() // materialize inside the timed span
    timer.stop("query")
    require(nHits >= 0)
    evalQueries.unpersist(blocking = false)

    val metrics = evaluate(results, qrels, cutoffs) // eager; releases its caches
    val byCutoff = metrics.collect().map { r =>
      r.getInt(0).toString ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }.toMap
    def metric(pick: ((Double, Double, Double, Double)) => Double) =
      byCutoff.map { case (c, v) => c -> pick(v) }

    results.unpersist(blocking = false)

    val rt = Runtime.getRuntime
    val report = RunReport(
      model = modelName, dataset = dataset,
      stemmer = index.props("stemmer"),
      tokenizer = index.tokenPattern,
      method = index.params.method,
      stopwords = index.props("stopwords"),
      k1 = index.params.k1, b = index.params.b, delta = index.params.delta,
      date = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss")
        .format(java.time.LocalDateTime.now()),
      nThreads = spark.sparkContext.defaultParallelism,
      topK = k,
      maxMemGb = (rt.totalMemory() - rt.freeMemory()) / 1e9,
      numDocs = index.numDocs,
      numQueries = numQueries,
      numTokens = index.props("numTokens").toLong,
      timing = timer.results,
      scores = Map(
        "ndcg" -> metric(_._1), "map" -> metric(_._2),
        "recall" -> metric(_._3), "precision" -> metric(_._4)))
    val path = resultDir.map(dir => RunReport.write(report, dir))
    Run(index, results, metrics, report, path)
  }
}
