package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.index.expr.CodecExprs
import graft.query.{BM25Index, QueryEngine, Rm3}
import graft.tokenize.Tokenizer

/** What one run of a query workload works on. */
final class Env(val spark: SparkSession, val index: BM25Index,
                val corpus: DataFrame, val queries: Seq[(String, String)],
                val sample: Seq[String], val stats: Option[SparkStats]) {
  import spark.implicits._
  val qdf: DataFrame = queries.toDF("qid", "query")
  def sampleDf: DataFrame = queries.filter(q => sample.contains(q._1)).toDF("qid", "query")
}

/** A query workload: one operation repeated through the timed window, the
  * reference its sampled output is checked against, the path it must take,
  * and its traced decomposition.
  */
sealed trait QueryWorkload {
  def name: String
  def k: Int
  def nQueries: Int

  /** Fails unless the engine's public switches route this workload down
    * its intended path; returns the path taken, for the run's record.
    */
  def assertPath(spark: SparkSession, index: BM25Index): Map[String, String]

  /** The timed operation's result. */
  def run(env: Env): DataFrame

  /** Reference result for the sampled queries, from another engine path. */
  def reference(env: Env): DataFrame

  /** Root span name of a traced call. */
  def root: String

  /** One traced call: the operation decomposed into layer spans. */
  def traced(env: Env, tr: Tracer, sink: DataFrame => Unit, probe: LayerProbe): Unit

  /** The layer family the operation does not run, traced on the same
    * index, so every workload reports every per-layer metric.
    */
  def crossProbe(env: Env, tr: Tracer, sink: DataFrame => Unit, probe: LayerProbe): Unit
}

object QueryWorkload {
  val all: Seq[QueryWorkload] = Seq(BatchK1000, Rm3K100)
  def byName(n: String): Option[QueryWorkload] = all.find(_.name == n)

  /** Kernel the WAND path picks for a batch (QueryEngine.wandPartials' rule). */
  def kernelOf(spark: SparkSession, k: Int, nQ: Int): String =
    if (k >= QueryEngine.scoreAllMinK(spark) || nQ >= QueryEngine.taatMinBatchQueries(spark))
      "taat" else "daat"

  /** Finish join the WAND path picks for nQ x k hits. */
  def finishOf(spark: SparkSession, k: Int, nQ: Int): String =
    if (nQ.toLong * k <= QueryEngine.broadcastHitsMaxRows(spark)) "broadcast"
    else "shuffle_hash"

  def require(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"path assertion failed: $what")
}

/** Counters measured on the side of a traced call. */
final class LayerProbe {
  var scanRowsRead = 0L
  var candidatePostings = 0L
  var partialRows = 0L
  var hits = 0L
  var docvecsRowsRead = 0L
}

/** 1200-query batches through searchWand at k=1000: the reference
  * harness's protocol depth. TAAT kernel, shuffle-hash finish join.
  */
object BatchK1000 extends QueryWorkload {
  val name = "batch_k1000"
  val k = 1000
  val nQueries = 1200

  def assertPath(spark: SparkSession, index: BM25Index): Map[String, String] = {
    val kernel = QueryWorkload.kernelOf(spark, k, nQueries)
    val finish = QueryWorkload.finishOf(spark, k, nQueries)
    QueryWorkload.require(kernel == "taat", s"$name must run TAAT, got $kernel")
    QueryWorkload.require(finish == "shuffle_hash",
      s"$name must use the shuffle-hash finish, got $finish")
    QueryWorkload.require(nQueries <= QueryEngine.wandQueryChunkRows(spark),
      s"$name batch must fit one query chunk")
    Map("kernel" -> kernel, "finish" -> finish)
  }

  def run(env: Env): DataFrame = QueryEngine.searchWand(env.index, env.qdf, k)

  def reference(env: Env): DataFrame = QueryEngine.searchExact(env.index, env.sampleDf, k)

  val root = "query_call"

  def traced(env: Env, tr: Tracer, sink: DataFrame => Unit, probe: LayerProbe): Unit =
    Layers.searchReplay(env, env.qdf, k, tr, sink, probe)

  /** RM3 over the batch's first queries. */
  def crossProbe(env: Env, tr: Tracer, sink: DataFrame => Unit, probe: LayerProbe): Unit = {
    import env.spark.implicits._
    val hits = probe.hits
    Layers.rm3Phases(env, env.queries.take(Rm3K100.nQueries).toDF("qid", "query"),
      tr, sink, probe)
    probe.hits = hits
  }
}

/** 100-query batches through Rm3.searchIndexed (fbDocs=10, fbTerms=10,
  * alpha=0.5, k=100): the only reader of the stored doc vectors and of the
  * weighted-term path. Both passes run the DAAT kernel.
  */
object Rm3K100 extends QueryWorkload {
  val name = "rm3_k100"
  val k = 100
  val fbDocs = 10
  val fbTerms = 10
  val alpha = 0.5
  val nQueries = 100

  def assertPath(spark: SparkSession, index: BM25Index): Map[String, String] = {
    QueryWorkload.require(index.hasDocVectors && index.docvecsFormat == "packed",
      s"$name needs packed doc vectors, index has ${index.docvecsFormat}")
    val k1 = QueryWorkload.kernelOf(spark, fbDocs, nQueries)
    val k2 = QueryWorkload.kernelOf(spark, k, nQueries)
    QueryWorkload.require(k1 == "daat" && k2 == "daat",
      s"$name must run DAAT in both passes, got $k1/$k2")
    Map("kernel" -> s"$k1/$k2", "docvecs" -> index.docvecsFormat,
      "finish" -> (QueryWorkload.finishOf(spark, fbDocs, nQueries) + "/" +
        QueryWorkload.finishOf(spark, k, nQueries)))
  }

  def run(env: Env): DataFrame =
    Rm3.searchIndexed(env.index, env.qdf, k, fbDocs, fbTerms, alpha)

  def reference(env: Env): DataFrame =
    Rm3.searchIndexedRetokenize(env.index, env.corpus, env.sampleDf, k,
      fbDocs, fbTerms, alpha)

  val root = "rm3_call"

  def traced(env: Env, tr: Tracer, sink: DataFrame => Unit, probe: LayerProbe): Unit =
    Layers.rm3Phases(env, env.qdf, tr, sink, probe)

  /** The search layers of the first pass (k = fbDocs). */
  def crossProbe(env: Env, tr: Tracer, sink: DataFrame => Unit, probe: LayerProbe): Unit =
    Layers.searchReplay(env, env.qdf, fbDocs, tr, sink, probe)
}

/** Layer decompositions of a call, built from the engine's public and
  * `private[graft]` entry points.
  */
object Layers {

  /** A searchWand call, then replays of its layers. Each replay is a child
    * of the span whose work contains it, so self times give the layers:
    *
    *   query.search   the real call, results to the sink   (self = finish)
    *     query.prep     limit-collect + Tokenizer.tokenizeScalar
    *     query.partials wandPartials, counted               (self = kernel)
    *       query.decode   candidate scan + block decode     (self = decode)
    *         query.scan     bucket- and term-pushed candidate scan
    *
    * The replayed jobs are small next to Spark's fixed cost per job, so
    * each runs three times and its fastest run is the recorded span.
    */
  def searchReplay(env: Env, qdf: DataFrame, k: Int, tr: Tracer,
                   sink: DataFrame => Unit, probe: LayerProbe): Unit = {
    val index = env.index
    val (_, search) = tr.spanOf("query.search")(sink(QueryEngine.searchWand(index, qdf, k)))
    tr.under(search) {
      val qArr = tr.span("query.prep")(prep(index, qdf))
      val terms = qArr.flatMap(_._2.map(_._1)).distinct.toSeq
      val buckets = terms
        .map(t => graft.util.Hashing.bucketOfTerm(t, index.numBuckets)).distinct
      def cand = index.postings
        .where(col("bucket").isInCollection(buckets))
        .where(col("term").isInCollection(terms))
      val partials = fastest(tr, "query.partials") {
        probe.partialRows = QueryEngine.wandPartials(index, qArr, k).count()
      }
      tr.under(partials) {
        val decode = fastest(tr, "query.decode") {
          cand.select(explode(col("blocks")).as("b"))
            .select(CodecExprs.varbyteDecode(col("b.ids"), col("b.n")).as("ids"),
              CodecExprs.floatsDecode(col("b.imps")).as("imps"))
            .select((element_at(col("ids"), -1) + element_at(col("imps"), -1)).as("s"))
            .agg(sum("s")).head()
        }
        def scan() = cand.agg(sum(col("count")), sum(size(col("blocks")))).head()
        tr.under(decode)(fastest(tr, "query.scan")(scan()))
        val (row, read) = window(env)(scan())
        probe.candidatePostings = if (row.isNullAt(0)) 0L else row.getLong(0)
        probe.scanRowsRead = read
      }
    }
  }

  /** Run `f` three times and record the fastest run as span `name`. */
  private def fastest(tr: Tracer, name: String)(f: => Unit): Int = {
    val runs = (1 to 3).map { _ =>
      val s = System.nanoTime(); f; (s, System.nanoTime())
    }
    val (s, e) = runs.minBy { case (s, e) => e - s }
    tr.record(name, s, e)
  }

  /** Records read by the parquet and cache scans of `f`. */
  private def window[A](env: Env)(f: => A): (A, Long) = env.stats match {
    case Some(s) => val (a, t) = s.window(f); (a, t.recordsRead)
    case None => (f, 0L)
  }

  /** searchWand's driver-side prep for a batch that fits one chunk: the
    * limit-collect of the raw rows and scalar tokenization into per-query
    * (term, qtf) arrays.
    */
  def prep(index: BM25Index, qdf: DataFrame): Array[(String, Array[(String, Double)])] = {
    val head = qdf.select(col("qid"), col("query"))
      .limit(QueryEngine.wandQueryChunkRows(index.spark) + 1).collect()
    head.map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
      .groupBy(_._1).iterator.map { case (qid, rows) =>
        val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        rows.foreach { case (_, text) =>
          Tokenizer.tokenizeScalar(text, index.tokenPattern, index.stem)
            .foreach(t => counts.update(t, counts.getOrElse(t, 0.0) + 1.0))
        }
        (qid, counts.toArray)
      }.filter(_._2.nonEmpty).toArray
  }

  /** Rm3.searchIndexed's phases run one after another, each materialized,
    * each a span: rm3.pass1 (searchWand at fbDocs), rm3.fetch
    * (Rm3.feedbackVectors), rm3.expand (Rm3.expandWeights), rm3.pass2
    * (searchWandWeighted, results to the sink).
    */
  def rm3Phases(env: Env, qdf: DataFrame, tr: Tracer, sink: DataFrame => Unit,
                probe: LayerProbe): Unit = {
    import Rm3K100._
    val index = env.index
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      persisted += df.persist(StorageLevel.MEMORY_AND_DISK); df.count(); df
    }
    try {
      val fb = tr.span("rm3.pass1")(keep(QueryEngine.searchWand(index, qdf, fbDocs)
        .select(col("qid"), col("docId"), col("score"))))
      val (docTf, dl) = tr.span("rm3.fetch") {
        val ((t, d), read) = window(env) {
          val (t, d) = Rm3.feedbackVectors(index, fb.select("docId"))
          (keep(t), keep(d))
        }
        probe.docvecsRowsRead = read
        (t, d)
      }
      val weights = tr.span("rm3.expand")(keep(Rm3.expandWeights(fb, docTf, dl,
        queryTf(index, qdf), fbTerms, alpha, docCol = "docId")))
      tr.span("rm3.pass2")(sink(QueryEngine.searchWandWeighted(index, weights, k)))
    } finally persisted.foreach(_.unpersist())
  }

  /** Original query model (qid, term, qtf), as Rm3 tokenizes it. */
  private def queryTf(index: BM25Index, qdf: DataFrame): DataFrame =
    qdf.select(col("qid"),
      explode(Tokenizer.tokens(col("query"), index.tokenPattern, index.stem)).as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).as("qtf"))
}
