package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Codec, IndexBuilder}
import graft.index.expr.CodecExprs
import graft.score.BM25Params
import graft.store.IcebergLikeStore
import graft.tokenize.Tokenizer

/** Handle over a built index (tables + scoring metadata from the commit
  * log, so query-side params can't drift from the build — the lesson of the
  * reference's Elasticsearch settings dance, benchmark/on_elastic.py:72-112).
  * It opens only an index of `IndexBuilder.FormatVersion`: the properties
  * it reads are then all there, and every table has the current layout.
  */
class BM25Index(val spark: SparkSession, val indexDir: String) {
  val store = new IcebergLikeStore(indexDir)
  require(store.isComplete, s"index at $indexDir has no _properties.json (incomplete build)")
  val props: Map[String, String] = store.readProperties()
  IndexBuilder.checkFormat(indexDir, "_properties.json", props)
  val params: BM25Params = BM25Params(
    k1 = props("k1").toDouble, b = props("b").toDouble,
    delta = props("delta").toDouble, method = props("method"))
  val tokenPattern: String = props("tokenPattern")
  /** Stemming on/off, read from the build's properties. */
  val stem: Boolean = props("stemmer") != "none"
  val numDocs: Long = props("numDocs").toLong
  val avgdl: Double = props("avgdl").toDouble
  val numBuckets: Int = props("numBuckets").toInt
  val numSalts: Int = props("numSalts").toInt
  val saltShift: Int = props("saltShift").toInt

  /** Index tables are opened ONCE per handle: each `spark.read.parquet`
    * re-lists the table and runs a schema job, so a `def` paid that job on
    * every search call. Opening once also pins the handle's view to the
    * files it listed first (a rebuild into the same dir needs a new handle).
    */
  lazy val postings: DataFrame = spark.read.parquet(s"$indexDir/postings")

  /** Per-term global stats (term, df, ctf) — the query-side term
    * dictionary. Full-vocabulary scans of this table are the FALLBACK
    * path; bounded term sets resolve df through the bucket-pruned
    * postings scan instead (QueryEngine.postingTermDf).
    */
  lazy val termstats: DataFrame = spark.read.parquet(s"$indexDir/termstats")

  /** Whether this index stores per-document term vectors (the Pyserini
    * `--storeDocvectors` analogue): always true, since the segment groups'
    * output is the packed docvecs table. Read from the properties for
    * callers that report the layout; no engine code branches on it.
    */
  val hasDocVectors: Boolean = props("docVectors") == "true"

  /** Docvecs layout, from the properties: always "packed", one row per doc
    * (docIntId, docId, len, terms[], tfs[]). Reported, never branched on.
    */
  val docvecsFormat: String = props("docvecsFormat")

  /** Stored doc term vectors, salt-partitioned and docIntId-sorted within
    * files, read with [[IndexBuilder.DocvecsSchema]] (an empty corpus
    * writes no data file to infer it from) — fetch through
    * Rm3.feedbackVectors so partition + row-group pruning apply.
    */
  lazy val docvecs: DataFrame =
    spark.read.schema(IndexBuilder.DocvecsSchema).parquet(s"$indexDir/docvecs")

  /** docs dimension (docIntId, docId, len, salt): the projection of the
    * packed [[docvecs]] rows. Cached MEMORY_AND_DISK for doc-filter
    * resolution, the [[docIdDict]] build,
    * RM3's declarative feedback fetch and the finish join above
    * `broadcastHitsMaxRows` docs; up to that bound as one partition, so
    * `collectAllowed`'s limit-collect runs one job (BASELINE "Store each
    * document once"). Repartitioning by docIntId measured SLOWER.
    */
  lazy val docs: DataFrame = docvecs.select("docIntId", "docId", "len", "salt")
    .transform(p => if (numDocs <= QueryEngine.broadcastHitsMaxRows(spark)) p.coalesce(1) else p)
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The docId dictionary of an index of at most `broadcastHitsMaxRows`
    * docs ([[QueryEngine.finishTopK]] checks the bound): built on first use
    * by one collect of the cached [[docs]] projection's (docIntId, docId),
    * which a doc filter has often materialized already, and broadcast once
    * per handle. It retains ~150 bytes per doc on the driver
    * with 42-character docIds (the deserialized arrays plus the broadcast's
    * serialized blocks), ~70 MB at 480k docs.
    */
  private[graft] lazy val docIdDict: Broadcast[DocIdDict] = {
    import spark.implicits._
    val pairs = docs.select(col("docIntId"), col("docId")).as[(Long, String)].collect()
      .sortBy(_._1)
    spark.sparkContext.broadcast(new DocIdDict(pairs.map(_._1), pairs.map(_._2)))
  }
}

/** docIntId → docId over the whole docs dimension: `ids` ascending, `docIds`
  * beside them. Resolves only final top-k hits, by binary search.
  */
final class DocIdDict(ids: Array[Long], docIds: Array[String]) extends Serializable {
  def docIdOf(docIntId: Long): String = {
    val i = java.util.Arrays.binarySearch(ids, docIntId)
    if (i < 0) throw new IllegalStateException(s"docIntId $docIntId is not in the docs dimension")
    docIds(i)
  }
}

/** Batch top-k retrieval over a BM25Index. Two physical paths, cross-checked
  * in tests exactly like the reference cross-asserts its numpy/numba/jax
  * backends with np.allclose (benchmark/on_bm25s.py:163-211):
  *
  *  - `searchExact`: declarative Catalyst plan — query terms broadcast-join
  *    postings (with bucket partition pruning + term predicate pushdown),
  *    block decode via native codegen expressions, hash-agg score sum,
  *    bounded-heap grouped top-k. The Spark-native analogue of the
  *    reference's dense score-all + argpartition (Q1+Q2, SURVEY.md §2.5) —
  *    sparse by construction: only docs containing a query term are touched.
  *
  *  - `searchWand`: per-(term,salt) posting runs are repartitioned by salt
  *    bucket and query group (contiguous doc ranges), and each task runs
  *    document-at-a-time WAND with block-max skipping (or term-at-a-time
  *    accumulation at deep k) into a bounded heap per query; each query's
  *    unsorted heap arrays then meet in one select+sort of its top k. The
  *    analogue of PISA's `block_max_maxscore` (benchmark/on_pisa.py:51,98-100).
  *
  * Every kernel-backed entry point — `searchWand`, `searchWandWeighted`
  * and `Rm3.searchIndexed` — takes ONE route ([[route]]): a single probe,
  * doc-filter resolution with its over-bound fallback, driver-held query
  * chunks through the kernels, and a finish that stays lazy for an
  * unfiltered single chunk and spills for a filtered or over-chunk batch.
  *
  * Query semantics pinned by the reference (benchmark/on_bm25s.py:131-150):
  * duplicate query tokens contribute once per occurrence (qtf multiplier);
  * OOV query terms contribute 0; queries whose tokens are all stopwords /
  * OOV produce no result rows (the reference returns arbitrary zero-score
  * docs there — under-determined, see SURVEY.md §5.2).
  *
  * Result ordering: (score DESC, docId ASC by surrogate id) with rank 1..k.
  */
object QueryEngine {

  /** Tokenized query chunk on the driver: (qid, [(term, weight)]) per query. */
  private[graft] type QueryArr = Array[(String, Array[(String, Double)])]

  /** Tokenized, term-frequency-weighted queries: (qid, term, qtf). */
  private[query] def queryTerms(index: BM25Index, queries: DataFrame): DataFrame =
    queries
      .select(col("qid"),
        explode(Tokenizer.tokens(col("query"), index.tokenPattern, index.stem))
          .as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).cast("double").as("qtf"))

  /** Above this many distinct terms, the candidate filter switches from an
    * In() literal (term pushdown to parquet row groups) to a broadcast
    * semi-join: a 100k-term In literal bloats plan size/planning time and
    * the row-group stats stop helping at that selectivity anyway.
    */
  private[query] val MaxInListTerms = 8192

  /** Candidate posting rows for the given term set, with bucket partition
    * pruning (terms hash to a known bucket subset) and term pushdown.
    */
  private def candidates(index: BM25Index, terms: Seq[String]): DataFrame = {
    val buckets = terms
      .map(t => graft.util.Hashing.bucketOfTerm(t, index.numBuckets)).distinct
    val byBucket = index.postings
      .where(col("bucket").isInCollection(buckets))
    if (terms.size <= MaxInListTerms)
      byBucket.where(col("term").isInCollection(terms))
    else {
      import index.spark.implicits._
      byBucket.join(
        broadcast(terms.toDF("term").distinct()), Seq("term"), "left_semi")
    }
  }

  /** Exact global df for a bounded term set via the bucket-pruned,
    * term-pushed postings scan (df rides on every posting row) — no
    * vocabulary-wide termstats scan. Result: (term, df), one row per
    * term present in the index.
    */
  private[query] def postingTermDf(index: BM25Index, terms: Seq[String]): DataFrame =
    candidates(index, terms)
      .select(col("term"), col("df"))
      .dropDuplicates("term")

  /** Max allowed-doc rows a query-time doc filter may collect and broadcast
    * into the WAND/TAAT kernels (sorted long array; 2M docs ≈ 16 MiB).
    * Filters selecting more docs than this fall back to the declarative
    * semi-join scoring path — still exact, fully distributed, no driver
    * materialization of the allowed set.
    */
  def filterMaxBroadcastDocs(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.filterMaxBroadcastDocs")
      .map(_.toInt).getOrElse(1 << 21)

  /** The allowed docIntId set for a query-time doc filter, as a sorted
    * array IF it fits `filterMaxBroadcastDocs` (one bounded limit-collect
    * job against the cached docs dimension), else None — callers then use
    * a distributed semi-join instead of a kernel-side membership test.
    */
  private[graft] def collectAllowed(index: BM25Index,
                                    docFilter: Column): Option[Array[Long]] = {
    val bound = filterMaxBroadcastDocs(index.spark)
    // bound + 1 would wrap negative at Int.MaxValue ("no cap" config)
    val lim = math.min(bound.toLong + 1L, Int.MaxValue.toLong).toInt
    val rows = index.docs.where(docFilter).select(col("docIntId"))
      .limit(lim).collect()
    if (rows.length > bound) None
    else {
      val arr = rows.map(_.getLong(0))
      java.util.Arrays.sort(arr)
      Some(arr)
    }
  }

  /** Max hit rows (nQueries × k) the finish join may broadcast, and max
    * docs of an index whose finish resolves docIds from the handle's
    * broadcast [[BM25Index.docIdDict]] instead of joining. Above both the
    * join is a shuffled hash join (hits as build side — docs is never
    * sorted or broadcast). 10k queries × k=1000 would otherwise push a
    * 10M-row broadcast to the driver + every executor.
    */
  def broadcastHitsMaxRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.broadcastHitsMaxRows")
      .map(_.toLong).getOrElse(1L << 20)

  /** Ranked hits (qid, docIntId, score, rank): at most nQueries × k rows. */
  private type Hits = Dataset[(String, Long, Double, Int)]

  /** The docId resolution shared by both paths, over the ranked hit set.
    * An index of at most `broadcastHitsMaxRows` docs maps each hit through
    * [[BM25Index.docIdDict]] in the task that ranked it: no join, no docs
    * scan and no exchange. A larger index joins the hits with the docs
    * dimension: broadcast hits up to `broadcastHitsMaxRows` hit rows,
    * shuffled hash above (hits as the hash build side; docs is never
    * sorted or broadcast). The exact path ranks with the grouped
    * [[topHits]] udaf, the kernel path with [[mergePartials]].
    */
  private def finishTopK(index: BM25Index, hits: Hits, k: Int,
                         nQueries: Long): DataFrame = {
    val bound = broadcastHitsMaxRows(index.spark)
    if (index.numDocs <= bound) {
      import index.spark.implicits._
      val dict = index.docIdDict
      hits.map { case (qid, id, score, rank) => (qid, dict.value.docIdOf(id), score, rank) }
        .toDF("qid", "docId", "score", "rank")
    } else {
      val h = hits.toDF("qid", "docIntId", "score", "rank")
      val joined =
        if (nQueries * k <= bound) index.docs.join(broadcast(h), "docIntId")
        else index.docs.join(h.hint("shuffle_hash"), "docIntId")
      joined.select(col("qid"), col("docId"), col("score"), col("rank"))
    }
  }

  /** The exact path's ranking: grouped bounded-heap top-k per qid through
    * the [[TopKAggregator]] udaf, exploded to (qid, docIntId, score, rank).
    */
  private def topHits(scored: DataFrame, k: Int): Hits = {
    import scored.sparkSession.implicits._
    val topk = udaf(new TopKAggregator(k), Encoders.product[ScoredDoc])
    scored.groupBy("qid").agg(topk(col("docIntId"), col("score")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.docId").as("docIntId"),
        col("hit.score").as("score"), (col("pos") + 1).cast("int").as("rank"))
      .as[(String, Long, Double, Int)]
  }

  /** Final hits (nQueries × k) per merge task. A batch of fewer than
    * S × G × this hits merges in fewer tasks than the kernel's S × G, down
    * to one, so a small call's finished rows do not land in S × G
    * near-empty partitions or spilled files. The docs join used to gather
    * them into one; without it the driver suite's filtered indexed entry
    * ran slower until this bound.
    */
  private val MergeTaskHits = 1L << 16

  /** The kernel path's ranking: kernel partials (qidx, docIntIds, scores —
    * unsorted heap arrays, see [[wandPartials]]) repartitioned by qidx into
    * the kernel's own S × G partitions (fewer for a batch of under
    * S × G × [[MergeTaskHits]] hits), then ONE select+sort per query
    * ([[TopKAggregator.selectSorted]]: the best k of its ≤ S × k entries,
    * and only those sorted) that emits the final top-k with ranks, its qid
    * read from the chunk's query broadcast. A merge task holds its
    * queries' lists, about one kernel task's heap rows; with the docId
    * dictionary, [[finishTopK]]'s lookup runs in the same task.
    */
  private def mergePartials(partials: Partials, k: Int): Hits = {
    import partials.df.sparkSession.implicits._
    val bq = partials.bq
    val nParts = math.min(partials.nParts.toLong,
      (bq.value.length.toLong * k + MergeTaskHits - 1) / MergeTaskHits).toInt
    partials.df.repartition(nParts, col("qidx"))
      .as[(Int, Array[Long], Array[Double])]
      .mapPartitions { rows =>
        val byQuery = scala.collection.mutable.HashMap
          .empty[Int, scala.collection.mutable.ArrayBuffer[(Array[Long], Array[Double])]]
        rows.foreach { case (q, ids, scores) =>
          byQuery.getOrElseUpdate(q, scala.collection.mutable.ArrayBuffer.empty) +=
            ((ids, scores))
        }
        byQuery.iterator.flatMap { case (q, lists) =>
          val qid = bq.value(q)._1
          val (ids, scores) = TopKAggregator.selectSorted(lists, k)
          Iterator.tabulate(ids.length)(i => (qid, ids(i), scores(i), i + 1))
        }
      }
  }

  /** One chunk's top-k hits collected to the driver BEFORE the docs join:
    * (docIntId, score) in rank order, indexed by the query's position in
    * `qArr`, with no docId round trip. The kernel's unsorted lists are
    * collected as they are and each query's best k selected and sorted on
    * the driver ([[TopKAggregator.selectSorted]]), so the collect runs no
    * exchange. It is bounded by nQ × S × k entries (S salt buckets, see
    * [[wandPartials]]) plus one list per query for each early drain.
    * Destroys the chunk's query broadcast (the collect has run).
    */
  private[query] def collectTopHits(index: BM25Index, qArr: QueryArr, k: Int,
      allowedBc: Option[Broadcast[Array[Long]]]): Array[Array[(Long, Double)]] = {
    val p = wandPartialsWithHandle(index, qArr, k, allowedBc)
    import index.spark.implicits._
    val lists = Array.fill(qArr.length)(List.empty[(Array[Long], Array[Double])])
    try p.df.as[(Int, Array[Long], Array[Double])].collect().foreach {
      case (q, ids, scores) => lists(q) = (ids, scores) :: lists(q)
    } finally p.bq.destroy()
    lists.map { l =>
      val (ids, scores) = TopKAggregator.selectSorted(l, k)
      ids.zip(scores)
    }
  }

  /** Exact path: join + aggregate over decoded blocks.
    *
    * This is the declarative cross-check twin (the role rank_bm25 /
    * bm25s's numpy backend plays in the reference), not the batch
    * engine: the postings⋈query-terms join fans out each posting once
    * per query sharing the term, so batches with many term-overlapping
    * queries pay #postings × #sharing-queries — use searchWand for
    * throughput work.
    */
  def searchExact(index: BM25Index, queries: DataFrame, k: Int,
                  docFilter: Option[Column] = None): DataFrame =
    searchExactTerms(index, queryTerms(index, queries), k, docFilter,
      tryBroadcastFilter = true)

  /** Exact path over pre-tokenized weighted terms (qid, term, qtf) — the
    * declarative twin shared by the text entry point and the kernel
    * route's over-bound filter fallbacks. `tryBroadcastFilter = false`:
    * the caller's `collectAllowed` already proved the filter exceeds the
    * broadcast bound, so re-running the bounded limit-collect here would
    * repeat a multi-million-row driver job just to rediscover None.
    */
  private[query] def searchExactTerms(index: BM25Index, qt: DataFrame, k: Int,
                               docFilter: Option[Column],
                               tryBroadcastFilter: Boolean): DataFrame = {
    if (index.numDocs == 0) return emptyResult(index.spark)
    // ONE job collects the distinct term set AND the distinct-qid count
    // (the finish-join row bound) — previously a separate queries.count()
    // job ran per call (searchWand's limit-collect lesson, ported)
    val agg = qt.agg(collect_set(col("term")), countDistinct(col("qid"))).head()
    val terms = agg.getSeq[String](0)
    val nQueries = agg.getLong(1)
    if (terms.isEmpty) return emptyResult(index.spark)
    // pair expansion via posexplode + element_at (both codegen): zip_with
    // is CodegenFallback — interpreted per element, measured 460s vs ~8s
    // for the whole path at 480k docs / 9.5M candidate postings
    val cand = candidates(index, terms)
      .select(col("term"), explode(col("blocks")).as("block"))
      .select(col("term"),
        CodecExprs.varbyteDecode(col("block.ids"), col("block.n")).as("ids"),
        CodecExprs.floatsDecode(col("block.imps")).as("imps"))
      .join(broadcast(qt), "term")
      .select(col("qid"), col("qtf"), col("imps"),
        posexplode(col("ids")).as(Seq("pos", "docIntId")))
      .select(col("qid"), col("docIntId"),
        (element_at(col("imps"), col("pos") + 1) * col("qtf")).as("contrib"))
    // filtered retrieval (Lucene filter semantics: stats stay global): the
    // allowed set semi-joins the candidate stream BEFORE aggregation and
    // top-k — broadcast when it fits the bound, shuffled hash otherwise
    // (the scale path for low-selectivity filters; never a driver set)
    val flt = docFilter match {
      case None => cand
      case Some(f) =>
        val spark = index.spark
        val allowed = if (tryBroadcastFilter) collectAllowed(index, f) else None
        allowed match {
          case Some(arr) =>
            import spark.implicits._
            cand.join(broadcast(arr.toSeq.toDF("docIntId")),
              Seq("docIntId"), "left_semi")
          case None =>
            cand.join(
              index.docs.where(f).select("docIntId").hint("shuffle_hash"),
              Seq("docIntId"), "left_semi")
        }
    }
    val scored = flt.groupBy("qid", "docIntId")
      .agg(sum("contrib").as("score"))
    finishTopK(index, topHits(scored, k), k, nQueries)
  }

  /** Driver-side query chunk size for the WAND path: each chunk's tokenized
    * query terms are broadcast to executors (the WAND kernel needs a whole
    * query's cursors in one task). Chunking bounds driver + broadcast memory
    * at training-pipeline query volumes; `toLocalIterator` streams chunks so
    * the full query set is never materialized on the driver at once.
    */
  def wandQueryChunkRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.wandQueryChunkRows")
      .map(_.toInt).getOrElse(20000)

  /** At k ≥ this, the per-salt kernel switches from document-at-a-time WAND
    * to term-at-a-time dense accumulation (Wand.SaltTaat): deep-k thresholds
    * rise too slowly for block-max skipping to pay for cursor overhead —
    * the regime where the reference's own fast engine (bm25s) scores all
    * docs and argpartitions (benchmark/on_bm25s.py:144-150).
    */
  def scoreAllMinK(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.scoreAllMinK")
      .map(_.toInt).getOrElse(128)

  /** At ≥ this many queries per chunk, TAAT is selected even at small k:
    * a large batch amortizes each (term,salt) run's decode across many
    * queries and raw array accumulation beats per-query cursor machinery
    * (measured 2.6× at 2.4M docs × 5000 queries × k=10). Small batches /
    * single queries keep DAAT WAND, whose block-max skipping wins when
    * decode sharing is moot.
    */
  def taatMinBatchQueries(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.taatMinBatchQueries")
      .map(_.toInt).getOrElse(128)

  /** Salt-bucket cap S of the deep-k (TAAT) kernel fan-out. 4 won the
    * sweeps at 480k docs × 1200 queries × k=1000 (BASELINE.md "Deep-k
    * salt-bucket cap"): 4.6 s at S=4 vs 6.6 s at S=8 and 76 s at S=1,
    * G=64 on the round-2 kernel; S ∈ {2,4,6} re-checked on round 3's
    * direct-heap kernel, S=4 still best. Every one of those sweeps ran
    * under the old hashed placement (pmod(hash(salt), S), then a hash of
    * (bucket, group) into S × G partitions), which left some tasks
    * without rows; none has run under [[saltBucket]]'s round-robin one.
    */
  private val DeepKSaltBuckets = 4

  /** Weighted terms (qid, term, qtf) grouped per query: (qid, ts[(term, qtf)]). */
  private def groupTerms(qt: DataFrame): DataFrame =
    qt.groupBy("qid").agg(collect_list(struct(col("term"), col("qtf"))).as("ts"))

  private def decodeGrouped(r: Row): (String, Array[(String, Double)]) =
    (r.getString(0),
      r.getSeq[Row](1).map(t => (t.getString(0), t.getDouble(1))).toArray)

  /** WAND path: per-salt pruned scan (kernel chosen by depth) through the
    * kernel [[route]]. The common case (batch fits one chunk) is ONE
    * optimistic limit-collect job that ships the RAW (qid, query) rows —
    * tokenization/qtf for a bounded batch runs driver-side through the
    * scalar twin of TokenizeExpr (behavior-identical, tested), so no
    * per-call tokenize job or count() job exists; only over-chunk batches
    * fall back to a counted distributed streaming pass. A doc filter over
    * the broadcast bound scores through the declarative semi-join path.
    */
  def searchWand(index: BM25Index, queries: DataFrame, k: Int,
                 docFilter: Option[Column] = None): DataFrame =
    routeText(index, queries, k, docFilter, wandQueryChunkRows(index.spark))(
      searchExactTerms(index, queryTerms(index, queries), k, docFilter,
        tryBroadcastFilter = false),
      (qArr, _) => qArr)

  /** Driver-side tokenization of a bounded (qid, query) batch through the
    * scalar twin of TokenizeExpr (behavior-identical, tested): duplicate
    * qid rows merge their token multisets (parity with the distributed
    * groupBy(qid, term) path), and all-stopword/empty queries are dropped.
    */
  private[query] def tokenizeRows(index: BM25Index, rows: Array[Row]): QueryArr =
    rows.map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
      .groupBy(_._1).iterator
      .map { case (qid, rs) =>
        val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        rs.foreach { case (_, text) =>
          Tokenizer.tokenizeScalar(text, index.tokenPattern, index.stem)
            .foreach(t => counts.update(t, counts.getOrElse(t, 0.0) + 1.0))
        }
        (qid, counts.toArray)
      }
      .filter(_._2.nonEmpty)
      .toArray

  /** [[route]] over a (qid, query) text batch: the probe ships raw rows
    * that [[tokenizeRows]] tokenizes on the driver; an over-chunk batch
    * streams the distributed tokenization instead.
    */
  private[query] def routeText(index: BM25Index, queries: DataFrame, k: Int,
      docFilter: Option[Column], chunkRows: Int)(
      overBound: => DataFrame,
      step: (QueryArr, Option[Broadcast[Array[Long]]]) => QueryArr): DataFrame =
    route(index, k, docFilter, queries.select(col("qid"), col("query")), chunkRows)(
      tokenizeRows(index, _), groupTerms(queryTerms(index, queries)),
      overBound, step)

  /** The one route of every kernel-backed entry point (searchWand,
    * searchWandWeighted, Rm3.searchIndexed), in this order:
    *
    *  1. An empty index returns at once: its postings table has no
    *     partitions, so the candidate scan's columns would not resolve.
    *  2. ONE optimistic probe collects up to `chunkRows + 1` rows of
    *     `probe`. A batch that fits is one chunk, decoded on the driver by
    *     `decode`; if it has no query with terms it returns here, before
    *     any filter job or broadcast.
    *  3. The doc filter resolves: an allowed set within
    *     `filterMaxBroadcastDocs` becomes one broadcast sorted array,
    *     checked at kernel heap/accumulator insertion (upper bounds are
    *     unchanged and the threshold only reflects allowed docs, so WAND
    *     pruning stays exact); an empty one returns an empty result; an
    *     over-bound one returns `overBound`, the declarative semi-join
    *     path (exact and distributed at any selectivity).
    *  4. Each chunk runs `step` (the identity, or RM3's pass 1 and
    *     expansion) and then the kernel and finish. An unfiltered single
    *     chunk stays lazy. A filtered or over-chunk batch spills its
    *     finished rows ([[spillChunks]]), so every broadcast is destroyed
    *     before this returns (an allowed set is up to ~16 MiB; left to
    *     ContextCleaner GC, a long-lived session of repeated filtered
    *     queries would pin them); an over-chunk batch streams its chunks from
    *     `grouped` (qid, ts[(term, weight)]), persisted once for the count
    *     and the stream.
    *  5. The allowed-set broadcast is destroyed in a finally, also when a
    *     chunk fails (say, a negative weight's `require`).
    */
  private def route(index: BM25Index, k: Int, docFilter: Option[Column],
      probe: DataFrame, chunkRows: Int)(
      decode: Array[Row] => QueryArr, grouped: => DataFrame,
      overBound: => DataFrame,
      step: (QueryArr, Option[Broadcast[Array[Long]]]) => QueryArr): DataFrame = {
    val spark = index.spark
    if (index.numDocs == 0) return emptyResult(spark)
    val head = probe.limit(chunkRows + 1).collect()
    val single = head.length <= chunkRows
    val qArr: QueryArr = if (single) decode(head).filter(_._2.nonEmpty) else Array.empty
    if (single && qArr.isEmpty) return emptyResult(spark)
    val allowedBc = docFilter match {
      case None => None
      case Some(f) => collectAllowed(index, f) match {
        case Some(arr) if arr.isEmpty => return emptyResult(spark)
        case Some(arr) => Some(spark.sparkContext.broadcast(arr))
        case None => return overBound
      }
    }
    def run(chunk: QueryArr): Option[(DataFrame, Broadcast[_])] = {
      val live = step(chunk, allowedBc).filter(_._2.nonEmpty)
      if (live.isEmpty) None
      else {
        val p = wandPartialsWithHandle(index, live, k, allowedBc)
        Some((finishTopK(index, mergePartials(p, k), k, live.length), p.bq))
      }
    }
    try {
      if (single && allowedBc.isEmpty) run(qArr).fold(emptyResult(spark))(_._1)
      else if (single) spillChunks(index, Iterator(qArr))(run)
      else {
        val g = grouped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try spillChunks(index, streamChunks(g, chunkRows))(run)
        finally g.unpersist()
      }
    } finally allowedBc.foreach(_.destroy())
  }

  /** Streams a grouped (qid, ts[(term, weight)]) frame through the driver
    * in chunks of at most `chunkRows` queries with terms. toLocalIterator
    * runs a job per partition, so one count sizes the partitions to the
    * chunk target first; driver memory stays bounded by one chunk.
    */
  private def streamChunks(grouped: DataFrame, chunkRows: Int): Iterator[QueryArr] = {
    val nParts = math.max(1L, (grouped.count() + chunkRows - 1) / chunkRows).toInt
    grouped.repartition(nParts).toLocalIterator().asScala
      .map(decodeGrouped).filter(_._2.nonEmpty)
      .grouped(chunkRows).map(_.toArray)
  }

  /** Runs each chunk as its OWN job whose finished (≤ nChunkQueries × k)
    * rows land in a temp parquet, destroying the chunk's query-array
    * broadcast before the next chunk is collected (`run` gives None for a
    * chunk with no rows). Chunks partition the QUERY set, so each chunk's
    * results are final on their own. A lazy union of chunk DataFrames would
    * instead keep EVERY chunk's driver array + executor broadcast resident
    * for the whole job; this way driver and executor memory really are
    * bounded by one chunk. Temp files are removed at JVM exit (the result
    * DataFrame reads them lazily until then).
    */
  private def spillChunks(index: BM25Index, chunks: Iterator[QueryArr])(
      run: QueryArr => Option[(DataFrame, Broadcast[_])]): DataFrame = {
    val spark = index.spark
    val tmp = s"${chunkSpillRoot(index)}/${java.util.UUID.randomUUID()}"
    graft.util.TempFs.registerForCleanup(spark, tmp) // removed at JVM exit
    val chunkDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    chunks.foreach { c =>
      run(c).foreach { case (finished, bq) =>
        val dir = s"$tmp/chunk-${chunkDirs.size}"
        try finished.write.parquet(dir) finally bq.destroy()
        chunkDirs += dir
      }
    }
    if (chunkDirs.isEmpty) emptyResult(spark)
    else spark.read.parquet(chunkDirs.toSeq: _*)
  }

  /** Weighted-term batch retrieval: `weighted` rows (qid, term, qtf) stand
    * in for tokenized query text — `qtf` is any NON-NEGATIVE per-term
    * weight (RM3 expansion weights, field boosts), generalizing the
    * duplicate-token count the text path produces. Negative weights are
    * rejected: the DAAT kernel's block-max pruning relies on
    * maxImpact × weight being an UPPER bound of a term's contribution,
    * which only holds for weight ≥ 0 (a negative weight could silently
    * drop valid results under WAND while TAAT stayed exact). Scoring is
    * Σ weight × impact through the same kernel [[route]] as
    * [[searchWand]]; terms absent from the index contribute 0 (OOV
    * semantics unchanged). `docFilter` composes exactly as in
    * [[searchWand]]: over-bound filters score the SAME weighted terms
    * through the declarative semi-join path — so RM3/boosted queries can
    * run within a doc subset.
    */
  def searchWandWeighted(index: BM25Index, weighted: DataFrame, k: Int,
                         docFilter: Option[Column] = None): DataFrame = {
    val wt = weighted.select(col("qid"), col("term").cast("string").as("term"),
      col("qtf").cast("double").as("qtf"))
    val grouped = groupTerms(wt)
    route(index, k, docFilter, grouped, wandQueryChunkRows(index.spark))(
      _.map(decodeGrouped), grouped,
      searchExactTerms(index, wt, k, docFilter, tryBroadcastFilter = false),
      (qArr, _) => qArr)
  }

  /** One chunk's kernel partials: (qidx, docIntIds array<bigint>, scores
    * array<double>), one row per non-empty task heap per drain: the heap's
    * arrays as they are, UNSORTED, at most k long. A query gets one list
    * from each of the ≤ S salt-bucket tasks that hold its query group (see
    * [[fanOut]] and [[kernelInput]]), plus one per early drain; across its
    * lists a docIntId appears at most once. [[mergePartials]] selects and
    * sorts its top k from them.
    */
  private[graft] def wandPartials(index: BM25Index, qArr: QueryArr,
                                  k: Int): DataFrame =
    wandPartialsWithHandle(index, qArr, k, None).df

  /** [[wandPartials]]' frame, the chunk's query-array broadcast (so the
    * chunked large-batch path can destroy it between chunk jobs) and the
    * kernel's S × G partition count (the merge's parallelism).
    */
  private final case class Partials(df: DataFrame, bq: Broadcast[QueryArr], nParts: Int)

  /** As wandPartials, with the handle of [[Partials]]. `allowedBc`:
    * optional broadcast sorted allowed-docIntId array (query-time doc
    * filter) checked at kernel insertion.
    */
  private def wandPartialsWithHandle(index: BM25Index, qArr: QueryArr, k: Int,
      allowedBc: Option[Broadcast[Array[Long]]]): Partials = {
    val spark = index.spark
    // DAAT correctness precondition (see searchWandWeighted scaladoc);
    // O(batch terms) on the driver, negligible next to the kernel job
    require(qArr.forall(_._2.forall(_._2 >= 0.0)),
      "query term weights must be non-negative (WAND upper-bound pruning)")
    val terms = qArr.flatMap(_._2.map(_._1)).distinct.toSeq
    val bq = spark.sparkContext.broadcast(qArr)
    val kk = k

    val useTaat = k >= scoreAllMinK(spark) ||
      qArr.length >= taatMinBatchQueries(spark)
    val shift = index.saltShift
    val (nS, nG) = fanOut(index, qArr.length, useTaat)
    val cand = kernelInput(index, terms, nS, nG)

    // Cap on buffered per-task heap rows before an early emit-and-clear.
    // Bounds task memory for huge query chunks. Correctness invariant:
    // each (qid, docId) pair is emitted AT MOST ONCE per task — drains
    // happen only at (salt, qgrp) group boundaries, where a doc has been
    // scored exactly once for a query, so the drain merely splits the
    // emission into more lists. The merge's select+sort
    // (TopKAggregator.selectSorted) has NO docId dedup; a mid-group drain
    // (same doc scored before and after) would surface duplicates.
    val maxHeapRows = spark.conf.getOption("spark.graft.taskHeapMaxRows")
      .map(_.toLong).getOrElse(4L << 20)

    // Emission rows carry qidx (the query's position in the chunk array) —
    // a 4-byte int shuffle key instead of a per-row UTF8 string;
    // mergePartials resolves qid strings only on the post-top-k hit set.
    implicit val enc = Encoders.product[(Int, Array[Long], Array[Double])]
    val nQ = qArr.length
    val out = cand.mapPartitions { rows =>
      // rows arrive sorted by salt, all of one qgrp: buffer exactly one run at a time
      // — the same working set the WAND cursors need anyway.
      // TAAT accumulator buffers are reused across every group of the task.
      val allowed: Array[Long] = allowedBc.map(_.value).orNull
      lazy val taat = new Wand.SaltTaat(shift)
      val agg = new TopKAggregator(kk)
      // array-indexed per-query heaps (no hashing): a task only ever
      // touches the qidx values of its own query groups
      val heaps = new Array[TopKBuf](nQ)
      var heapRows = 0L
      // one (qidx, docIntIds, scores) row per non-empty heap: its arrays
      // as they are, unsorted (the merge selects and sorts each query once)
      def drainHeaps(): Iterator[(Int, Array[Long], Array[Double])] = {
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Array[Long], Array[Double])]
        var qi = 0
        while (qi < nQ) {
          val h = heaps(qi)
          if (h != null) {
            if (h.size == kk) out += ((qi, h.docIds, h.scores))
            else if (h.size > 0) out += ((qi, java.util.Arrays.copyOf(h.docIds, h.size),
              java.util.Arrays.copyOf(h.scores, h.size)))
            heaps(qi) = null
          }
          qi += 1
        }
        heapRows = 0L
        out.iterator
      }

      val runs = new RunGroupIterator(rows, r => (r.getInt(1), r.getInt(4)))
      val perGroup = runs.flatMap { case ((salt, qgrp), srows) =>
        // unpack each (term, salt) run ONCE; all queries of the group share
        // its decoded blocks through SharedRun's cache
        val byTerm: Map[String, Wand.SharedRun] =
          srows.map(r => r.getString(0) -> Wand.runOf(r)).toMap
        // a group's queries are exactly the indices ≡ qgrp (mod G): step
        // through them directly instead of filtering the whole chunk.
        // Kernels insert DIRECTLY into the task-level per-query heap — no
        // per-(query,salt) heap, finish-sort, or boxed hand-off (that
        // machinery processed numSalts×k entries per query and dominated
        // the batch kernel); for DAAT the heap arriving pre-loaded from
        // the task's earlier salts RAISES the pruning threshold (any doc
        // worse than the global k-th so far can never surface — exactness
        // unchanged, strictly more block skipping).
        var qidx = qgrp
        while (qidx < nQ) {
          val qterms = bq.value(qidx)._2
          var h = heaps(qidx)
          if (h == null) { h = agg.zero; heaps(qidx) = h }
          val before = h.size
          if (useTaat) taat.topkInto(qterms, byTerm, salt, agg, h, allowed)
          else Wand.topkInto(qterms, byTerm, agg, h, allowed)
          heapRows += h.size - before
          qidx += nG
        }
        if (heapRows > maxHeapRows) drainHeaps() else Iterator.empty
      }
      perGroup ++ drainHeaps()
    }.toDF("qidx", "docIntIds", "scores")
    Partials(out, bq, nS * nG)
  }

  /** The kernel's fan-out: (S salt buckets, G query groups), one task per
    * (bucket, group). At index scale salts ≫ cores and G = 1 (no
    * replicated decode); on a small index queries split into G groups so
    * the kernel still fills the cluster — posting rows replicate G×
    * through the shuffle. Each task's kernels insert into ONE heap per
    * query covering every salt the task holds, so emission is nQueries × S
    * lists of ≤ k entries — bounded by the BUCKET count S, not numSalts.
    * Deep-k (TAAT) mode holds S at [[DeepKSaltBuckets]] and raises G to
    * keep S × G ≈ 2·parallelism: emission per query (S × k rows) must not
    * grow with cluster size, or per-query merge work rises with cores and
    * caps throughput scaling. At 10^12-doc scale the same cap keeps
    * emission independent of the million-salt index layout.
    */
  private[query] def fanOut(index: BM25Index, nQueries: Int, useTaat: Boolean): (Int, Int) = {
    val p2 = index.spark.sparkContext.defaultParallelism * 2
    if (useTaat) {
      val s = math.min(index.numSalts, DeepKSaltBuckets)
      (s, math.max(1, math.min(nQueries, p2 / s)))
    } else {
      val g = math.max(1, math.min(nQueries,
        (p2 + index.numSalts - 1) / math.max(1, index.numSalts)))
      (math.min(index.numSalts.toLong, math.max(1L, p2.toLong / g)).toInt, g)
    }
  }

  /** A salt's bucket among `s`: salts are dealt round-robin by id
    * partition p and run j within it (salt = (p << (IdPartitionShift −
    * saltShift)) + j), bucket = (p + j) mod s. Salt VALUES are sparse
    * multiples of 2^(IdPartitionShift − saltShift), so `pmod(salt, s)`
    * would put them all in bucket 0, and hashing them left buckets empty:
    * the 4 salts of a 4-partition index hashed to buckets {3, 2, 0, 0}.
    * Buckets differ by at most one salt when each id partition holds one
    * salt (up to 2^saltShift docs), and at the deep-k cap of 4 buckets
    * for the layouts BM25EngineSpec checks; with several salts per
    * partition and more buckets than partitions (DAAT at S = numSalts),
    * some buckets can stay empty.
    */
  private[query] def saltBucket(salt: Column, saltShift: Int, s: Int): Column = {
    val runBits = IndexBuilder.IdPartitionShift - saltShift
    pmod(shiftright(salt, runBits) + salt.bitwiseAND(lit((1 << runBits) - 1)), lit(s))
  }

  /** The kernel's input over `s` × `g` partitions: each candidate (term,
    * salt) run once per query group `qgrp` (a literal explode: no job), in
    * partition saltBucket · g + qgrp, which `repartitionById` takes as the
    * partition id, so each task holds exactly one (bucket, group); sorted
    * by salt, so the kernel streams one (salt, qgrp) run group at a time
    * (external sort: spills, never OOMs). Columns: term, salt, maxImpact,
    * blocks, qgrp.
    */
  private[query] def kernelInput(index: BM25Index, terms: Seq[String],
                                 s: Int, g: Int): DataFrame =
    candidates(index, terms)
      .select(col("term"), col("salt"), col("maxImpact"), col("blocks"),
        explode(typedLit((0 until g).toArray)).as("qgrp"))
      .repartitionById(s * g, saltBucket(col("salt"), index.saltShift, s) * g + col("qgrp"))
      .sortWithinPartitions("salt")

  /** Streams consecutive runs of rows sharing a key from a SORTED iterator —
    * grouping without materializing the partition (the round-1 `toSeq`
    * buffered every posting payload of the task on heap).
    */
  private final class RunGroupIterator[K](rows: Iterator[Row], keyOf: Row => K)
      extends Iterator[(K, Seq[Row])] {
    private val it = rows.buffered
    def hasNext: Boolean = it.hasNext
    def next(): (K, Seq[Row]) = {
      val k = keyOf(it.head)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (it.hasNext && keyOf(it.head) == k) buf += it.next()
      (k, buf.toSeq)
    }
  }

  /** Root for filtered and over-chunk batch result spills. MUST be
    * visible to every executor AND the driver — on a multi-node cluster a
    * driver-local temp dir would scatter task output across executor-local
    * disks and the driver-side read-back would silently miss rows. Default: a
    * `_tmp-query` dir under the index's own filesystem (wherever the
    * index lives, all nodes can read/write it); `spark.graft.chunkSpillDir`
    * overrides — REQUIRED when the index location is read-only (published
    * index on a read-only mount / read-only bucket creds): point it at any
    * shared-writable scratch location. Spill run dirs are removed at JVM
    * exit; after a crash-killed driver (no shutdown hook), leftovers under
    * the root are inert and safe to sweep — nothing under `_tmp-query` is
    * ever part of the index itself.
    */
  private[graft] def chunkSpillRoot(index: BM25Index): String =
    index.spark.conf.getOption("spark.graft.chunkSpillDir")
      .getOrElse(s"${index.indexDir}/_tmp-query")

  private[query] def emptyResult(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("qid", StringType), StructField("docId", StringType),
      StructField("score", DoubleType), StructField("rank", IntegerType))))
  }
}

/** Document-at-a-time WAND with block-max skipping over one salt's posting
  * runs (decoded lazily per block). Pure JVM — runs inside mapPartitions.
  *
  * Hot-loop engineering (this is the analogue of the reference's numba /
  * PISA C++ kernels, benchmark/on_bm25s.py:144-150, on_pisa.py:51):
  * block metadata is unpacked once into primitive arrays (no Row field
  * lookups in the skip loop), the cursor ordering is maintained
  * incrementally (bounded insertion-sort passes) instead of re-sorting and
  * re-allocating per document step, and decoded blocks are SHARED across
  * the queries of a batch group (SharedRun) — a 2000-query batch touching
  * the same hot terms decodes each block once, not 2000 times (the batch
  * analogue of bm25s's reusable score matrix).
  */
object Wand {

  /** One (term,salt) posting run unpacked from its Row once per task, with
    * a per-block decode cache shared by every query cursor in the group.
    * `maxCachedBlocks` soft-caps cache memory: beyond it, decodes fall
    * through uncached (correct, just slower) so a pathological run can't
    * hold the whole decoded posting space on heap.
    */
  final class SharedRun(val maxImpact: Float,
                        val firsts: Array[Long], val lasts: Array[Long],
                        val maxs: Array[Float], val ns: Array[Int],
                        idBytes: Array[Array[Byte]], impBytes: Array[Array[Byte]],
                        maxCachedBlocks: Int = 1 << 16) {
    val nBlocks: Int = firsts.length
    private val idCache = new Array[Array[Long]](nBlocks)
    private val impCache = new Array[Array[Float]](nBlocks)
    private var cached = 0

    def ids(bi: Int): Array[Long] = {
      val c = idCache(bi)
      if (c != null) c
      else {
        val d = Codec.decodeDeltaVarByte(idBytes(bi), ns(bi))
        if (cached < maxCachedBlocks) { idCache(bi) = d; cached += 1 }
        d
      }
    }

    def imps(bi: Int): Array[Float] = {
      val c = impCache(bi)
      if (c != null) c
      else {
        val d = Codec.decodeFloats(impBytes(bi))
        if (idCache(bi) != null) impCache(bi) = d
        d
      }
    }
  }

  /** A query-term cursor over a SharedRun. Skipping to a target docId never
    * decodes blocks whose `last < target`.
    */
  final class Cursor(val qtf: Double, run: SharedRun) {
    val ubTotal: Double = run.maxImpact * qtf
    private val nBlocks = run.nBlocks
    private var bi = 0
    private var ids: Array[Long] = null
    private var imps: Array[Float] = null
    private var pos = 0
    var curDoc: Long = if (nBlocks > 0) run.firsts(0) else Long.MaxValue
    private var decoded = false

    @inline def exhausted: Boolean = bi >= nBlocks

    @inline private def decodeCur(): Unit = {
      if (!decoded) {
        ids = run.ids(bi)
        imps = null
        pos = 0
        decoded = true
      }
    }

    def curContrib: Double = {
      decodeCur()
      if (imps == null) imps = run.imps(bi)
      imps(pos) * qtf
    }
    /** max impact of the current block × qtf (block-max refinement). */
    def curBlockUb: Double = if (exhausted) 0.0 else run.maxs(bi) * qtf

    def advance(): Unit = {
      if (exhausted) return
      decodeCur()
      pos += 1
      if (pos >= ids.length) {
        bi += 1; decoded = false
        curDoc = if (bi < nBlocks) run.firsts(bi) else Long.MaxValue
      } else curDoc = ids(pos)
    }

    /** Skip to first doc >= target without decoding skipped blocks. */
    def advanceTo(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      // skip whole blocks via metadata (primitive array reads)
      if (run.lasts(bi) < target) {
        decoded = false
        while (bi < nBlocks && run.lasts(bi) < target) bi += 1
        if (bi >= nBlocks) { curDoc = Long.MaxValue; return }
        if (run.firsts(bi) >= target) { curDoc = run.firsts(bi); return }
      }
      decodeCur()
      // binary search within block
      var lo = pos; var hi = ids.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) < target) lo = mid + 1 else hi = mid
      }
      pos = lo
      if (pos >= ids.length) {
        bi += 1; decoded = false
        curDoc = if (bi < nBlocks) run.firsts(bi) else Long.MaxValue
      } else curDoc = ids(pos)
    }
  }

  /** Unpack a postings Row (term, salt, df, count, maxImpact, blocks) into a
    * SharedRun — once per (term, salt) per task, shared by all queries.
    */
  def runOf(r: Row): SharedRun = {
    val maxImpact = r.getAs[Float]("maxImpact")
    val blocks = r.getSeq[Row](r.fieldIndex("blocks"))
    val nb = blocks.length
    val firsts = new Array[Long](nb); val lasts = new Array[Long](nb)
    val maxs = new Array[Float](nb); val ns = new Array[Int](nb)
    val idB = new Array[Array[Byte]](nb); val impB = new Array[Array[Byte]](nb)
    var i = 0
    while (i < nb) {
      val b = blocks(i)
      firsts(i) = b.getLong(0); lasts(i) = b.getLong(1)
      maxs(i) = b.getFloat(2); ns(i) = b.getInt(3)
      idB(i) = b.getAs[Array[Byte]](4); impB(i) = b.getAs[Array[Byte]](5)
      i += 1
    }
    new SharedRun(maxImpact, firsts, lasts, maxs, ns, idB, impB)
  }

  /** Document-at-a-time WAND for one query over one salt's term→run map,
    * inserting survivors into the caller's task-level heap. The heap may
    * arrive pre-loaded from the task's earlier salts: its root then prunes
    * ACROSS salts (a doc worse than the global k-th so far can never reach
    * the final top-k — exactness unchanged, strictly more skipping).
    *
    * `allowed` (nullable): sorted docIntId array of a query-time doc
    * filter. Disallowed pivots skip full evaluation AND insertion; cursor
    * upper bounds are unchanged and the threshold only ever reflects
    * allowed docs, so pruning remains exact over the allowed subset.
    */
  def topkInto(qterms: Array[(String, Double)],
               byTerm: Map[String, SharedRun],
               agg: TopKAggregator, heap: TopKBuf,
               allowed: Array[Long] = null): Unit = {
    val cs: Array[Cursor] = qterms.flatMap { case (t, qtf) =>
      byTerm.get(t).map(run => new Cursor(qtf, run))
    }
    if (cs.isEmpty) return
    // hoisted: the common unfiltered path never re-tests allowed per pivot
    val noFilter = allowed == null
    val k = heap.docIds.length // buffer capacity == the aggregator's k
    var live = 0

    /** keep cs sorted by curDoc (exhausted cursors sink to the end): plain
      * insertion sort — O(m) when nearly sorted, m = #query terms, zero
      * allocation per document step (unlike a per-iteration sortBy).
      */
    def resort(): Unit = {
      var i = 1
      while (i < cs.length) {
        val c = cs(i); val d = c.curDoc
        var j = i - 1
        while (j >= 0 && cs(j).curDoc > d) { cs(j + 1) = cs(j); j -= 1 }
        cs(j + 1) = c
        i += 1
      }
      live = cs.length
      while (live > 0 && cs(live - 1).curDoc == Long.MaxValue) live -= 1
    }
    resort()

    while (live > 0) {
      val threshold = if (heap.size < k) Double.NegativeInfinity else heap.scores(0)
      // pivot: first prefix whose summed upper bounds exceed the threshold
      var acc = 0.0; var pi = 0; var found = -1
      while (pi < live && found < 0) {
        acc += cs(pi).ubTotal
        if (acc > threshold) found = pi
        pi += 1
      }
      if (found < 0) return // no doc can beat threshold
      val pivotDoc = cs(found).curDoc

      if (cs(0).curDoc == pivotDoc) {
        // all cursors 0..found sit on pivotDoc: block-max refinement, then
        // full evaluation (skipped outright for filtered-out docs)
        var blockUb = 0.0
        var i = 0
        while (i < live && cs(i).curDoc == pivotDoc) { blockUb += cs(i).curBlockUb; i += 1 }
        val onPivot = i
        if (blockUb > threshold &&
            (noFilter ||
              java.util.Arrays.binarySearch(allowed, pivotDoc) >= 0)) {
          var score = 0.0
          i = 0
          while (i < onPivot) { score += cs(i).curContrib; i += 1 }
          agg.insert(heap, pivotDoc, score)
        }
        i = 0
        while (i < onPivot) { cs(i).advance(); i += 1 }
        resort()
      } else {
        // advance lagging cursors up to the pivot
        var i = 0
        while (i < found) { cs(i).advanceTo(pivotDoc); i += 1 }
        resort()
      }
    }
  }

  /** Term-at-a-time dense-accumulator kernel over one salt — the deep-k
    * twin of WAND's document-at-a-time loop (selected by
    * QueryEngine.scoreAllMinK). At k=1000 over a corpus-scale index the
    * heap threshold rises too slowly for block-max skipping to recoup
    * cursor costs; dense accumulation pays ~one FMA + one array write per
    * posting instead — the same regime call the reference's fast engine
    * makes with its score-all + argpartition (benchmark/on_bm25s.py:144-150,
    * on_rank_bm25.py:25-46).
    *
    * One instance per task, buffers reused across (salt, qgrp) groups and
    * queries: acc is O(2^saltShift) doubles (8 MiB at the default shift —
    * per TASK, not per query), the epoch array makes per-query reset O(1),
    * and the touched list bounds the selection pass by docs actually hit,
    * not salt width. Decoded blocks are shared across the group's queries
    * via SharedRun exactly as in the WAND path.
    */
  final class SaltTaat(saltShift: Int) {
    private val width = 1 << saltShift
    private val mask = (1L << saltShift) - 1
    private val acc = new Array[Double](width)
    private val epoch = new Array[Int](width)
    private val touched = new Array[Int](width)
    private var cur = 0

    /** Accumulate one query over one salt, inserting the touched docs into
      * the caller's task-level heap (pre-loaded from earlier salts — its
      * root filters most insertions in O(1)).
      */
    def topkInto(qterms: Array[(String, Double)],
                 byTerm: Map[String, SharedRun], salt: Int,
                 agg: TopKAggregator, heap: TopKBuf,
                 allowed: Array[Long] = null): Unit = {
      cur += 1
      var nTouched = 0
      var ti = 0
      while (ti < qterms.length) {
        val (t, qtf) = qterms(ti)
        byTerm.get(t) match {
          case Some(run) =>
            var bi = 0
            while (bi < run.nBlocks) {
              val ids = run.ids(bi); val imps = run.imps(bi)
              var i = 0
              while (i < ids.length) {
                val off = (ids(i) & mask).toInt
                if (epoch(off) != cur) {
                  epoch(off) = cur
                  acc(off) = imps(i) * qtf
                  touched(nTouched) = off; nTouched += 1
                } else acc(off) += imps(i) * qtf
                i += 1
              }
              bi += 1
            }
          case None => ()
        }
        ti += 1
      }
      if (nTouched == 0) return
      val saltBase = salt.toLong << saltShift
      var i = 0
      if (allowed == null) {
        // specialized no-filter loop: the common (unfiltered) selection
        // pass carries no per-doc branch or binarySearch call at all —
        // keeping the filtered-search feature free for ordinary queries
        while (i < nTouched) {
          val off = touched(i)
          agg.insert(heap, saltBase | off, acc(off))
          i += 1
        }
      } else {
        // doc-filter membership is tested per TOUCHED doc (not per
        // posting): accumulation for disallowed docs is wasted FMAs, but
        // the test in the posting loop would cost more than it saves
        while (i < nTouched) {
          val off = touched(i)
          val doc = saltBase | off
          if (java.util.Arrays.binarySearch(allowed, doc) >= 0)
            agg.insert(heap, doc, acc(off))
          i += 1
        }
      }
    }
  }
}
