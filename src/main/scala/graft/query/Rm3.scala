package graft.query

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.tokenize.Tokenizer

/** RM3 pseudo-relevance-feedback query expansion (Lavrenko & Croft,
  * SIGIR 2001 relevance models; RM3 interpolation per Abdul-Jaleel et al.,
  * TREC 2004) — the standard companion to BM25 retrieval (Lucene/Anserini's
  * default feedback reranker ships exactly this shape with fbDocs=10,
  * fbTerms=10, originalQueryWeight=0.5).
  *
  * Per query: take the top `fbDocs` documents of a first retrieval pass,
  * estimate the relevance model
  * rm1(w) = Σ_d P(w|d) · score(d)/Σ_d score(d) with P(w|d) = tf(w,d)/|d|,
  * keep the `fbTerms` highest-weight terms, and interpolate with the
  * original query model P(w|q) = qtf(w)/|q|:
  * weight(w) = α·P(w|q) + (1−α)·rm1(w). The expanded weighted query runs a
  * second retrieval pass scoring Σ_w weight(w) · impact(w, d).
  *
  * Scale shape: [[searchIndexed]] runs the middle of RM3 on the driver,
  * one query chunk at a time — the shape of Anserini's in-process RM3
  * reranker — as the per-chunk step of the engine's one kernel route
  * (QueryEngine.route). A chunk's pass-1 top-fbDocs hits (≤ chunk × fbDocs
  * rows) are collected before any docId resolution, the STORED doc
  * vectors of those docs come back in one salt-partition + docIntId-pruned
  * scan (the Lucene `--storeDocvectors` design,
  * benchmark/on_pyserini.py:245-253), the relevance model is plain Scala
  * ([[expandScalar]], the scalar twin of [[expandWeights]]), and pass 2 is
  * the route's own kernel and finish over the weighted query arrays. The
  * probe, doc filter, chunk streaming and spills are the route's, shared
  * with searchWand and searchWandWeighted. Driver memory is bounded by the
  * chunk (see [[chunkQueries]]); no stage grows with corpus size beyond
  * the retrieval passes themselves. [[expandWeights]] and
  * [[feedbackVectors]] stay the declarative twin: the composed driver
  * entries, [[searchIndexedRetokenize]] and the over-bound fallbacks of
  * [[searchIndexed]] run the relevance model as a Spark plan.
  */
object Rm3 {

  /** RM3 interpolated term weights from a feedback run.
    *
    * @param fb     top-fbDocs feedback rows (qid, doc, score) — pass-1
    *               output already cut to the feedback depth; rows with
    *               score ≤ 0 are ignored (no relevance mass, and they
    *               would push ssum toward a 0/0 NaN)
    * @param docTf  (doc, term, tf) term frequencies covering the feedback
    *               docs (a superset is fine; rows join through `fb`)
    * @param dl     (doc, dl) token counts for the same docs
    * @param qtf    (qid, term, qtf) the original tokenized queries
    * @param rm1Scale / weightScale round rm1 and the final weight to this
    *               many dp when ≥ 0 — the driver-oracle determinism
    *               convention (rank-sensitive FP compared across engines is
    *               rounded first); library callers keep full doubles.
    * @return (qid, term, qtf) — `qtf` is the RM3 weight, named for direct
    *         use as [[QueryEngine.searchWandWeighted]] input.
    */
  def expandWeights(fb: DataFrame, docTf: DataFrame, dl: DataFrame,
                    qtf: DataFrame, fbTerms: Int, alpha: Double,
                    docCol: String = "doc_id",
                    rm1Scale: Int = -1, weightScale: Int = -1): DataFrame = {
    require(fbTerms > 0, "fbTerms must be positive")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    // only positively-scored feedback docs carry relevance mass: a
    // zero-score doc (possible after the driver's 4-dp rounding) or a
    // negative one (robertson idf) would otherwise drive ssum toward 0 and
    // 0/0 = NaN weights that poison the second pass
    val fbPos = fb.where(col("score") > 0.0)
    val ssum = fbPos.groupBy("qid").agg(sum("score").as("ssum"))
    val pwd = docTf.join(dl, docCol)
      .select(col(docCol), col("term"),
        (col("tf").cast("double") / col("dl")).as("pwd"))
    // score/ssum is NOT factored into a snorm column: (pwd*score)/ssum is
    // the association the SQL oracle twin computes, kept identical here
    val rm1raw = fbPos.join(ssum, "qid").join(pwd, docCol)
      .groupBy("qid", "term")
      .agg(sum(col("pwd") * col("score") / col("ssum")).as("rm1"))
    val rm1 =
      if (rm1Scale >= 0) rm1raw.withColumn("rm1", round(col("rm1"), rm1Scale))
      else rm1raw
    val wSel = Window.partitionBy("qid").orderBy(col("rm1").desc, col("term").asc)
    val fbt = rm1.withColumn("rn", row_number().over(wSel))
      .where(col("rn") <= fbTerms)
      .select("qid", "term", "rm1")
    val qsum = qtf.groupBy("qid").agg(sum("qtf").cast("double").as("qsum"))
    val qm = qtf.join(qsum, "qid")
      .select(col("qid"), col("term"),
        (col("qtf").cast("double") / col("qsum")).as("qm"))
    // full outer: original-only terms keep α·P(w|q), expansion-only terms
    // get (1−α)·rm1 — exactly the RM3 interpolated vocabulary union
    val w0 = qm.join(fbt, Seq("qid", "term"), "full_outer")
      .select(col("qid"), col("term"),
        (lit(alpha) * coalesce(col("qm"), lit(0.0))
          + lit(1.0 - alpha) * coalesce(col("rm1"), lit(0.0))).as("qtf"))
    val rounded =
      if (weightScale >= 0) w0.withColumn("qtf", round(col("qtf"), weightScale))
      else w0
    // zero weights (α=1 expansion terms; sub-half-ulp rounds) contribute 0
    // to every score but still fan candidates into the second pass — drop
    // them (the SQL oracle twin applies the same filter)
    rounded.where(col("qtf") =!= 0.0)
  }

  /** Max feedback docs collected to the driver. In [[feedbackVectors]]
    * they are the docIntIds that drive docvec partition/row-group pruning;
    * beyond it that fetch degrades to a distributed semi-join (exact, no
    * pruning). Each is a one-long Row, ~48 bytes on-heap — the default
    * 2^18 bound caps that collect at ~12 MB of transient driver heap. In
    * [[searchIndexed]] the same bound caps the feedback VECTORS one driver
    * chunk holds (see [[chunkQueries]] for their sizing rule). Raise it
    * only with driver memory to match; every over-bound route stays exact.
    */
  def maxPrunedFeedbackDocs(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.rm3MaxPrunedFeedbackDocs")
      .map(_.toInt).getOrElse(1 << 18)

  /** Queries per [[searchIndexed]] driver chunk: ⌊maxPrunedFeedbackDocs /
    * fbDocs⌋, capped at `QueryEngine.wandQueryChunkRows` — so one chunk
    * holds at most `maxPrunedFeedbackDocs` feedback vectors on the driver.
    * 0 when a single query's feedback set already exceeds that bound;
    * searchIndexed then runs the declarative plan instead.
    *
    * Driver-heap sizing rule: a collected vector of T distinct terms costs
    * ~(100 + 64·T) bytes (a String per term, a primitive long[] of tfs,
    * row overhead), held only while its chunk expands. 100 queries at
    * fbDocs = 10 are ≤ 1,000 vectors, ~7 MB at T = 100. At the defaults a
    * chunk holds ≤ min(20,000 × fbDocs, 2^18) vectors: ~1.3 GB at
    * fbDocs = 10 and T = 100. Lower `spark.graft.rm3MaxPrunedFeedbackDocs`
    * to shrink the chunk on a small driver — results do not change.
    */
  private[query] def chunkQueries(spark: org.apache.spark.sql.SparkSession,
                                  fbDocs: Int): Int =
    math.min(QueryEngine.wandQueryChunkRows(spark),
      maxPrunedFeedbackDocs(spark) / fbDocs)

  /** Max feedback-doc ids carried as a literal In/InSet filter into the
    * docvecs scan (row-group pruning); larger sets use a broadcast
    * semi-join over the salt-pruned partitions instead.
    */
  def maxInIds(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.docvecMaxInIds")
      .map(_.toInt).getOrElse(1 << 16)

  /** Fetch stored doc vectors for a bounded feedback doc set from the
    * index's docvecs table (the consumer Pyserini stores doc vectors for,
    * benchmark/on_pyserini.py:245-253).
    *
    * @param fbDocIds frame with a `docId` column (duplicates fine),
    *                 ≤ nQueries × fbDocs rows by construction
    * @return (docTf (docId, term, tf), dl (docId, dl)) — keyed by the
    *         corpus docId string, ready for [[expandWeights]].
    *
    * Scale shape: the doc set resolves against the cached docs dimension,
    * its docIntIds are collected (bounded — see `maxPrunedFeedbackDocs`),
    * and the packed docvecs scan is pruned to the
    * matching salt PARTITIONS with a docIntId In-filter pushed to the
    * row-group stats (files are docIntId-sorted). No stage scans the
    * corpus or the full token table; at In-literal-unfriendly sizes the id
    * filter becomes a broadcast semi-join (partition pruning retained).
    */
  def feedbackVectors(index: BM25Index, fbDocIds: DataFrame): (DataFrame, DataFrame) = {
    val spark = index.spark
    val dim = index.docs
      .join(broadcast(fbDocIds.select("docId").distinct()), Seq("docId"))
      .select(col("docId"), col("docIntId"), col("len"))
    val dl = dim.select(col("docId"), col("len").as("dl"))
    val bound = maxPrunedFeedbackDocs(spark)
    val lim = math.min(bound.toLong + 1L, Int.MaxValue.toLong).toInt
    val rows = dim.select(col("docIntId")).limit(lim).collect()
    val pruned =
      if (rows.length > bound) // over-bound: exact distributed fallback
        index.docvecs.join(dim.select("docIntId").hint("shuffle_hash"),
          Seq("docIntId"), "left_semi")
      else prunedDocvecs(index, rows.map(_.getLong(0)))
    // unpack AFTER pruning: the packed layout (one row per doc — terms[],
    // tfs[]) keeps partition + row-group pruning on ~numDocs rows, and only
    // the ≤ nQueries × fbDocs surviving vectors explode back to (term, tf)
    // pairs
    val docTf = pruned
      .select(col("docIntId"), explode(arrays_zip(col("terms"), col("tfs"))).as("tt"))
      .select(col("docIntId"), col("tt.terms").as("term"), col("tt.tfs").as("tf"))
      .join(broadcast(dim.select("docIntId", "docId")), "docIntId")
      .select(col("docId"), col("term"), col("tf"))
    (docTf, dl)
  }

  /** docvecs rows of a bounded set of distinct docIntIds: salt-partition
    * pruning (salt = docIntId >>> saltShift), plus the ids as a literal
    * In/InSet filter. Long-id In filters stay cheap far beyond the
    * string-term In bound, and reaching the scan matters: the id filter
    * prunes row groups of the docIntId-sorted files (measured ~2% of
    * records read). Above `maxInIds` the ids become a broadcast semi-join,
    * which scans every surviving salt partition in full.
    */
  private def prunedDocvecs(index: BM25Index, ids: Array[Long]): DataFrame = {
    val spark = index.spark
    val salts = ids.map(id => (id >>> index.saltShift).toInt).distinct.toSeq
    val bySalt = index.docvecs.where(col("salt").isInCollection(salts))
    if (ids.length <= maxInIds(spark))
      bySalt.where(col("docIntId").isInCollection(ids.toSeq))
    else {
      import spark.implicits._
      bySalt.join(broadcast(ids.toSeq.toDF("docIntId")),
        Seq("docIntId"), "left_semi")
    }
  }

  /** Stored vectors of distinct docIntIds collected to the driver by ONE
    * pruned docvecs scan: docIntId → (terms, tfs). A build writes one
    * packed row per doc, so Σtfs is the doc's full length — the `len`
    * that row carries into the docs dimension. A docIntId read twice means
    * a damaged docvecs table, and fails naming it.
    */
  private[query] def fetchVectors(index: BM25Index, ids: Array[Long])
      : Map[Long, (Array[String], Array[Long])] = {
    if (ids.isEmpty) return Map.empty
    val spark = index.spark
    import spark.implicits._
    val rows = prunedDocvecs(index, ids).select(col("docIntId"), col("terms"), col("tfs"))
      .as[(Long, Array[String], Array[Long])].collect()
    val vectors = rows.map { case (d, terms, tfs) => d -> (terms, tfs) }.toMap
    if (vectors.size != rows.length)
      throw new IllegalStateException(s"docIntId ${rows.map(_._1).diff(vectors.keys.toSeq).head} " +
        s"has more than one row in ${index.indexDir}/docvecs; delete and rebuild the index")
    vectors
  }

  /** Scalar twin of [[expandWeights]] for ONE query over driver-held
    * inputs, with the same math and association: feedback hits with
    * score ≤ 0 carry no mass, rm1(w) = Σ_d (P(w|d)·score(d))/ssum with
    * P(w|d) = tf/Σtf, the (rm1 desc, term asc) cut to `fbTerms`, then
    * α·P(w|q) + (1−α)·rm1(w) over the union with the query model and
    * zero weights dropped. Only the summation order of rm1 and ssum can
    * differ from the Spark plan's (≤ 1e-12 relative).
    *
    * @param qtf     the query's term counts, one entry per term
    * @param fb      its feedback hits (docIntId, score)
    * @param vectors docIntId → (terms, tfs), as [[fetchVectors]] returns
    * @return (term, weight) sorted by term
    */
  private[query] def expandScalar(qtf: Array[(String, Double)],
                                  fb: Array[(Long, Double)],
                                  vectors: Map[Long, (Array[String], Array[Long])],
                                  fbTerms: Int, alpha: Double): Array[(String, Double)] = {
    val pos = fb.filter(_._2 > 0.0)
    val ssum = pos.map(_._2).sum
    val rm1 = scala.collection.mutable.HashMap.empty[String, Double]
    for ((d, score) <- pos; (terms, tfs) <- vectors.get(d)) {
      val dl = tfs.sum.toDouble
      var i = 0
      while (i < terms.length) {
        val pwd = tfs(i).toDouble / dl
        rm1.update(terms(i), rm1.getOrElse(terms(i), 0.0) + pwd * score / ssum)
        i += 1
      }
    }
    // term ties break in Spark's string order: UTF-8 bytes, not UTF-16
    val fbt = rm1.toArray.sortWith { case ((t1, r1), (t2, r2)) =>
      r1 > r2 || (r1 == r2 && UTF8String.fromString(t1)
        .compareTo(UTF8String.fromString(t2)) < 0)
    }.take(fbTerms).toMap
    val qsum = qtf.map(_._2).sum
    val qm = qtf.map { case (t, c) => t -> c / qsum }.toMap
    (qm.keySet ++ fbt.keySet).toArray.sorted
      .map(t => t -> (alpha * qm.getOrElse(t, 0.0) + (1.0 - alpha) * fbt.getOrElse(t, 0.0)))
      .filter(_._2 != 0.0)
  }

  /** Pass 1, fetch and expansion for one driver-held query chunk: the
    * RM3-weighted query arrays, ready for pass 2. Pass 1 is collected
    * eagerly; only positively-scored feedback docs are fetched.
    */
  private def expandChunk(index: BM25Index, qArr: QueryEngine.QueryArr,
      fbDocs: Int, fbTerms: Int, alpha: Double,
      allowedBc: Option[Broadcast[Array[Long]]]): QueryEngine.QueryArr = {
    val hits = QueryEngine.collectTopHits(index, qArr, fbDocs, allowedBc)
    val vectors = fetchVectors(index,
      hits.flatMap(_.collect { case (d, s) if s > 0.0 => d }).distinct)
    qArr.indices.map { i =>
      (qArr(i)._1, expandScalar(qArr(i)._2, hits(i), vectors, fbTerms, alpha))
    }.toArray
  }

  /** BM25+RM3 over a built index with the relevance model read from the
    * index's STORED doc vectors (no corpus scan, no re-tokenization), which
    * every build writes. [[searchIndexedRetokenize]] is its cross-check
    * twin, which re-tokenizes the feedback docs from the corpus instead.
    *
    * The batch takes the engine's one kernel route (the same probe, doc
    * filter resolution, chunking and finish as
    * [[QueryEngine.searchWandWeighted]]) in chunks of [[chunkQueries]]
    * queries (one chunk for any interactive batch). RM3's middle is the
    * route's per-chunk step: pass 1 runs the WAND/TAAT kernels at depth
    * `fbDocs` and collects the hits before the docs join, one pruned
    * docvecs scan collects their vectors ([[fetchVectors]]) and the
    * expansion runs on the driver ([[expandScalar]]); pass 2 is the
    * route's own kernel and finish over the weighted arrays.
    *
    * `docFilter` applies to BOTH passes (Lucene filter+feedback semantics:
    * the relevance model is estimated from allowed docs only, and the
    * expanded query ranks within the allowed set). It is resolved once and
    * its allowed-set broadcast shared by both passes. A filter over
    * `filterMaxBroadcastDocs`, or fbDocs over `rm3MaxPrunedFeedbackDocs`,
    * runs the declarative plan instead (pass 1 → [[feedbackVectors]] →
    * [[expandWeights]] → weighted pass 2), with identical results.
    */
  def searchIndexed(index: BM25Index, queries: DataFrame,
                    k: Int, fbDocs: Int = 10, fbTerms: Int = 10,
                    alpha: Double = 0.5,
                    docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(fbDocs > 0, "fbDocs must be positive")
    require(fbTerms > 0, "fbTerms must be positive")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    def plan(filterOverBound: Boolean) = searchIndexedPlan(index, queries, k,
      fbDocs, fbTerms, alpha, docFilter, filterOverBound)
    val chunk = chunkQueries(index.spark, fbDocs)
    if (chunk == 0) plan(filterOverBound = false)
    else QueryEngine.routeText(index, queries, k, docFilter, chunk)(
      plan(filterOverBound = true),
      expandChunk(index, _, fbDocs, fbTerms, alpha, _))
  }

  /** The declarative RM3 plan: pass 1 → [[feedbackVectors]] →
    * [[expandWeights]] → weighted pass 2. `filterOverBound`: the caller
    * already proved the doc filter over the broadcast bound, so both passes
    * go straight to the exact semi-join path.
    */
  private def searchIndexedPlan(index: BM25Index, queries: DataFrame, k: Int,
                                fbDocs: Int, fbTerms: Int, alpha: Double,
                                docFilter: Option[org.apache.spark.sql.Column],
                                filterOverBound: Boolean): DataFrame = {
    val pass1 =
      if (filterOverBound) QueryEngine.searchExactTerms(index,
        QueryEngine.queryTerms(index, queries), fbDocs, docFilter,
        tryBroadcastFilter = false)
      else QueryEngine.searchWand(index, queries, fbDocs, docFilter)
    val fb = pass1.select(col("qid"), col("docId"), col("score"))
    fb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (docTf, dl) = feedbackVectors(index, fb.select("docId"))
      val weights = expandWeights(fb, docTf, dl,
        QueryEngine.queryTerms(index, queries), fbTerms, alpha, docCol = "docId")
      // the weighted WAND pass collects its terms eagerly, so its result no
      // longer references fb; the exact pass's result recomputes fb if it
      // is read after the unpersist
      if (filterOverBound) QueryEngine.searchExactTerms(index, weights, k,
        docFilter, tryBroadcastFilter = false)
      else QueryEngine.searchWandWeighted(index, weights, k, docFilter)
    } finally fb.unpersist()
  }

  /** The cross-check twin of [[searchIndexed]]: the relevance model
    * re-tokenizes the feedback docs out of `corpus` (docId, content — the
    * same frame the index was built from) through a bounded semi-join
    * instead of reading the stored doc vectors. Exact and one-pass, but the
    * semi-join reads the corpus table once per batch.
    */
  def searchIndexedRetokenize(index: BM25Index, corpus: DataFrame,
                              queries: DataFrame, k: Int, fbDocs: Int = 10,
                              fbTerms: Int = 10, alpha: Double = 0.5): DataFrame = {
    require(fbDocs > 0, "fbDocs must be positive")
    val fb = QueryEngine.searchWand(index, queries, fbDocs)
      .select(col("qid"), col("docId"), col("score"))
    fb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fbCorpus = corpus
        .join(fb.select("docId").distinct(), Seq("docId"), "left_semi")
      val toks = fbCorpus.select(col("docId"),
        explode(Tokenizer.tokens(col("content"), index.tokenPattern, index.stem))
          .as("term"))
      toks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val docTf = toks.groupBy("docId", "term").agg(count(lit(1)).as("tf"))
        val dlf = toks.groupBy("docId").agg(count(lit(1)).as("dl"))
        val weights = expandWeights(fb, docTf, dlf,
          QueryEngine.queryTerms(index, queries), fbTerms, alpha, docCol = "docId")
        // the weighted pass collects/spills eagerly, so the returned frame
        // no longer references fb/toks — safe to unpersist in finally
        QueryEngine.searchWandWeighted(index, weights, k)
      } finally toks.unpersist()
    } finally fb.unpersist()
  }
}
