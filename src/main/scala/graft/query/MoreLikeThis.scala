package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tokenize.Tokenizer

/** More-Like-This retrieval: given SEED DOCUMENTS instead of query text,
  * build a weighted query from each seed's highest-signal terms and
  * retrieve its nearest documents — Lucene's MoreLikeThis shape (the
  * harness's Lucene config stores doc vectors for exactly this family of
  * consumers, benchmark/on_pyserini.py:245-253), and the training-pipeline
  * "find documents like these" primitive (seed-based corpus expansion).
  *
  * Per seed doc d: rank the terms of d's STORED doc vector by
  * tf(t, d) · idf(t) with the Lucene idf `ln(1 + (N − df + 0.5)/(df + 0.5))`
  * over the index's exact global df, keep the top `maxTerms`, and run the
  * weighted query through the ordinary engine kernels
  * ([[QueryEngine.searchWandWeighted]]). The seed itself scores like any
  * other document (it normally ranks first — a useful sanity signal);
  * `excludeSeeds = true` drops each seed from its OWN result list
  * (retrieve k+1, filter, re-rank — per-seed, unlike a docFilter which
  * restricts every query's candidates).
  *
  * Free-text seeds ([[searchIndexedText]], Lucene's `like(text)`): raw
  * text tokenized through the index's analyzer into a pseudo doc vector,
  * then the identical term-cut and retrieval path.
  *
  * Scale shape: seed vectors come from the pruned docvecs fetch
  * ([[Rm3.feedbackVectors]] — no corpus scan) or from tokenizing the seed
  * text batch, df for the bounded seed term set comes from the
  * BUCKET-PRUNED postings scan (term pushdown — no vocabulary-wide
  * termstats scan on the common path), the per-seed top-term selection is
  * a WindowGroupLimit-bounded window over ≤ |seed vector| rows, and
  * retrieval is the standard kernel path.
  */
object MoreLikeThis {

  /** tf·idf term cut shared by the doc-id and free-text paths: from a
    * pseudo/stored doc-vector table (qid, term, tf) to the weighted query
    * terms (qid, term, qtf), top `maxTerms` per qid (weights rounded to
    * `weightScale` dp when ≥ 0 BEFORE the rank-sensitive cut — the
    * driver-oracle determinism convention).
    */
  private def weightsOf(index: BM25Index, docTf: DataFrame, maxTerms: Int,
                        weightScale: Int): DataFrame = {
    require(maxTerms > 0, "maxTerms must be positive")
    val df = seedTermDf(index, docTf)
    val n = index.numDocs.toDouble
    val idf = log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5))
    val w0 = docTf.join(df, "term")
      .select(col("qid"), col("term"),
        (col("tf").cast("double") * idf).as("qtf"))
    val rounded =
      if (weightScale >= 0) w0.withColumn("qtf", round(col("qtf"), weightScale))
      else w0
    val sel = Window.partitionBy("qid").orderBy(col("qtf").desc, col("term").asc)
    rounded.withColumn("rn", row_number().over(sel))
      .where(col("rn") <= maxTerms && col("qtf") > 0.0)
      .select("qid", "term", "qtf")
  }

  /** Weighted MLT query terms from seed docs: (qid = seed docId, term,
    * qtf = tf·idf weight) via the pruned stored-doc-vector fetch.
    */
  def queryTerms(index: BM25Index, seedDocIds: DataFrame, maxTerms: Int = 25,
                 weightScale: Int = -1): DataFrame = {
    val (docTf, _) = Rm3.feedbackVectors(index, seedDocIds)
    weightsOf(index, docTf.withColumnRenamed("docId", "qid"),
      maxTerms, weightScale)
  }

  /** Weighted MLT query terms from FREE-TEXT seeds (qid, text): the text
    * tokenizes through the index's analyzer (same pattern/stemming the
    * corpus was built with) into a pseudo doc vector, then the same cut.
    */
  def queryTermsFromText(index: BM25Index, seeds: DataFrame,
                         maxTerms: Int = 25, weightScale: Int = -1): DataFrame = {
    val docTf = seeds
      .select(col("qid"),
        explode(Tokenizer.tokens(col("text"), index.tokenPattern, index.stem))
          .as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).as("tf"))
    weightsOf(index, docTf, maxTerms, weightScale)
  }

  /** Exact global df for the bounded seed term set: a bucket-pruned,
    * term-pushed postings scan (df rides on every posting row) — the same
    * pruning the query path uses, so no vocabulary-wide scan. Falls back
    * to the full termstats table if the term set exceeds the In-literal
    * bound AND the driver-side collect bound.
    */
  private def seedTermDf(index: BM25Index, docTf: DataFrame): DataFrame = {
    val lim = QueryEngine.MaxInListTerms
    val terms = docTf.select("term").distinct().limit(lim + 1).collect()
      .map(_.getString(0))
    if (terms.length <= lim)
      QueryEngine.postingTermDf(index, terms.toSeq)
    else // huge seed set: one narrow termstats scan, hash-joined
      index.termstats.select(col("term"), col("df"))
        .join(docTf.select("term").distinct().hint("shuffle_hash"),
          Seq("term"), "left_semi")
  }

  /** Drop each seed from its OWN ranked list and close the rank gap —
    * requires the retrieval to have run at depth k+1.
    */
  private def dropSeedRows(raw: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("rank").asc)
    raw.where(col("docId") =!= col("qid"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** MLT retrieval over a built index: (qid = seed docId, docId, score,
    * rank) — top `k` per seed. `docFilter` composes as in
    * [[QueryEngine.searchWand]] (restricts EVERY seed's candidates);
    * `excludeSeeds` removes only each seed from its own list.
    */
  def searchIndexed(index: BM25Index, seedDocIds: DataFrame, k: Int,
                    maxTerms: Int = 25,
                    docFilter: Option[org.apache.spark.sql.Column] = None,
                    weightScale: Int = -1,
                    excludeSeeds: Boolean = false): DataFrame = {
    val qt = queryTerms(index, seedDocIds, maxTerms, weightScale)
    if (!excludeSeeds) QueryEngine.searchWandWeighted(index, qt, k, docFilter)
    else dropSeedRows(
      QueryEngine.searchWandWeighted(index, qt, k + 1, docFilter), k)
  }

  /** Free-text MLT retrieval: seeds (qid, text) → top `k` similar docs per
    * seed. No seed exclusion (there is no seed document to exclude).
    */
  def searchIndexedText(index: BM25Index, seeds: DataFrame, k: Int,
                        maxTerms: Int = 25,
                        docFilter: Option[org.apache.spark.sql.Column] = None,
                        weightScale: Int = -1): DataFrame =
    QueryEngine.searchWandWeighted(index,
      queryTermsFromText(index, seeds, maxTerms, weightScale), k, docFilter)
}
