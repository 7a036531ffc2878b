package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Hashing

/** Deduplication operators for a large-scale training-data pipeline, over a
  * (id, text) document table. All candidate generation is blocking-based
  * (hash group / LSH band / simhash chunk) so no stage ever materializes the
  * full O(N²) pair space — the property that matters at 10^12 docs.
  *
  * Determinism: every hash is xxhash64(seed-mixed), no RNG state.
  */
object Dedup {

  /** Exact duplicates via content hash. Output: one row per doc —
    * (id, grp (md5 hex), grp_size, keep) where keep marks the smallest id
    * of each group (the canonical survivor).
    *
    * Group stats come from a partial+final hash aggregation joined back —
    * NOT a `Window.partitionBy(grp)`, which would land an entire duplicate
    * group on one task (a boilerplate/empty-doc group with 10^8 members
    * serializes there). The join is hinted shuffle-hash: both sides are
    * large and unsorted, and sort-merge would sort them for no benefit.
    */
  def exact(docs: DataFrame, idCol: String = "id", textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"), md5(col(textCol).cast("binary")).as("grp"))
    val groups = hashed.groupBy("grp")
      .agg(count(lit(1)).as("grp_size"), min(col("id")).as("grp_min"))
    hashed.join(groups.hint("shuffle_hash"), "grp")
      .select(col("id"), col("grp"), col("grp_size"),
        (col("id") === col("grp_min")).as("keep"))
  }

  /** Token n-gram shingle set (distinct, first-occurrence order) as a Column
    * over a token array — native codegen expression (the transform/
    * concat_ws/array_distinct combinator tree it replaces ran interpreted).
    */
  def shingles(tokens: Column, n: Int): Column =
    graft.ops.expr.OpsExprs.shingles(tokens, n)

  /** Exact pairwise n-gram Jaccard over shingle sets, blocked by shared
    * shingle (a pair is compared only if it shares ≥1 shingle — no cross
    * join). Output: (id_a, id_b, jaccard) for pairs ≥ threshold, id_a < id_b.
    *
    * `maxShingleDf` > 0 drops shingles occurring in more than that many
    * docs from BOTH the blocking and the set sizes (ubiquitous-shingle
    * stopwording): a single boilerplate shingle (license header) otherwise
    * forms an O(df²) join group — the classic skew killer at corpus scale.
    * Pairs whose overlap is exclusively ubiquitous shingles are missed;
    * that is the documented recall trade of the cap.
    *
    * The df cap itself is a partial+final `groupBy(sh).count` joined back
    * as a left-semi — NOT a `Window.partitionBy(sh)`, which would first
    * materialize the full df of the worst shingle (the very one the cap
    * exists to drop) on a single task.
    *
    * Persisted intermediates (raw + filtered shingle tables) feed multiple
    * consumers; callers that invoke pipelines repeatedly should release
    * them afterwards (the driver entries clear the cache per query).
    */
  def ngramJaccard(docs: DataFrame, tokens: Column, idCol: String,
                   n: Int = 3, threshold: Double = 0.5, roundTo: Int = 6,
                   maxShingleDf: Int = 0): DataFrame = {
    val shAll = docs.select(col(idCol).as("id"), explode(shingles(tokens, n)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh =
      if (maxShingleDf > 0) {
        val keep = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
          .where(col("df") <= maxShingleDf).select("sh")
        shAll.join(keep.hint("shuffle_hash"), Seq("sh"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else shAll // already persisted above
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sza"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "szb"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")), roundTo).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** MinHash signature (m permutations) of a shingle array — a native
    * codegen Expression (one xxhash64 per shingle + m mixes, single pass;
    * the equivalent 32-`transform` Column tree would run interpreted).
    */
  def minhashSignature(shingleCol: Column, m: Int): Column =
    graft.ops.expr.OpsExprs.minhashSig(shingleCol, m)

  /** MinHash + LSH banding near-dup candidates, verified by signature
    * similarity. Bands of r rows; docs sharing any band bucket become
    * candidates; est_jaccard = fraction of matching signature components.
    * Output: (id_a, id_b, est_jaccard) ≥ threshold.
    *
    * Signature format v2 (round 1 changed the hash family to
    * mix(xxh64(shingle) ^ seed_j)): signatures are NOT comparable with any
    * v1 output persisted before that change — always recompute in-pipeline,
    * never mix stored signatures across versions.
    *
    * Plan shape: the banded signature table is persisted (two join sides
    * would otherwise re-run tokenize+shingle+minhash each), est_jaccard and
    * the threshold filter run BEFORE the pair dedup so the distinct
    * shuffles 3 narrow columns instead of two m-element signatures.
    */
  def minhashLsh(docs: DataFrame, tokens: Column, idCol: String,
                 n: Int = 3, m: Int = 32, bands: Int = 8,
                 threshold: Double = 0.5, roundTo: Int = 6): DataFrame = {
    require(m % bands == 0)
    val r = m / bands
    val signed = docs
      .select(col(idCol).as("id"), shingles(tokens, n).as("sh"))
      .where(size(col("sh")) > 0) // empty shingle sets have no Jaccard
      .select(col("id"), minhashSignature(col("sh"), m).as("sig"))
    // band hash: xxhash64 over the band's slice rendered to a string
    val banded = signed.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map { bnd =>
        xxhash64(concat_ws(",",
          (0 until r).map(j => element_at(col("sig"), bnd * r + j + 1)): _*))
      }: _*)).as(Seq("band", "bh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(
          graft.ops.expr.OpsExprs.sigAgree(col("a.sig"), col("b.sig"))
            .cast("double") / m,
          roundTo).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** 64-bit SimHash of a token array: per-bit weighted vote of token
    * xxhash64 bits — native codegen Expression (single pass per row).
    */
  def simhash(tokens: Column): Column =
    graft.ops.expr.OpsExprs.simhash64(tokens)

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, blocked by the
    * pigeonhole principle: split 64 bits into (maxDist+1) chunks — any pair
    * within distance shares at least one exact chunk.
    * Output: (id_a, id_b, hamming).
    */
  def simhashNearDups(docs: DataFrame, tokens: Column, idCol: String,
                      maxDist: Int = 3): DataFrame =
    simhashPairsFrom(docs.select(col(idCol).as("id"), simhash(tokens).as("sh")),
      maxDist)

  /** Pigeonhole-blocked near-dup pairs over a precomputed (id, sh LONG)
    * signature table — the shared back half of [[simhashNearDups]] and
    * [[simhashNearDupsMd5]]. EXACT for its input signatures: every pair
    * within maxDist shares at least one chunk, so candidates ⊇ true pairs
    * and the Hamming filter removes nothing else.
    */
  private def simhashPairsFrom(sh: DataFrame, maxDist: Int): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val chunked = sh.select(col("id"), col("sh"),
      posexplode(array((0 until chunks).map { c =>
        shiftrightunsigned(col("sh"), c * width)
          .bitwiseAND(lit((1L << width) - 1))
      }: _*)).as(Seq("chunk", "cv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = chunked.as("a"); val b = chunked.as("b")
    val cand = a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sha"), col("b.sh").as("shb"))
      .dropDuplicates("id_a", "id_b")
    cand
      .select(col("id_a"), col("id_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  // ---- md5 hash family (SQL-recomputable oracle variants) -----------------
  //
  // xxhash64(seed 42) is the fast default family everywhere above, but no
  // external SQL engine can recompute it — so those operators could only be
  // rows-checked by the driver. These variants swap ONLY the hash primitive
  // for md5 (the trick Similarity.ivfCentroids already uses so "an external
  // oracle can re-derive the exact cells"); every other step — shingling,
  // banding, votes, pigeonhole blocking — is the same algorithm, so a full
  // DuckDB value check of an md5 entry exercises the same pipeline shape.
  // Costs ~an md5 per (shingle, seed) instead of one xxhash64 + m mixes;
  // use the default family at scale, this one where end-to-end SQL
  // verifiability matters.

  /** [[minhashLsh]] with the md5 hash family: signature component j = the
    * MINIMUM md5 hex string of `"j:" + shingle` over the doc's shingles
    * (string order — identical in every engine); band hash = md5 of the
    * band's comma-joined components. Same banding/candidate/estimate
    * pipeline, fully recomputable by the DuckDB oracle.
    *
    * r7: the signature is a native single-pass expression over the shingle
    * ARRAY (MinHashSigMd5Expr) instead of an explode + 32-way min(string)
    * aggregation — min(string) plans as SortAggregate (string aggregation
    * buffers are not HashAggregate-mutable), which sorted and shuffled the
    * full exploded shingle table twice per call. The per-row kernel
    * computes identical values with NO shuffle (guide §1.2 step 1 /
    * §2.4) and stays embarrassingly parallel at any corpus size.
    */
  def minhashLshMd5(docs: DataFrame, tokens: Column, idCol: String,
                    n: Int = 3, m: Int = 32, bands: Int = 8,
                    threshold: Double = 0.5, roundTo: Int = 6): DataFrame = {
    require(m % bands == 0)
    val r = m / bands
    // empty shingle sets drop out, as the explode-based shape did implicitly
    val signed = docs.select(col(idCol).as("id"), shingles(tokens, n).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"),
        graft.ops.expr.OpsExprs.minhashSigMd5(col("sh"), m).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = signed.select(col("id"),
      posexplode(array((0 until bands).map { bnd =>
        md5(concat_ws(",",
          (0 until r).map(j => element_at(col("sig"), bnd * r + j + 1)): _*)
          .cast("binary"))
      }: _*)).as(Seq("band", "bh")))
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(signed.as("sa"), col("id_a") === col("sa.id"))
      .join(signed.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        round(graft.ops.expr.OpsExprs.sigAgreeStr(col("sa.sig"), col("sb.sig"))
          .cast("double") / m, roundTo).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** md5-family SimHash signatures: (id, sh LONG) — per-bit ±1 votes of
    * [[md5Long64]] token hashes. Docs with zero tokens produce no row (no
    * bits to vote).
    *
    * r7: one native pass over the token ARRAY (SimHashMd5Expr) instead of
    * explode + a 64-conditional-sum aggregation — identical values, no
    * shuffle of the exploded token table (guide §1.2 step 1).
    */
  def simhashMd5(docs: DataFrame, tokens: Column, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"), tokens.as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("id"), graft.ops.expr.OpsExprs.simhashMd5(col("toks")).as("sh"))

  /** [[simhashNearDups]] with the md5 hash family — same exact pigeonhole
    * pipeline over [[simhashMd5]] signatures. Fully SQL-recomputable: the
    * oracle may equivalently compare ALL pairs, because the blocking is
    * lossless for Hamming ≤ maxDist.
    */
  def simhashNearDupsMd5(docs: DataFrame, tokens: Column, idCol: String,
                         maxDist: Int = 3): DataFrame =
    simhashPairsFrom(simhashMd5(docs, tokens, idCol), maxDist)

  /** Max edge rows the CC fast path may collect to the driver for a local
    * union-find (~32 bytes/edge boxed → the default 2^20 bound caps the
    * collect at ~32 MB transient driver heap). 0 disables the fast path.
    */
  def ccLocalMaxEdges(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.ccLocalMaxEdges")
      .map(_.toInt).getOrElse(1 << 20)

  /** Driver union-find over integral-id edges: label = min id of the
    * component (smaller root wins the link + path compression), the exact
    * fixpoint the distributed min-label loop converges to.
    */
  private def localComponents(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // walk to root
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    rows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      } else if (!parent.containsKey(a)) parent.put(a, ra) // isolated self-pair
    }
    val ids = new java.util.HashSet[Long]()
    rows.foreach { r => ids.add(r.getLong(0)); ids.add(r.getLong(1)) }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](ids.size)
    val it = ids.iterator()
    while (it.hasNext) { val id = it.next(); out += ((id, find(id))) }
    out.toSeq
  }

  /** Connected components over an undirected near-dup pair list
    * (id_a, id_b) — the step that turns pairwise similarity output into
    * dedup CLUSTERS. Iterative min-label propagation: each round every
    * node takes the min of its own and its neighbors' labels (one
    * partial+final `groupBy(min)` + one join per round — no windows, no
    * single-task hot spots; a boilerplate hub with 10^6 neighbors is just
    * a big aggregation group). Converges in O(component diameter) rounds;
    * near-dup clusters are shallow (similarity is near-transitive), so
    * the default cap is generous. Lineage is truncated per round —
    * without it the plan doubles every iteration; set
    * `spark.graft.ccCheckpointDir` for a fault-tolerant reliable
    * checkpoint instead of the local-mode `localCheckpoint` default.
    * Convergence is observed inside the label job (no extra probe job).
    *
    * @return (id, label) for every id appearing in `pairs`; label = min
    *         id of the component.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // `pairs` is read up to three times — the fast-path probe, then both
    // directions of the distributed loop's edge union — so cache it once:
    // the upstream pair join (usually a self-join over signatures) runs
    // exactly once. A caller's own cache is left alone.
    val ownCache = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownCache)
      pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try components(pairs, maxIter)
    finally if (ownCache) pairs.unpersist(blocking = false)
  }

  private def components(pairs: DataFrame, maxIter: Int): DataFrame = {
    val spark = pairs.sparkSession
    // Fast path (r7): near-dup pair lists are usually a vanishing fraction
    // of the corpus — when the edge set fits a bounded driver collect
    // (limit-probe, the collectAllowed pattern), a local union-find replaces
    // the O(diameter) rounds of per-round Spark jobs (each a join + agg +
    // checkpoint). Same (id, label = min id of component) result; larger
    // edge sets fall through to the distributed loop unchanged. Integral id
    // types only: the local min must use the same ordering as Spark's
    // `min`, which is guaranteed here for int/long and not worth the risk
    // for strings (UTF8String vs java.lang.String collation).
    val bound = ccLocalMaxEdges(spark)
    val integral = pairs.schema("id_a").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (bound > 0 && integral) {
      val lim = math.min(bound.toLong + 1L, Int.MaxValue.toLong).toInt
      val rows = pairs
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .limit(lim).collect()
      // null ids never occur in join-produced pair lists; if one somehow
      // does, keep the distributed loop's exact semantics by falling through
      if (rows.length <= bound &&
          rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
        import spark.implicits._
        val local = localComponents(rows).toDF("id", "label")
        return pairs.schema("id_a").dataType match {
          case org.apache.spark.sql.types.IntegerType =>
            local.select(col("id").cast("int").as("id"),
              col("label").cast("int").as("label"))
          case _ => local
        }
      }
    }
    // Durability: `localCheckpoint` (executor-local blocks) is the right
    // local-mode default, but it is NOT fault-tolerant — at cluster scale
    // one executor loss invalidates the truncated lineage mid-loop. Setting
    // `spark.graft.ccCheckpointDir` (a shared-filesystem scratch root)
    // instead persists each round's label table as parquet under that dir
    // and reads it back: the write is the ROUND'S ONLY job (an RDD
    // `checkpoint()` on an unpersisted frame would compute the round's
    // join+agg twice — once for the eager action, once for the checkpoint
    // write), a lost executor re-reads files instead of failing the job,
    // and each round's files are deleted as soon as the next round lands
    // (bare `checkpoint()` files accumulate until ContextCleaner opts in).
    // Only the final round's table outlives the call — the returned frame
    // reads it lazily — and is removed at JVM exit.
    val reliableDir = spark.conf.getOption("spark.graft.ccCheckpointDir")
      .map(root => s"$root/cc-${java.util.UUID.randomUUID()}")
    reliableDir.foreach(graft.util.TempFs.registerForCleanup(spark, _))
    val hconf = spark.sparkContext.hadoopConfiguration
    // (truncatedLabels(id,label), changedCount) for one round. `changed`
    // is measured INSIDE the round's single materializing job via an
    // observed metric (labels only ever decrease, so chg ⇔ the row
    // changed) — no extra probe job in either mode.
    def roundStep(df: DataFrame, round: Int): (DataFrame, Long) =
      reliableDir match {
        case Some(run) =>
          val obs = org.apache.spark.sql.Observation()
          val dir = s"$run/round-$round"
          df.observe(obs, sum(when(col("chg"), 1L).otherwise(0L)).as("changed"))
            .write.parquet(dir)
          val changed =
            Option(obs.get("changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
          if (round > 0) // previous round unreferenced once this one landed
            graft.util.TempFs.delete(hconf, s"$run/round-${round - 1}")
          // explicit schema: no footer-inference job on read-back
          (spark.read.schema(df.schema).parquet(dir).select("id", "label"),
            changed)
        case None =>
          val observed = df.observe("cc_round",
            sum(when(col("chg"), 1L).otherwise(0L)).as("changed"))
          // localCheckpoint is the action that runs `observed`'s plan, so
          // its accumulator-backed observedMetrics are readable
          // synchronously right after (no async listener involved)
          val next = observed.localCheckpoint()
          val changed = observed.queryExecution.observedMetrics
            .get("cc_round") match {
              case Some(row) if row.get(0) != null => row.getLong(0)
              case Some(_) => 0L // null sum: empty label table
              case None => // defensive: metric missing — probe job fallback
                next.where(col("chg")).count()
            }
          (next.select("id", "label"), changed)
      }

    val e0 = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = e0.union(e0.select(col("dst"), col("src")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = roundStep(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
        .withColumn("chg", lit(false)), round = 0)._1
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      iter += 1
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy("src").agg(min("dlabel").as("nmin"))
        .select(col("src").as("id"), col("nmin"))
      val round = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (col("nmin") < col("label")).as("chg"))
      val (next, chg) = roundStep(round, iter)
      labels = next
      changed = chg
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    edges.unpersist(blocking = false)
    labels
  }

  /** Cluster assignment + canonical-survivor flag for a full document
    * table given near-dup pairs: docs in no pair form their own cluster.
    * Output: (id, cluster, keep) — cluster = min id of the component,
    * keep marks the survivor.
    */
  def clusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
    docs.select(col(idCol).as("id"))
      .join(comp.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster"))
      .withColumn("keep", col("cluster") === col("id"))
  }

  /** Embedding-cosine near-duplicates: pairs with cosine ≥ threshold,
    * LSH-blocked (reuses Similarity's hyperplane buckets) then exactly
    * verified.
    *
    * `nBits` MUST scale with corpus size — the verify join is quadratic
    * within a bucket, so pick `Similarity.autoBits(n)` (expected bucket
    * population ~1k) rather than a constant when n is not known a priori.
    */
  def embeddingNearDups(vecs: DataFrame, idCol: String, embCol: String,
                        dims: Int, threshold: Double = 0.95,
                        nBits: Int = 8, seed: Long = 42L,
                        roundTo: Int = 6): DataFrame = {
    val e = vecs.select(col(idCol).as("id"), col(embCol).as("emb"),
      Similarity.lshSignature(col(embCol), dims, nBits, seed).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = e.as("a"); val b = e.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(Similarity.cosineCol(col("a.emb"), col("b.emb")), roundTo).as("cosine"))
      .where(col("cosine") >= threshold)
  }
}
