package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.score.{BM25, BM25Params}
import graft.store.IcebergLikeStore
import graft.tokenize.Tokenizer

/** One compressed posting block: up to Codec.BlockSize (docId, impact)
  * pairs, docIds delta+varbyte encoded, impacts packed float32, with the
  * block-max metadata WAND pruning reads (PISA block_max semantics,
  * benchmark/on_pisa.py:51).
  */
final case class PostingBlock(
    first: Long, last: Long, max: Float, n: Int,
    ids: Array[Byte], imps: Array[Byte])

/** Distributed inverted-index build (the Spark-native re-expression of the
  * reference's index stage: bm25s eager impact indexing at
  * benchmark/on_bm25s.py:124-129, Lucene/PISA on-disk index builds at
  * benchmark/on_pyserini.py:243-269 / benchmark/on_pisa.py:47-49).
  *
  * Layout under `indexDir` (an IcebergLikeStore-managed table):
  *
  *   docmap/   (docId STRING, docIntId LONG, salt INT)
  *   segments/ g=<group>/ (docIntId, len, term, tf)      [resumable stage]
  *   docs/     (docIntId LONG, docId STRING, len LONG, salt INT)
  *   docvecs/  salt=<s>/ (docIntId, term, tf)   [stored doc term vectors]
  *   termstats/ (term STRING, df LONG, ctf LONG)
  *   postings/ bucket=<b>/ (term, salt, df, count, maxImpact, blocks)
  *   _commits/ *.json  per-partition-group lineage + metrics
  *   _properties.json  scoring params + global stats (N, avgdl, numTokens)
  *
  * Scale design (SURVEY.md §4, §7):
  *  - docIntId: surrogate ids assigned by a cheap column-pruned job (range
  *    partition by docId + per-partition offsets), so posting lists
  *    delta-encode and WAND walks ids in ascending order. salt = high bits
  *    of docIntId ⇒ contiguous doc ranges; every (term, salt) posting group
  *    is bounded (≤ 2^SaltShift docs), which is the explicit skew salting
  *    the north rule demands — a term occurring in 50% of all docs still
  *    never forms one giant shuffle group.
  *  - segments stage is committed per corpus group: a killed build re-runs
  *    only uncommitted groups (tokenization — the expensive part — never
  *    repeats for committed groups). In a production Iceberg deployment the
  *    groups key off manifest file splits; here they key off hash(docId).
  *  - merge stage shuffles only narrow (term, docIntId, tf, len) rows,
  *    computes exact global df with a narrow partial+final hash agg
  *    (termstats table) joined back onto segment rows, and eagerly
  *    materializes per-posting BM25 impacts (bm25s's core idea) into
  *    delta+varbyte blocks with block-max metadata.
  */
object IndexBuilder {

  /** docs-per-salt group = 2^SaltShift (within one docmap partition). */
  val SaltShift = 20

  final case class Config(
      params: BM25Params = BM25Params(),
      tokenPattern: String = Tokenizer.TokenPattern,
      // snowball stemming on/off (T5). Recorded in the index properties so
      // query-side tokenization can't drift from the build; stem=false +
      // AsciiTokenPattern is the externally-reproducible pipeline the
      // DuckDB oracle can replicate exactly.
      stem: Boolean = true,
      numSegmentGroups: Int = 4,
      // postings bucket-partition count. 0 = derive from the vocabulary at
      // build time (autoBuckets) — a constant cannot serve both a 5k-doc
      // fixture and a 100-TB vocabulary (r6 VERDICT #4): too few buckets at
      // scale weaken partition pruning and task granularity, too many at
      // small scale fragment the table into sub-row-group files.
      numBuckets: Int = 16,
      docmapPartitions: Int = 0, // 0 = spark default parallelism
      // Store per-document term vectors (docvecs table) — the analogue of
      // Pyserini's `--storeDocvectors` (reference: benchmark/on_pyserini.py:
      // 245-253, passed unconditionally by the harness), which exists
      // precisely for feedback-style consumers: RM3 fetches its nQueries ×
      // fbDocs feedback vectors by key instead of re-tokenizing the corpus.
      // Costs one extra shuffle+write of the narrow token table at build.
      storeDocVectors: Boolean = true)

  def saltOf(docIntId: Column): Column =
    shiftrightunsigned(docIntId, SaltShift).cast(IntegerType)

  /** One encoded posting list: the output row of the streaming encoder. */
  final case class PostingListRow(
      term: String, salt: Int, df: Long, count: Int,
      maxImpact: Float, blocks: Seq[PostingBlock], bucket: Int)

  /** Streaming posting-run encoder over rows sorted by (bucket, term, salt,
    * docIntId): buffers exactly ONE (term, salt) group at a time (bounded by
    * the salt width, ≤ 2^SaltShift entries), materializes eager BM25 impacts
    * (the bm25s strategy, benchmark/on_bm25s.py:124-129) and packs
    * delta+varbyte blocks with block-max metadata. Replaces a
    * collect_list aggregation that either buffered whole partitions in
    * boxed builders (hash agg) or re-sorted every group (sort-based
    * fallback — measured NOT to scale 2→8 cores); here the upstream
    * UnsafeRow radix sort provides the run order and memory stays bounded
    * per group regardless of partition size.
    *
    * Input row layout: (term STRING, salt INT, docIntId LONG, tf LONG,
    * len LONG, df LONG, bucket INT).
    */
  final class RunEncoder(p: BM25Params, numDocs: Long, avgdl: Double,
                         rows: Iterator[org.apache.spark.sql.Row])
      extends Iterator[PostingListRow] {
    private val it = rows.buffered
    def hasNext: Boolean = it.hasNext

    private var ids = new Array[Long](1024)
    private var imps = new Array[Float](1024)

    def next(): PostingListRow = {
      val head = it.head
      val term = head.getString(0)
      val salt = head.getInt(1)
      val df = head.getLong(5)
      val bucket = head.getInt(6)
      var n = 0
      var maxImp = Float.MinValue
      while (it.hasNext && it.head.getString(0) == term && it.head.getInt(1) == salt) {
        val r = it.next()
        if (n == ids.length) {
          ids = java.util.Arrays.copyOf(ids, n * 2)
          imps = java.util.Arrays.copyOf(imps, n * 2)
        }
        ids(n) = r.getLong(2)
        val imp = BM25.Scalar
          .impact(p, r.getLong(3).toDouble, df, r.getLong(4), numDocs, avgdl).toFloat
        imps(n) = imp
        if (imp > maxImp) maxImp = imp
        n += 1
      }
      val nBlocks = (n + Codec.BlockSize - 1) / Codec.BlockSize
      val blocks = (0 until nBlocks).map { b =>
        val from = b * Codec.BlockSize
        val until = math.min(from + Codec.BlockSize, n)
        val bIds = java.util.Arrays.copyOfRange(ids, from, until)
        val bImps = java.util.Arrays.copyOfRange(imps, from, until)
        PostingBlock(bIds.head, bIds.last, bImps.max, bIds.length,
          Codec.encodeDeltaVarByte(bIds), Codec.encodeFloats(bImps))
      }
      PostingListRow(term, salt, df, n, maxImp, blocks, bucket)
    }
  }

  def bucketOf(term: Column, numBuckets: Int): Column =
    pmod(xxhash64(term), lit(numBuckets.toLong)).cast(IntegerType)

  /** Terms per postings bucket the auto rule targets. With the postings
    * layout's 1 MB row groups and a 16k-ndv term bloom filter per group,
    * ~2^16 terms per bucket keeps each bucket a handful of MB-scale,
    * row-group-prunable files; the candidate scan's read fraction is then
    * ∝ nQueryTerms × rowGroup regardless of bucket count (measured across
    * numBuckets ∈ {4..64} at 480k docs — BASELINE.md "Round-7 postings
    * bucket sweep"), so the rule just keeps file/dir counts sane at both
    * ends of the scale.
    */
  val TermsPerBucketTarget: Long = 1L << 16

  /** Bucket count for `numBuckets = 0` builds: vocabulary-proportional,
    * clamped to [8, 4096] (dir count stays manageable; a 10^9-term corpus
    * saturates the cap with ~256k terms per bucket — still dozens of
    * prunable row groups per bucket at the 1 MB row-group layout).
    * Deterministic in the committed termstats row count, so a killed build
    * resumes with the same value.
    */
  def autoBuckets(vocabSize: Long): Int =
    math.max(8L, math.min(4096L,
      (vocabSize + TermsPerBucketTarget - 1) / TermsPerBucketTarget)).toInt

  /** One PACKED stored doc vector: all of a document's (term, tf) pairs in
    * two parallel arrays (docvecs format "packed"). One row per document
    * instead of one per (doc, term): the docvecs table carries no repeated
    * docIntId/salt per term, shuffles ~1/avgUniqueTerms the record count,
    * and its pre-write sort orders ~numDocs packed rows instead of the full
    * token table — measured ~22% of index build as row-per-term in round 5.
    */
  final case class DocVecRow(docIntId: Long, salt: Int, len: Long,
                             terms: Array[String], tfs: Array[Long])

  /** Streaming per-partition packer over (docIntId, term, tf) rows: groups
    * CONSECUTIVE equal-docIntId runs into one DocVecRow. Segment files are
    * written doc-contiguously (per-doc explode), so runs are whole doc
    * vectors in the common case; a doc whose rows straddle an input-split
    * boundary yields two partial rows — harmless, because every (doc, term)
    * pair exists exactly once globally and consumers union the pairs back
    * (Rm3.feedbackVectors explodes the arrays). Memory is bounded by one
    * document's vocabulary.
    */
  final class DocVecPacker(rows: Iterator[org.apache.spark.sql.Row])
      extends Iterator[DocVecRow] {
    private val it = rows.buffered
    def hasNext: Boolean = it.hasNext
    def next(): DocVecRow = {
      val id = it.head.getLong(0)
      val terms = scala.collection.mutable.ArrayBuffer.empty[String]
      val tfs = scala.collection.mutable.ArrayBuffer.empty[Long]
      var len = 0L
      while (it.hasNext && it.head.getLong(0) == id) {
        val r = it.next()
        terms += r.getString(1)
        val tf = r.getLong(2)
        tfs += tf
        len += tf
      }
      // len (Σtf) rides on the packed row so the docs stage reads doc
      // lengths as a two-column pruned scan — no array decode, no
      // token-table re-aggregation
      DocVecRow(id, (id >>> SaltShift).toInt, len, terms.toArray, tfs.toArray)
    }
  }

  /** Overwrite-write `df` as parquet and return its row count, captured by
    * an Observation INSIDE the write job — no separate count job, no
    * re-read of what was just written (each saved job is a full barrier).
    */
  private def writeCounted(df: DataFrame, path: String,
                           partitionCols: Seq[String] = Nil,
                           options: Map[String, String] = Map.empty): Long = {
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite")
      .options(options)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** Parquet layout knobs for the docvecs table: point-lookup-shaped, not
    * scan-shaped. A feedback fetch filters by a SCATTERED docIntId set
    * (top-k hits land anywhere in the corpus), which row-group MIN/MAX
    * stats cannot skip — measured: a 100-id scattered fetch read 100% of
    * records under the default 128 MB row groups, vs 10% with 256 KB
    * groups + a bloom filter (BASELINE.md "Round-6 A/B: packed doc
    * vectors", point-lookup layout). Small row groups + a docIntId bloom
    * filter make skipped-record volume ∝ nIds × rowGroup instead of ∝
    * table size; the cost is a few % of table size in metadata.
    * Contiguous-range fetches keep pruning via the min/max stats as
    * before.
    */
  private val DocvecsWriteOptions: Map[String, String] = Map(
    "parquet.bloom.filter.enabled#docIntId" -> "true",
    "parquet.bloom.filter.expected.ndv#docIntId" -> "16384",
    "parquet.block.size" -> (1 << 20).toString)

  /** Same point-lookup layout for the postings table, keyed by term: a
    * query batch's distinct terms are SCATTERED across the term-sorted row
    * groups, so with default 128 MB groups the candidate scan read 100% of
    * posting rows per batch (BASELINE.md "Round-6 postings point-lookup
    * layout": 736k records for 1,312 matching rows at 480k docs). Term
    * bloom filter + 1 MB row groups: 6.0% of records, 4× faster scan,
    * table no larger — and the fraction keeps falling with corpus size
    * (IO ∝ nTerms × rowGroup).
    * Bucket partition pruning and the In(term) row-group stats pruning
    * for narrow term sets are unchanged.
    */
  private val PostingsWriteOptions: Map[String, String] = Map(
    "parquet.bloom.filter.enabled#term" -> "true",
    "parquet.bloom.filter.expected.ndv#term" -> "16384",
    "parquet.block.size" -> (1 << 20).toString)

  /** Write (or resume) the packed docvecs table — stored document term
    * vectors, re-clustered for per-doc random access: PACKED one row per
    * doc BEFORE the shuffle (so the salt shuffle moves ~numDocs array rows,
    * not the full token table), partitioned by salt (a feedback fetch
    * partition-prunes to its docs' salt groups) and sorted by docIntId
    * within files (row-group min/max stats prune to the exact docs, so a
    * bounded doc set reads a bounded byte range — no corpus or token-table
    * scan). The analogue of Pyserini's `--storeDocvectors`
    * (benchmark/on_pyserini.py:245-253). Consumed by
    * graft.query.Rm3.feedbackVectors.
    */
  private def docvecsStage(indexDir: String, store: IcebergLikeStore,
                           segments: DataFrame): Unit =
    store.stage("docvecs", Seq("docvecs"),
        Map("stage" -> "docvecs", "format" -> "packed")) {
      implicit val enc = org.apache.spark.sql.Encoders.product[DocVecRow]
      val packed = segments.select(col("docIntId"), col("term"), col("tf"))
        .mapPartitions(rows => new DocVecPacker(rows))
      // NO shuffle: each scan partition covers a near-contiguous docIntId
      // range (segment files are written doc-contiguously), so after the
      // map-side pack each of the P scan partitions holds ~numDocs/P packed
      // rows touching only 1-2 salt values — the dynamic-partition writer
      // sends them straight to their salt dirs (a handful of files per dir,
      // each docIntId-sorted so row-group min/max pruning stays tight). The sort is over packed rows,
      // three orders of magnitude fewer than the row-per-term layout sorted.
      writeCounted(
        packed.toDF()
          .sortWithinPartitions("salt", "docIntId"),
        s"$indexDir/docvecs", partitionCols = Seq("salt"),
        options = DocvecsWriteOptions)
    }

  /** The docvecs layout actually on disk, from the stage's commit metadata:
    * commits written since the packed layout exist record format=packed;
    * a legacy (round-5, row-per-term) docvecs commit lacks the key. Never
    * assume the current layout — a resumed pre-packed index stamped
    * "packed" would make Rm3's arrays_zip unpack fail at query time on a
    * table without terms[]/tfs[] columns.
    */
  private def docvecsFormatOf(store: IcebergLikeStore): String =
    store.lastCommit("docvecs").flatMap(_.metrics.get("format")).getOrElse("rows")

  /** Build (or resume) the index for a corpus of (docId STRING, content
    * STRING) rows. Returns the store handle.
    */
  def build(spark: SparkSession, corpus: DataFrame, indexDir: String,
            cfg: Config = Config()): IcebergLikeStore = {
    val store = new IcebergLikeStore(indexDir)
    if (store.isComplete) {
      // Backfill path: a complete index built WITHOUT doc vectors (or before
      // the docvecs stage existed) would otherwise only fail later, at
      // query time, through BM25Index.docvecs' require. The stage is
      // commit-guarded and reads only the persisted segments, so running it
      // here is exactly the resume semantics the other stages have.
      val props = store.readProperties()
      if (!cfg.storeDocVectors || props.get("docVectors").contains("true"))
        return store
      val segs = spark.read.parquet(s"$indexDir/segments")
        .select("docIntId", "len", "term", "tf")
      docvecsStage(indexDir, store, segs)
      store.writeProperties(props ++ Map(
        "docVectors" -> "true", "docvecsFormat" -> docvecsFormatOf(store)))
      return store
    }
    val t0 = System.nanoTime()

    val P = if (cfg.docmapPartitions > 0) cfg.docmapPartitions
            else spark.sparkContext.defaultParallelism

    // A small corpus parquet collapses to one input split (128 MB default
    // packing), which would serialize tokenization on one task. At real
    // scale inputs have thousands of splits and this no-ops. The split
    // count is ESTIMATED from plan statistics (file-size metadata /
    // maxPartitionBytes) — `corpus.rdd.getNumPartitions` materialized the
    // full RDD-conversion lineage once per build just to read a partition
    // count (r6 VERDICT nit; guide §1.2 "don't compute things you throw
    // away").
    val corpusP = {
      val maxSplitBytes = org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
      val estSplits =
        (corpus.queryExecution.optimizedPlan.stats.sizeInBytes
          + maxSplitBytes - 1) / maxSplitBytes
      if (estSplits < P) corpus.repartition(P, col("docId")) else corpus
    }

    // ---- stage 0: docmap — deterministic surrogate ids. Column-pruned
    // scan (only docId); one HASH shuffle of narrow rows + per-partition
    // sort. Hash instead of range: ids only need to be deterministic
    // (hash(docId) partitioning + sorted-within-partition is), not globally
    // docId-ordered, and repartitionByRange would execute the child an
    // extra time to sample range bounds — pure fixed cost per build.
    val docmapPath = s"$indexDir/docmap"
    store.stage("docmap", Seq("docmap"), Map("stage" -> "docmap")) {
      writeCounted(
        corpus.select(col("docId")) // column-pruned: only docId shuffles here
          .repartition(P, col("docId"))
          .sortWithinPartitions("docId")
          .withColumn("docIntId", monotonically_increasing_id())
          .withColumn("salt", saltOf(col("docIntId"))),
        docmapPath)
    }
    val docmap = spark.read.parquet(docmapPath)

    // ---- stage 1: segments — tokenize + per-doc term frequencies,
    // committed per corpus group (resume skips committed groups).
    val segBase = s"$indexDir/segments"
    for (g <- 0 until cfg.numSegmentGroups)
      store.stage(s"seg-$g", Seq(s"segments/g=$g"),
          Map("stage" -> "segments", "group" -> g.toString)) {
        val part = corpusP.where(
          pmod(xxhash64(col("docId")), lit(cfg.numSegmentGroups.toLong)) === g)
        // shuffle-hash join, never sort-merge: SMJ would SORT the full
        // content payload by docId; hash join only shuffles it (planner
        // still picks broadcast when docmap fits under the threshold)
        val toks = part.join(docmap.hint("shuffle_hash"), "docId")
          .select(col("docIntId"),
            Tokenizer.tokens(col("content"), cfg.tokenPattern, cfg.stem).as("toks"))
        // per-doc tf computed INSIDE the row (TermCountsExpr): the previous
        // corpus-wide groupBy(docIntId, term) aggregated under nearly-unique
        // keys, so its hash map overflowed to a sort at scale (measured
        // super-linear past ~10^6 docs)
        writeCounted(
          toks
            .select(col("docIntId"), size(col("toks")).cast(LongType).as("len"),
              explode(graft.index.expr.TermCountsExprs.termCounts(col("toks"))).as("tc"))
            .select(col("docIntId"), col("len"),
              col("tc.term").as("term"), col("tc.tf").as("tf")),
          s"$segBase/g=$g")
      }

    // Three downstream stages consume segments (docs, termstats, postings).
    // They re-read the parquet uncached: each column-prunes a different
    // subset, and re-scanning narrow columns measured FASTER than building
    // the full 4-column columnar cache (docs stage 21.5 s cached vs 5.6 s
    // uncached at 2.4M docs, BASELINE.md "Segments cache"), with no
    // eviction cliff once the corpus outgrows storage memory.
    val segments = spark.read.parquet(segBase)
      .select("docIntId", "len", "term", "tf") // drop partition col g

    // ---- stage 2a: docvecs — stored document term vectors (packed).
    // Runs BEFORE the docs table: the packed rows then feed the doc-length
    // computation below, which repays most of this stage's cost.
    if (cfg.storeDocVectors) docvecsStage(indexDir, store, segments)

    // ---- stage 2: docs table (docId, len) + global stats.
    store.stage("docs", Seq("docs"), Map("stage" -> "docs")) {
      // doc lengths: with stored doc vectors, Σtf was already folded into
      // the packed rows' len column — a TWO-COLUMN pruned scan of ~numDocs
      // rows (no array decode, no token-table re-aggregation; the groupBy
      // only merges split-straddle partials). The vectorless build keeps
      // the token-table aggregation.
      // (an EMPTY docvecs write leaves a schemaless partitioned dir —
      // fall back to the token table, itself empty then)
      val docvecsNonEmpty = cfg.storeDocVectors &&
        store.lastCommit("docvecs").exists(_.rowCount > 0)
      val lens =
        (if (docvecsNonEmpty)
           spark.read.parquet(s"$indexDir/docvecs")
             .select(col("docIntId"), col("len").as("tf"))
         else segments.select(col("docIntId"), col("tf")))
          .groupBy("docIntId").agg(sum("tf").as("len"))
      // shuffle-hash, not sort-merge: neither side needs sorting for a
      // plain equi-join and SMJ would sort both million-row sides
      writeCounted(
        docmap.join(lens.hint("shuffle_hash"), Seq("docIntId"), "left")
          .select(col("docIntId"), col("docId"),
            coalesce(col("len"), lit(0L)).as("len"), col("salt")),
        s"$indexDir/docs")
    }

    val docs = spark.read.parquet(s"$indexDir/docs")
    val statsRow = docs.agg(count(lit(1)), avg(col("len")), sum(col("len")),
      countDistinct(col("salt"))).head()
    val numDocs = statsRow.getLong(0)
    val avgdl = if (numDocs == 0 || statsRow.isNullAt(1)) 0.0 else statsRow.getDouble(1)
    val numTokens = if (statsRow.isNullAt(2)) 0L else statsRow.getLong(2)
    val numSalts = statsRow.getLong(3)

    // ---- stage 3: postings — sorted (term, salt) runs, global df from the
    // narrow termstats agg, eager impacts, delta+varbyte blocks.
    val p = cfg.params

    // stage 3a: narrow per-term stats (exact global df; partial+final hash
    // agg, so a term in 50% of docs never concentrates on one task).
    // Persisted: also the query-side term dictionary for diagnostics.
    store.stage("termstats", Seq("termstats"), Map("stage" -> "termstats")) {
      writeCounted(
        segments.groupBy("term")
          .agg(count(lit(1)).as("df"), sum("tf").as("ctf")),
        s"$indexDir/termstats")
    }
    val termstats = spark.read.parquet(s"$indexDir/termstats")

    // effective bucket count: explicit, or vocabulary-derived (the vocab
    // size is the termstats commit's own row count — no extra job)
    val numBuckets =
      if (cfg.numBuckets > 0) cfg.numBuckets
      else autoBuckets(store.lastCommit("termstats").map(_.rowCount).getOrElse(0L))

    store.stage("postings", Seq("postings"),
        Map("stage" -> "postings", "buckets" -> numBuckets.toString)) {
      // df joins onto NARROW segment rows (AQE skew-split handles giant
      // terms); one hash shuffle on (bucket, salt) co-locates each (term,
      // salt) run WITH its output bucket, and the radix sort inside each
      // task hands the streaming encoder its runs in order — every run
      // bounded by the salt width, never by a term's full df, and encoder
      // memory bounded by one run regardless of partition size.
      // termstats can exceed the broadcast threshold (singleton terms make
      // |vocab| ~ O(corpus)); hint shuffle-hash so the 50M-row segment side
      // is never sorted for the join — its only sort is the run sort below.
      // termHash leads the intra-bucket sort key so row comparisons resolve
      // on a long instead of the term string (term itself only breaks the
      // rare hash ties); runs stay (term, salt)-contiguous either way.
      val sorted = segments
        .withColumn("salt", saltOf(col("docIntId")))
        .join(termstats.select("term", "df").hint("shuffle_hash"), "term")
        .withColumn("bucket", bucketOf(col("term"), numBuckets))
        .withColumn("termHash", xxhash64(col("term")))
        .select(col("term"), col("salt"), col("docIntId"), col("tf"),
          col("len"), col("df"), col("bucket"), col("termHash"))
        .repartition(col("bucket"), col("salt"))
        // termHash LEADS the sort: a nearly-unique 8-byte first key lets the
        // UnsafeExternalSorter's radix prefix resolve almost every
        // comparison (bucket would waste the prefix on 16 values — and the
        // writer's bucket grouping is restored by the cheap re-sort of the
        // encoded output below, so the 100M-row sort doesn't need it)
        .sortWithinPartitions("termHash", "term", "salt", "docIntId")
        .drop("termHash")
      implicit val enc = org.apache.spark.sql.Encoders.product[PostingListRow]
      val encoded = sorted.mapPartitions(rows =>
        new RunEncoder(p, numDocs, avgdl, rows))
      writeCounted(
        // re-cluster the (small: one row per posting list) encoded output
        // BY BUCKET, term-sorted: one term-contiguous file per bucket whose
        // 1 MB row groups carry tight term min/max, so the query-side
        // In(term) pushdown prunes row groups even for scattered term sets
        // (the per-shuffle-task files the previous layout produced each
        // spanned the bucket's whole term range — measured as a 100%
        // postings scan per batch, BASELINE.md "Round-6 postings
        // point-lookup layout"). The extra
        // exchange moves only the encoded rows, a few % of the original
        // token volume; also satisfies the partition writer's ordering
        // requirement (no writer sort).
        encoded.toDF()
          .repartition(col("bucket"))
          .sortWithinPartitions("bucket", "term", "salt"),
        s"$indexDir/postings", partitionCols = Seq("bucket"),
        options = PostingsWriteOptions)
    }

    store.writeProperties(Map(
      "engine" -> "graft-bm25",
      "method" -> p.method, "k1" -> p.k1.toString, "b" -> p.b.toString,
      "delta" -> p.delta.toString,
      "tokenPattern" -> cfg.tokenPattern,
      "stemmer" -> (if (cfg.stem) "snowball-en" else "none"),
      "stopwords" -> "en-33",
      "docVectors" -> cfg.storeDocVectors.toString,
      "docvecsFormat" -> (if (cfg.storeDocVectors) docvecsFormatOf(store)
                          else "none"),
      "numDocs" -> numDocs.toString, "avgdl" -> avgdl.toString,
      "numTokens" -> numTokens.toString,
      "numBuckets" -> numBuckets.toString,
      "numSalts" -> numSalts.toString,
      "saltShift" -> SaltShift.toString,
      "buildElapsedSec" -> ((System.nanoTime() - t0) / 1e9).toString))
    store
  }
}
