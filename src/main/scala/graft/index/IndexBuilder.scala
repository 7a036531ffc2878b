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
  *   docvecs/  g=<group>/salt=<s>/ (docIntId, docId, len, terms[], tfs[])
  *             one packed row per document: its stored term vector, and
  *             the docs dimension (docIntId, docId, len, salt) that
  *             BM25Index.docs projects from it [resumable per corpus group]
  *   termstats/ (term STRING, df LONG, ctf LONG)
  *   postings/ bucket=<b>/ (term, salt, df, count, maxImpact, blocks)
  *   _commits/ *.json  per-partition-group lineage + metrics
  *   _properties.json  scoring params + global stats (N, avgdl, numTokens)
  *
  * Every manifest and `_properties.json` record [[FormatVersion]]: the
  * readers and a resuming build open that one layout and refuse any other.
  *
  * Scale design (SURVEY.md §4, §7):
  *  - docIntId: dense surrogate ids, (p << 33) + the doc's docId rank in
  *    its id partition p = pmod(hash(docId), P), the partition
  *    `repartition(P, docId)` sends it to. Each segment group job assigns
  *    them itself, after a docId sample and a doc count job: posting lists
  *    delta-encode, WAND walks ids in ascending order, and every (group,
  *    salt) docvecs file is one contiguous id range. salt = high bits of
  *    docIntId ⇒ contiguous doc ranges; every (term, salt) posting group
  *    is bounded (≤ 2^SaltShift docs), which is the explicit skew salting
  *    the north rule demands — a term occurring in 50% of all docs still
  *    never forms one giant shuffle group.
  *  - the segment stage is committed per corpus group: a killed build
  *    re-runs only uncommitted groups (tokenization — the expensive part —
  *    never repeats for committed groups). In a production Iceberg
  *    deployment the groups key off manifest file splits; here they are
  *    docId ranges. Each group's output is its packed doc vectors, so every
  *    (doc, term, tf) pair is stored once; its one shuffle spreads its
  *    tokenization over P tasks. Its manifest records P, the config fields
  *    that shape its rows and a checksum of the sample cuts and counts.
  *  - merge stage explodes the packed rows to narrow (term, docIntId, tf,
  *    len) rows, computes exact global df with a narrow partial+final hash
  *    agg (termstats table) joined back onto them, and eagerly
  *    materializes per-posting BM25 impacts (bm25s's core idea) into
  *    delta+varbyte blocks with block-max metadata.
  */
object IndexBuilder {

  /** docs-per-salt group = 2^SaltShift (within one id partition). */
  val SaltShift = 20

  /** docIntId bits from here up hold the doc's id partition p: the layout
    * of `monotonically_increasing_id`, which numbers the segment groups.
    * A salt is therefore (p << (IdPartitionShift − SaltShift)) + its run j
    * within the partition.
    */
  private[graft] val IdPartitionShift = 33

  /** The index layout this build writes, recorded as `formatVersion` in
    * `_properties.json` and in every stage manifest. `BM25Index` and a
    * resuming [[build]] open only this version; an index of any other is
    * deleted and rebuilt, so no reader branches on an older layout.
    */
  private[graft] val FormatVersion = 1

  /** A refusal of an index dir recorded with another format version. */
  private[graft] final class FormatMismatch(msg: String) extends IllegalStateException(msg)

  /** Refuses `indexDir` unless `what` (a manifest's metrics or the index
    * properties) records [[FormatVersion]].
    */
  private[graft] def checkFormat(indexDir: String, what: String,
                                 recorded: Map[String, String]): Unit = {
    val found = recorded.get("formatVersion")
    if (!found.contains(FormatVersion.toString))
      throw new FormatMismatch(s"index at $indexDir: $what records formatVersion=" +
        s"${found.getOrElse("(none)")}, this code reads and writes only formatVersion=" +
        s"$FormatVersion; delete and rebuild")
  }

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
      // sets the id partitions P that each seg-* commit records as
      // idPartitions: docIntId bits 33+ hold a doc's hash partition. 0 =
      // default parallelism; a resume keeps the recorded P. (The name is
      // the docmap table's, which it once sized; callers pass it by name.)
      docmapPartitions: Int = 0)

  /** The packed doc-vector table with its partition columns: read with it,
    * not inferred, since an empty corpus writes no data file under them.
    */
  private[graft] val DocvecsSchema: StructType = StructType.fromDDL("docIntId BIGINT, " +
    "docId STRING, len BIGINT, terms ARRAY<STRING>, tfs ARRAY<BIGINT>, g INT, salt INT")

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

  /** Overwrite-write `df` as parquet and return its row count (or the sum
    * of `counted` per row), captured by an Observation INSIDE the write
    * job — no separate count job, no re-read of what was just written
    * (each saved job is a full barrier).
    */
  private def writeCounted(df: DataFrame, path: String,
                           partitionCols: Seq[String] = Nil,
                           options: Map[String, String] = Map.empty,
                           counted: Column = lit(1L)): Long = {
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs, coalesce(sum(counted), lit(0L)).as("n"))
      .write.mode("overwrite")
      .options(options)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** Parquet layout knobs for the docvecs (key docIntId) and postings
    * (key term) tables: point-lookup-shaped, not scan-shaped.
    *  - docvecs: a feedback fetch filters by a SCATTERED docIntId set
    *    (top-k hits land anywhere in the corpus), which row-group MIN/MAX
    *    stats cannot skip — measured: a 100-id scattered fetch read 100% of
    *    records under the default 128 MB row groups, vs 10% with 256 KB
    *    groups + a bloom filter (BASELINE.md "Round-6 A/B: packed doc
    *    vectors", point-lookup layout). Contiguous-range fetches keep
    *    pruning via the min/max stats.
    *  - postings: a query batch's distinct terms are SCATTERED across the
    *    term-sorted row groups, so with default 128 MB groups the candidate
    *    scan read 100% of posting rows per batch (BASELINE.md "Round-6
    *    postings point-lookup layout": 736k records for 1,312 matching rows
    *    at 480k docs). Term bloom filter + 1 MB row groups: 6.0% of
    *    records, 4× faster scan, table no larger. Bucket partition pruning
    *    and the In(term) row-group stats pruning are unchanged.
    * Small row groups + a key bloom filter make skipped-record volume ∝
    * nKeys × rowGroup instead of ∝ table size. The filter is sized for the
    * `ndv` keys a file can hold, at most 16,384 (32 KB at parquet's default
    * 1% fpp): one sized for more keys than a small file holds is mostly
    * empty bytes. (Parquet writes none for a column chunk its dictionary
    * encodes whole, as it does the terms of small postings files.)
    */
  private def pointLookupOptions(key: String, ndv: Long): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$key" -> "true",
    s"parquet.bloom.filter.expected.ndv#$key" -> math.max(1L, math.min(16384L, ndv)).toString,
    "parquet.block.size" -> (1 << 20).toString)

  /** Build (or resume) the index for a corpus of (docId STRING, content
    * STRING) rows. Returns the store handle.
    */
  def build(spark: SparkSession, corpus: DataFrame, indexDir: String,
            cfg: Config = Config()): IcebergLikeStore = {
    val store = new IcebergLikeStore(indexDir)
    // a build resumes or reopens only its own format
    val commits = store.readCommits()
    for (c <- commits) checkFormat(indexDir, s"the ${c.group} commit", c.metrics)
    if (store.isComplete) {
      checkFormat(indexDir, "_properties.json", store.readProperties())
      return store
    }
    val version = "formatVersion" -> FormatVersion.toString
    val t0 = System.nanoTime()

    val G = cfg.numSegmentGroups
    val segCommits = commits.filter(_.group.startsWith("seg-"))
    val P = segCommits.flatMap(_.metrics.get("idPartitions")).headOption.map(_.toInt)
      .getOrElse(if (cfg.docmapPartitions > 0) cfg.docmapPartitions
                 else spark.sparkContext.defaultParallelism)
    val pending = (0 until G).filterNot(g => segCommits.exists(_.group == s"seg-$g"))

    // Corpus groups are docId ranges cut at the G-quantiles of a sample
    // (the docIds of the 256·G smallest hashes), so an id partition holds
    // them in docId order: a group numbered after the groups before it
    // gets the ids of one partition + sort + monotonically_increasing_id.
    lazy val sample = corpus.select(col("docId"))
      .orderBy(xxhash64(col("docId")), col("docId")).limit(256 * G)
      .orderBy("docId").collect().map(_.getString(0))
    val bounds = if (pending.isEmpty) Nil
                 else (1 until G).flatMap(i => sample.lift(i * sample.length / G))
    val groupOf = bounds.foldLeft(lit(0))((n, b) => n + when(col("docId") >= b, 1).otherwise(0))
    // docs per (group, id partition)
    val counts = Array.ofDim[Long](G, P)
    if (pending.nonEmpty)
      corpus.groupBy(groupOf.as("g"), pmod(hash(col("docId")), lit(P))).count().collect()
        .foreach(r => counts(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    // what fixes a group's rows, recorded in its manifest: a resume whose
    // config or corpus differs would duplicate some docs and lose others
    val recorded = Seq("numSegmentGroups" -> G.toString,
      "tokenPattern" -> cfg.tokenPattern, "stem" -> cfg.stem.toString,
      "idPartitions" -> P.toString) ++
      (if (pending.isEmpty) Nil else Seq("docCounts" -> java.security.MessageDigest
        .getInstance("SHA-256").digest((bounds ++ counts.map(_.mkString(","))).mkString(";")
          .getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString))
    for (c <- segCommits; (k, v) <- recorded if !c.metrics.get(k).contains(v))
      throw new IllegalStateException(s"partial index at $indexDir: ${c.group} was " +
        s"committed with $k=${c.metrics.getOrElse(k, "(none)")}, this build has $k=$v; " +
        "resume with the corpus and config it started with, or delete and rebuild")

    // ---- stage 1: segments — tokenize + per-doc term frequencies, one
    // packed doc vector per document, committed per corpus group (resume
    // skips committed groups). The stored vectors ARE the segment output:
    // termstats and postings explode them, the docs dimension projects them.
    for (g <- 0 until G)
      store.stage(s"seg-$g", Seq(s"docvecs/g=$g"), recorded.toMap ++
          Map(version, "stage" -> "segments", "group" -> g.toString, "format" -> "packed")) {
        // the one shuffle: each doc lands in its id partition, sorted by
        // docId, numbered after the docs of groups < g there
        val before = typedLit((0 until P).map(p => (0 until g).map(counts(_)(p)).sum))
        val toks = corpus.where(groupOf === g)
          .repartition(P, col("docId"))
          .sortWithinPartitions("docId")
          .select(col("docId"),
            (monotonically_increasing_id() + element_at(before, spark_partition_id() + 1))
              .as("docIntId"),
            // (null content tokenizes as empty: every doc gets its one row)
            Tokenizer.tokens(coalesce(col("content"), lit("")), cfg.tokenPattern,
              cfg.stem).as("toks"))
        // per-doc tf computed INSIDE the row (TermCountsExpr): the previous
        // corpus-wide groupBy(docIntId, term) aggregated under nearly-unique
        // keys, so its hash map overflowed to a sort at scale (measured
        // super-linear past ~10^6 docs)
        val packed = toks
          .select(col("docIntId"), col("docId"), saltOf(col("docIntId")).as("salt"),
            size(col("toks")).cast(LongType).as("len"),
            graft.index.expr.TermCountsExprs.termCounts(col("toks")).as("tc"))
          .select(col("docIntId"), col("docId"), col("len"),
            col("tc.term").as("terms"), col("tc.tf").as("tfs"), col("salt"))
        // a partition holds all of its salts, so no second shuffle: one
        // docIntId-sorted file per (group, salt), whose small row groups and
        // docIntId bloom filter (sized for the group's fullest partition)
        // keep a feedback fetch point-lookup-shaped. The commit's rowCount
        // is the group's (doc, term) pair count, the termstats df sum.
        writeCounted(packed.sortWithinPartitions("salt", "docIntId"),
          s"$indexDir/docvecs/g=$g", partitionCols = Seq("salt"),
          options = pointLookupOptions("docIntId", counts(g).max),
          counted = size(col("terms")).cast(LongType))
      }

    // The downstream stages re-read the packed rows uncached: each
    // column-prunes a different subset, and re-scanning narrow columns
    // measured FASTER than a columnar cache (BASELINE.md "Segments cache").
    val docvecs = spark.read.schema(DocvecsSchema).parquet(s"$indexDir/docvecs")
    val pairs = docvecs
      .select(col("docIntId"), col("salt"), col("len"),
        explode(arrays_zip(col("terms"), col("tfs"))).as("tt"))
      .select(col("docIntId"), col("salt"), col("len"),
        col("tt.terms").as("term"), col("tt.tfs").as("tf"))

    // global stats over the docs projection of the packed rows, one per doc
    val statsRow = docvecs.agg(count(lit(1)), avg(col("len")), sum(col("len")),
      countDistinct(col("salt"))).head()
    val numDocs = statsRow.getLong(0)
    val avgdl = if (numDocs == 0 || statsRow.isNullAt(1)) 0.0 else statsRow.getDouble(1)
    val numTokens = if (statsRow.isNullAt(2)) 0L else statsRow.getLong(2)
    val numSalts = statsRow.getLong(3)

    // ---- stage 2: postings — sorted (term, salt) runs, global df from the
    // narrow termstats agg, eager impacts, delta+varbyte blocks.
    val p = cfg.params

    // stage 2a: narrow per-term stats (exact global df; partial+final hash
    // agg, so a term in 50% of docs never concentrates on one task).
    // Persisted: also the query-side term dictionary for diagnostics.
    store.stage("termstats", Seq("termstats"), Map(version, "stage" -> "termstats")) {
      writeCounted(
        pairs.groupBy("term")
          .agg(count(lit(1)).as("df"), sum("tf").as("ctf")),
        s"$indexDir/termstats")
    }
    val termstats = spark.read.parquet(s"$indexDir/termstats")

    // effective bucket count: explicit, or vocabulary-derived (the vocab
    // size is the termstats commit's own row count — no extra job)
    val vocab = store.lastCommit("termstats").map(_.rowCount).getOrElse(0L)
    val numBuckets = if (cfg.numBuckets > 0) cfg.numBuckets else autoBuckets(vocab)
    // a bucket's term count is binomial around vocab / numBuckets: four
    // standard deviations of margin cover the fullest bucket
    val termsPerBucket = (vocab + numBuckets - 1) / numBuckets

    store.stage("postings", Seq("postings"),
        Map(version, "stage" -> "postings", "buckets" -> numBuckets.toString)) {
      // df joins onto NARROW exploded rows (AQE skew-split handles giant
      // terms); one hash shuffle on (bucket, salt) co-locates each (term,
      // salt) run WITH its output bucket, and the radix sort inside each
      // task hands the streaming encoder its runs in order — every run
      // bounded by the salt width, never by a term's full df, and encoder
      // memory bounded by one run regardless of partition size.
      // termstats can exceed the broadcast threshold (singleton terms make
      // |vocab| ~ O(corpus)); hint shuffle-hash so the 50M-row pair side
      // is never sorted for the join — its only sort is the run sort below.
      // termHash leads the intra-bucket sort key so row comparisons resolve
      // on a long instead of the term string (term itself only breaks the
      // rare hash ties); runs stay (term, salt)-contiguous either way.
      val sorted = pairs
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
        options = pointLookupOptions("term",
          termsPerBucket + math.ceil(4 * math.sqrt(termsPerBucket.toDouble)).toLong))
    }

    store.writeProperties(Map(version,
      "engine" -> "graft-bm25",
      "method" -> p.method, "k1" -> p.k1.toString, "b" -> p.b.toString,
      "delta" -> p.delta.toString,
      "tokenPattern" -> cfg.tokenPattern,
      "stemmer" -> (if (cfg.stem) "snowball-en" else "none"),
      "stopwords" -> "en-33",
      "docVectors" -> "true", "docvecsFormat" -> "packed",
      "numDocs" -> numDocs.toString, "avgdl" -> avgdl.toString,
      "numTokens" -> numTokens.toString,
      "numBuckets" -> numBuckets.toString,
      "numSalts" -> numSalts.toString,
      "saltShift" -> SaltShift.toString,
      "buildElapsedSec" -> ((System.nanoTime() - t0) / 1e9).toString))
    store
  }
}
