package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexBuilder
import graft.query.BM25Index
import graft.tokenize.Tokenizer
import graft.util.SynthCorpus

/** One run of one workload; prints one JSON result as its last line.
  *
  * Args: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --work <dir> --trace-out <file> [--scale full|fixture] [--perturb]
  *
  * A run sets up (builds the index of the seeded corpus with the default
  * IndexBuilder.Config, opens it, asserts the workload's path, computes
  * the reference results of the sampled queries and warms up with one
  * full operation), repeats the workload's operation through the timed
  * window, then checks every operation's sampled output against the
  * reference. `--trace 1` adds one traced call after the untraced window
  * and reports the per-layer metrics instead of the end-to-end ones.
  * `--perturb` corrupts
  * the outputs before the check, so a test can see the check reject them.
  */
object Main {
  final case class Metric(name: String, value: Double, unit: String)

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, traceOut: String,
                        scale: Scale, perturb: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--work"), get("--trace-out"),
      kv.get("--scale") match {
        case None | Some("full") => Scale.full
        case Some("fixture") => Scale.fixture
        case Some(s) => throw new IllegalArgumentException(s"unknown scale $s")
      },
      args.contains("--perturb"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = QueryWorkload.byName(o.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val spark = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // one shuffle partition per core, as graft.BenchCore.session sets it:
      // Spark's default of 200 splits this corpus into hundreds of tiny
      // shuffle blocks per stage
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val line = try new Run(spark, wl, o).apply() finally spark.stop()
    println(line)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** A fixed CPU-bound loop, timed (median of 3). Printed as a host-noise
    * diagnostic only; it never drops or selects runs.
    */
  def calibrationMs(): Double = median((1 to 3).map { _ =>
    val t = System.nanoTime()
    var x = 1L; var i = 0
    while (i < 20000000) { x = SynthCorpus.mix(x); i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t) / 1e6
  })

  /** JVM heap in use after a full GC. The pause between two collections
    * lets Spark's ContextCleaner drop the broadcasts and shuffles the first
    * collection found unreachable.
    */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
  }

  def json(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    ms.find(m => m.value.isNaN || m.value.isInfinite).foreach(m =>
      throw new IllegalStateException(s"metric ${m.name} is ${m.value}"))
    val body = ms.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}"""
  }
}

/** The phases of one run. */
final class Run(spark: SparkSession, wl: QueryWorkload, o: Main.Opts) {
  import Main._

  private val scale = o.scale
  private val inputs = new Inputs(o.seed, scale)
  private val nQ = wl.nQueries
  private val indexDir = s"${o.work}/index"
  private val tr = new Tracer

  /** The operation's sink: Spark's `noop` writer produces every row and
    * column of `df` and stores nothing. An observation on the same
    * execution counts the rows and keeps those of the sampled queries for
    * the output check.
    */
  private def sink(df: DataFrame, sample: Seq[String]): (Long, Check.Ranked) = {
    val obs = Observation()
    val picked = when(col("qid").isInCollection(sample),
      struct(col("qid"), col("docId"), col("score"), col("rank")))
    df.observe(obs, count(lit(1)).as("n"), collect_list(picked).as("picked"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], Check.ranked(m("picked").asInstanceOf[Seq[Row]]))
  }

  private def info(s: String): Unit = println(s"[perfbench] $s")

  def apply(): String = {
    val calib = calibrationMs()

    // ---- set-up: build, open, assert the path, reference, warm up
    val (env, path, want) = tr.call("setup") {
      val corpus = inputs.corpus(spark)
      val (_, buildId) = tr.spanOf("index.build")(IndexBuilder.build(spark, corpus, indexDir))
      tr.under(buildId)(recordBuildStages())
      val index = tr.span("store.open")(new BM25Index(spark, indexDir))
      val path = wl.assertPath(spark, index)
      val queries = inputs.queries(wl.name, nQ)
      val env = new Env(spark, index, corpus, queries,
        inputs.sample(queries, scale.sampleQueries),
        if (o.trace) Some(new SparkStats(spark.sparkContext)) else None)
      val want = tr.span("setup.reference")(Check.collectRanked(wl.reference(env)))
      // one full operation through the timed window's own sink: a smaller
      // batch would take other paths (the broadcast finish at k=1000), and
      // another sample list would leave the first timed operation to
      // compile the sink's code
      tr.span("setup.warm")(sink(wl.run(env), env.sample))
      (env, path, want)
    }
    val index = env.index
    val setupSpans = tr.all.filter(_.call == 0)
    def setupDur(name: String) = setupSpans.find(_.name == name).get.durNs / 1e9
    val buildS = setupDur("index.build")
    info(s"workload=${wl.name} seed=${o.seed} docs=${scale.nDocs} " +
      s"repos=${inputs.repo0}+${scale.nRepos} queries=$nQ k=${wl.k} " +
      path.map { case (k, v) => s"$k=$v" }.mkString(" ") +
      s" num_salts=${index.numSalts} docs_per_salt=${index.numDocs / math.max(1, index.numSalts)}" +
      f" calibration_ms=$calib%.1f")

    // ---- timed window
    val before = env.stats.map(_.snapshot())
    val walls = ArrayBuffer.empty[Double]
    val outs = ArrayBuffer.empty[Option[Check.Ranked]]
    val t0 = System.nanoTime()
    while (outs.isEmpty || System.nanoTime() - t0 < o.seconds * 1000000000L) {
      val s = System.nanoTime()
      try {
        val (_, picked) = sink(wl.run(env), env.sample)
        walls += (System.nanoTime() - s) / 1e9
        outs += Some(picked)
      } catch {
        case NonFatal(e) => info(s"operation ${outs.size} failed: $e"); outs += None
      }
    }
    val phaseS = (System.nanoTime() - t0) / 1e9
    val totals = env.stats.map(_.snapshot() - before.get)
    val heapMb = retainedHeapMb()
    if (walls.isEmpty) throw new IllegalStateException("every operation failed")

    // ---- output checks, outside the timed window
    val buildErrs = checkBuild(index)
    buildErrs.foreach(e => info(s"build check: $e"))
    val failedOps = checkOutputs(env, want, outs.toSeq)
    printTable("set-up", tr.layerTable("setup")._1)
    val attempted = outs.size + 1
    val failed = failedOps + (if (buildErrs.nonEmpty) 1 else 0)
    info(s"operations=${outs.size} failed=$failed " +
      f"median_op_s=${median(walls.toSeq)}%.3f phase_s=$phaseS%.2f " +
      walls.map(w => f"$w%.2f").mkString("op_s=", ",", ""))

    val metrics =
      if (!o.trace) Seq(
        Metric("setup_s", setupSpans.find(_.parent < 0).get.durNs / 1e9, "s"),
        Metric("index_mb", indexBytes / 1e6, "MB"),
        Metric("queries_per_s", nQ / median(walls.toSeq), "q/s"),
        Metric("heap_retained_mb", heapMb, "MB"))
      else layerMetrics(env, median(walls.toSeq) * 1000, walls.size, phaseS,
        totals.get, buildS)
    json(failed == 0, attempted, failed, metrics)
  }

  private def indexBytes: Long =
    dirBytes(Paths.get(indexDir)) - dirBytes(Paths.get(indexDir, "_tmp-query"))

  /** Build stages as spans under index.build: each `_commits` manifest
    * carries the stage's elapsedSec and is written when the stage ends.
    */
  private def recordBuildStages(): Unit = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val elapsed = new graft.store.IcebergLikeStore(indexDir).readCommits()
      .map(c => c.group -> c.elapsedSec).toMap
    val dir = Paths.get(indexDir, "_commits")
    Files.list(dir).iterator.asScala.toSeq.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).sorted.foreach { f =>
        val group = f.stripSuffix(".json").dropWhile(_ != '-').drop(1)
        val end = Files.getLastModifiedTime(dir.resolve(f)).toMillis * 1000000L + offsetNs
        val stage = if (group.startsWith("seg-")) "segments" else group
        tr.record(s"index.$stage", end - (elapsed(group) * 1e9).toLong, end)
      }
  }

  /** numDocs equals the corpus rows, the termstats df sum equals the
    * segment rows, and the index reopens with the same properties.
    */
  private def checkBuild(index: BM25Index): Seq[String] = try {
    val commits = index.store.readCommits()
    val segRows = commits.filter(_.group.startsWith("seg-")).map(_.rowCount).sum
    val dfSum = index.termstats.agg(sum("df")).head().getLong(0)
    val reopened = new BM25Index(spark, indexDir)
    Seq(
      (index.numDocs != scale.nDocs) -> s"numDocs ${index.numDocs} != ${scale.nDocs} corpus rows",
      (dfSum != segRows) -> s"termstats df sum $dfSum != $segRows segment rows",
      (reopened.props != index.props) -> "reopened index has different properties"
    ).collect { case (true, e) => e }
  } catch { case NonFatal(e) => Seq(s"build check threw $e") }

  /** Number of operations whose sampled output does not match the
    * reference (a failed operation counts once, as attempted and failed).
    */
  private def checkOutputs(env: Env, want: Check.Ranked,
                           outs: Seq[Option[Check.Ranked]]): Int =
    outs.zipWithIndex.count {
      case (None, _) => true
      case (Some(got), i) =>
        val errs = Check.compare(if (o.perturb) perturb(got) else got, want,
          env.sample, wl.k)
        errs.headOption.foreach(e => info(s"output check, operation $i: $e"))
        errs.nonEmpty
    }

  /** Raises the top score of the first non-empty sampled result by ten
    * times the check's tolerance.
    */
  private def perturb(r: Check.Ranked): Check.Ranked =
    r.toSeq.sortBy(_._1).find(_._2.nonEmpty) match {
      case Some((qid, hits)) =>
        r.updated(qid, hits.updated(0, (hits.head._1, hits.head._2 + 10 * Check.ScoreTol)))
      case None => r
    }

  // ---------------------------------------------------------------- traced

  /** The traced pass and the per-layer metrics. `untracedMs` is the median
    * operation wall of the untraced window, `totals` its Spark counters.
    */
  private def layerMetrics(env: Env, untracedMs: Double, nOps: Int,
                           phaseS: Double, totals: SparkTotals,
                           buildS: Double): Seq[Metric] = {
    val probe = new LayerProbe
    val tSink: DataFrame => Unit = df => probe.hits = sink(df, Nil)._1
    tr.call(wl.root)(wl.traced(env, tr, tSink, probe))
    val cross = if (wl.root == "query_call") "rm3_call" else "query_call"
    tr.call(cross)(wl.crossProbe(env, tr, tSink, probe))

    val (rows, callMs, calls) = tr.layerTable(wl.root)
    val layerSum = rows.map(_._2).sum
    val gap = (layerSum - untracedMs) / untracedMs
    val overheadMs = callMs - untracedMs
    printTable(s"${wl.name} traced call ($calls calls)", rows)
    info(f"  sum of layers $layerSum%.1f ms, untraced end-to-end $untracedMs%.1f ms, " +
      f"gap ${gap * 100}%+.1f%%")
    info(f"  tracing overhead $overheadMs%.1f ms per call " +
      f"(traced call $callMs%.1f ms - untraced $untracedMs%.1f ms)")
    val (qRows, _, _) = tr.layerTable("query_call")
    val (rRows, _, _) = tr.layerTable("rm3_call")
    val (bRows, _, _) = tr.layerTable("setup")
    printTable(s"$cross (cross-layer probe)", if (cross == "query_call") qRows else rRows)

    // tokenize layer alone, and the store open
    val tokS = median((1 to 3).map { _ =>
      val t = System.nanoTime()
      env.corpus.select(size(Tokenizer.tokens(col("content"))).as("n"))
        .agg(sum("n")).head()
      (System.nanoTime() - t) / 1e9
    })
    val openMs = median((1 to 5).map { _ =>
      val t = System.nanoTime(); new BM25Index(spark, indexDir)
      (System.nanoTime() - t) / 1e6
    })

    Files.write(Paths.get(o.traceOut), tr.toJson.getBytes("UTF-8"))
    info(s"spans written to ${o.traceOut}")

    val commits = env.index.store.readCommits()
    def rowsOf(g: String) = commits.filter(_.group == g).map(_.rowCount).sum
    def q(name: String) = qRows.find(_._1 == name).map(_._2).getOrElse(0.0)
    def r(name: String) = rRows.find(_._1 == name).map(_._2).getOrElse(0.0)
    def b(name: String) = bRows.find(_._1 == name).map(_._2 / 1000).getOrElse(0.0)
    val kernelMs = q("query.partials")
    Seq(
      Metric("tokenize.docs_per_s", scale.nDocs / tokS, "docs/s"),
      Metric("index.docs_per_s", scale.nDocs / buildS, "docs/s"),
      Metric("index.docmap_s", b("index.docmap"), "s"),
      Metric("index.segments_s", b("index.segments"), "s"),
      Metric("index.docvecs_s", b("index.docvecs"), "s"),
      Metric("index.docs_s", b("index.docs"), "s"),
      Metric("index.termstats_s", b("index.termstats"), "s"),
      Metric("index.postings_s", b("index.postings"), "s"),
      Metric("index.other_s", b("index.build"), "s"),
      Metric("index.segment_rows",
        commits.filter(_.group.startsWith("seg-")).map(_.rowCount).sum.toDouble, "count"),
      Metric("index.vocab_terms", rowsOf("termstats").toDouble, "count"),
      Metric("index.posting_lists", rowsOf("postings").toDouble, "count"),
      Metric("index.num_salts", env.index.numSalts.toDouble, "count"),
      Metric("index.docs_per_salt",
        env.index.numDocs.toDouble / math.max(1, env.index.numSalts), "count"),
      Metric("index.postings_mb", dirBytes(Paths.get(indexDir, "postings")) / 1e6, "MB"),
      Metric("index.docvecs_mb", dirBytes(Paths.get(indexDir, "docvecs")) / 1e6, "MB"),
      Metric("store.open_ms", openMs, "ms"),
      Metric("query.prep_ms", q("query.prep"), "ms"),
      Metric("query.scan_ms", q("query.scan"), "ms"),
      Metric("query.decode_ms", q("query.decode"), "ms"),
      Metric("query.kernel_ms", kernelMs, "ms"),
      Metric("query.finish_ms", q("query.search"), "ms"),
      Metric("query.scan_rows_read_frac",
        probe.scanRowsRead.toDouble / math.max(1L, rowsOf("postings")), "fraction"),
      Metric("query.candidate_postings", probe.candidatePostings.toDouble, "count"),
      Metric("query.kernel_ns_per_posting",
        kernelMs * 1e6 / math.max(1L, probe.candidatePostings), "ns"),
      Metric("query.partials_per_hit",
        probe.partialRows.toDouble / math.max(1L, probe.hits), "ratio"),
      Metric("query.jobs_per_call", totals.jobs.toDouble / nOps, "count"),
      Metric("query.tasks_per_call", totals.tasks.toDouble / nOps, "count"),
      Metric("rm3.pass1_ms", r("rm3.pass1"), "ms"),
      Metric("rm3.fetch_ms", r("rm3.fetch"), "ms"),
      Metric("rm3.expand_ms", r("rm3.expand"), "ms"),
      Metric("rm3.pass2_ms", r("rm3.pass2"), "ms"),
      Metric("rm3.docvecs_rows_read_frac",
        probe.docvecsRowsRead.toDouble / math.max(1L, rowsOf("docvecs")), "fraction"),
      Metric("spark.cpu_util", totals.cpuNs / 1e9 / (phaseS * 4), "fraction"),
      Metric("spark.gc_frac", totals.gcMs.toDouble / math.max(1L, totals.runMs), "fraction"),
      Metric("spark.shuffle_write_mb", totals.shuffleWriteBytes / 1e6 / nOps, "MB"),
      Metric("spark.spill_mb", totals.spillBytes / 1e6 / nOps, "MB"),
      Metric("spark.failed_tasks", totals.failedTasks.toDouble, "count"),
      Metric("trace.gap_frac", gap, "fraction"),
      Metric("trace.overhead_ms", overheadMs, "ms"))
  }

  private def printTable(title: String, rows: Seq[(String, Double)]): Unit = {
    info(s"layer self time, ms per call: $title")
    rows.foreach { case (nm, ms) => info(f"  $nm%-16s $ms%12.1f") }
  }
}
