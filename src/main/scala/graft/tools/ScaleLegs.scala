package graft.tools

import scala.jdk.CollectionConverters._

import graft.query.{BM25Index, QueryEngine}
import graft.util.SynthCorpus

/** Per-core query-throughput legs at the reference's largest corpus tier
  * (4.8M synthetic docs ≈ dbpedia/hotpotqa size) — r6 VERDICT "Next round"
  * #1: the one reference-comparable number still missing was per-core query
  * q/s at this tier (BM25S single-core publishes 13.4-20.9 q/s there).
  *
  * The driver bench's scaling legs (graft.Bench) time BUILD+QUERY at 1.2M
  * docs with per-leg in-JVM builds; at 4.8M a 1-cpu build alone is ~10
  * minutes of wall per round, so this probe holds the INDEX CONSTANT —
  * built once by `BenchCore.probeIndex` in a `local[32]` session, whose
  * default parallelism makes the id partitions P = 32 on any host, one
  * salt each up to 2^20 docs a partition — and measures the QUERY side per
  * core over that 32-salt layout, not the few-salt layout a build at the
  * host's parallelism writes (which layout to measure is ROADMAP direction
  * 6's question). A probe index of another format version is deleted and
  * built again.
  * Each leg runs in its own child JVM with `-XX:ActiveProcessorCount=N`
  * and `master=local[N]` (GC/thread pools sized to the emulated node),
  * rounds are INTERLEAVED low/high and the best per leg kept — exactly the
  * Bench leg discipline for this co-tenant host (slowdown waves last
  * minutes; a leg needs one clean window across the run).
  *
  * Env: GRAFT_PROBE_DOCS (default 4800000), GRAFT_LEG_CPUS ("1,4"),
  * GRAFT_LEG_ROUNDS (3), GRAFT_LEG_K (1000), GRAFT_LEG_BATCH_PER_CPU (200).
  */
object ScaleLegs {
  /** Child JVM heap in MiB: ¾ of the host's MemTotal (/proc/meminfo, else
    * the OS bean's physical memory), capped at 16 GiB — a fixed -Xmx16g
    * overcommits any host below ~21 GB of RAM.
    */
  private[graft] def childHeapMb(memTotalBytes: Long): Long =
    math.min(16L << 10, memTotalBytes / 4 * 3 >> 20)

  private def memTotalBytes(): Long = {
    val meminfo = java.nio.file.Paths.get("/proc/meminfo")
    val fromProc =
      if (!java.nio.file.Files.isReadable(meminfo)) None
      else java.nio.file.Files.readAllLines(meminfo).asScala
        .collectFirst { case l if l.startsWith("MemTotal:") =>
          l.split("\\s+")(1).toLong << 10 } // reported in kB
    fromProc.getOrElse(java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize)
  }

  /** (q/s, the kernel stage's task spread as the child printed it). */
  private def runChild(cpus: Int, idxDir: String, nBatch: Int, k: Int,
                       reps: Int): Option[(Double, String)] = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toIndexedSeq
    val opens = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < jvmArgs.length) {
      val a = jvmArgs(i)
      if (a == "--add-opens" && i + 1 < jvmArgs.length) {
        opens += a += jvmArgs(i + 1); i += 2
      } else {
        if (a.startsWith("--add-opens=")) opens += a
        i += 1
      }
    }
    val cmd = Seq(javaBin) ++ opens.toSeq ++ Seq(
      s"-XX:ActiveProcessorCount=$cpus", s"-Xmx${childHeapMb(memTotalBytes())}m",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.ScaleLegChild",
      cpus.toString, idxDir, nBatch.toString, k.toString, reps.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    proc.waitFor()
    val re = """QLEG \{"qps":([0-9.]+),(.*)\}""".r
    out.reverseIterator.collectFirst { case re(q, spread) => (q.toDouble, spread) }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("GRAFT_PROBE_DOCS", "4800000").toInt
    val cpusList = sys.env.getOrElse("GRAFT_LEG_CPUS", "1,4")
      .split(',').map(_.trim.toInt).toSeq
    val rounds = sys.env.getOrElse("GRAFT_LEG_ROUNDS", "3").toInt
    val k = sys.env.getOrElse("GRAFT_LEG_K", "1000").toInt
    val batchPerCpu = sys.env.getOrElse("GRAFT_LEG_BATCH_PER_CPU", "200").toInt

    // stage the shared index (untimed, full parallelism); child legs only
    // open it read-only
    val parent = graft.BenchCore.probeSession(32, "scalelegs")
    val idx = try graft.BenchCore.probeIndex(parent, nDocs) catch {
      case e: graft.index.IndexBuilder.FormatMismatch =>
        println(s"[legs] ${e.getMessage}: deleting the probe index to build it again")
        graft.util.Dirs.deleteRecursively(
          new java.io.File(s"${graft.BenchCore.workBase}/qprobe-index-$nDocs"))
        graft.BenchCore.probeIndex(parent, nDocs)
    }
    val idxDir = idx.indexDir
    println(s"[legs] shared index ready: dir=$idxDir numDocs=${idx.numDocs}")
    parent.stop()

    val best = scala.collection.mutable.Map.empty[Int, Double]
    val raw = scala.collection.mutable.Map.empty[Int, List[Double]]
      .withDefaultValue(Nil)
    for (r <- 1 to rounds; cpus <- cpusList) {
      runChild(cpus, idxDir, batchPerCpu * cpus, k, reps = 2) match {
        case Some((q, spread)) =>
          println(f"[legs] round=$r cpus=$cpus qps=$q%.1f kernel: $spread")
          raw(cpus) = raw(cpus) :+ q
          best(cpus) = math.max(best.getOrElse(cpus, 0.0), q)
        case None =>
          println(s"[legs] round=$r cpus=$cpus FAILED")
      }
    }
    for (cpus <- cpusList)
      println(f"[legs] FINAL docs=$nDocs k=$k cpus=$cpus " +
        f"qps_best=${best.getOrElse(cpus, -1.0)}%.1f " +
        s"rounds=${raw(cpus).map(q => f"$q%.1f").mkString(",")}")
    if (cpusList.size == 2) {
      val lo = cpusList.min; val hi = cpusList.max
      for (bl <- best.get(lo); bh <- best.get(hi))
        println(f"[legs] FINAL eff=${(bh / bl) / (hi.toDouble / lo)}%.3f " +
          f"(qps $lo→$hi cpu: $bl%.1f → $bh%.1f)")
    }
  }
}

/** One query leg in its own JVM (spawned by ScaleLegs). Opens the shared
  * index, warms codegen + the docs cache with a small batch, then times
  * `reps` full batches and reports the best as q/s, with that batch's
  * kernel-stage task spread ([[KernelSpread]]).
  *
  * Args: cpus idxDir nBatch k reps
  */
object ScaleLegChild {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt; val idxDir = args(1)
    val nBatch = args(2).toInt; val k = args(3).toInt
    val reps = if (args.length > 4) args(4).toInt else 2
    val spark = graft.BenchCore.session(cpus)
    import spark.implicits._
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUF", "64"))
    val idx = new BM25Index(spark, idxDir)
    val base = SynthCorpus.queries
    val batch = (0 until nBatch).map { i =>
      val (qid, q) = base(i % base.size); (f"$qid-rep$i%04d", q)
    }
    val qdf = batch.toDF("qid", "query")
    // warm: codegen + index docs cache outside the timed window (one-off
    // per index, not per batch — same as BenchCore.bm25Pass)
    QueryEngine.searchWand(idx,
      batch.take(math.min(50, nBatch)).toDF("qid", "query"), k).count()
    val spread = new KernelSpread(spark)
    val runs = (1 to reps).map { _ =>
      spread.reset()
      val secs = graft.BenchCore.time { QueryEngine.searchWand(idx, qdf, k).count() }._2
      (secs, spread.summary())
    }
    spark.stop()
    val (secs, best) = runs.minBy(_._1)
    println(f"""QLEG {"qps":${nBatch / secs}%.1f,$best}""")
  }
}

/** Task spread of a search call's kernel stage, from task-end events: the
  * first stage of the call that reads shuffled rows is the kernel's (the
  * candidate scan before it only writes). Reports its tasks, how many
  * received rows, and the max and median task run time, so a placement
  * that leaves kernel tasks idle shows without a profiler.
  */
final class KernelSpread(spark: org.apache.spark.sql.SparkSession)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerTaskEnd}
  /** (stageId, run ms, shuffle records read) per finished task. */
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]
  private val markers = new java.util.concurrent.LinkedBlockingQueue[Integer]
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m =>
      tasks.add((e.stageId, m.executorRunTime, m.shuffleReadMetrics.recordsRead)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("graft.legs.marker") != null))
      markers.put(e.jobId)

  def reset(): Unit = tasks.clear()

  /** JSON fields of the kernel stage; a marker job first orders the read
    * after every earlier event on the listener bus.
    */
  def summary(): String = {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.legs.marker", "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.legs.marker", null)
    markers.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    val all = tasks.asScala.toSeq
    all.filter(_._3 > 0).map(_._1).minOption match {
      case None => """"kernel_tasks":0"""
      case Some(stage) =>
        val ts = all.filter(_._1 == stage)
        val ms = ts.map(_._2).sorted
        s""""kernel_tasks":${ts.size},"kernel_tasks_with_rows":${ts.count(_._3 > 0)},""" +
          s""""kernel_task_ms_max":${ms.last},"kernel_task_ms_median":${ms(ms.size / 2)}"""
    }
  }
}
