package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Totals of the Spark runtime counters over a window of work. */
final case class SparkTotals(jobs: Long, tasks: Long, failedTasks: Long,
                             cpuNs: Long, runMs: Long, gcMs: Long,
                             shuffleWriteBytes: Long, spillBytes: Long,
                             recordsRead: Long) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(jobs - o.jobs,
    tasks - o.tasks, failedTasks - o.failedTasks, cpuNs - o.cpuNs,
    runMs - o.runMs, gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, recordsRead - o.recordsRead)
}

/** SparkListener the benchmark attaches to read the runtime layer from
  * outside the engine: jobs and tasks launched, executor CPU, GC, shuffle
  * and spill volume, and parquet/cache records read.
  */
final class SparkStats(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, failed, cpu, run, gc, shw, spill, recs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpu.addAndGet(m.executorCpuTime)
      run.addAndGet(m.executorRunTime)
      gc.addAndGet(m.jvmGCTime)
      shw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      recs.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  sc.addSparkListener(this)

  /** Counters so far, after every posted event has been delivered. */
  def snapshot(): SparkTotals = {
    org.apache.spark.PerfbenchBus.drain(sc)
    SparkTotals(jobs.get, tasks.get, failed.get, cpu.get, run.get, gc.get,
      shw.get, spill.get, recs.get)
  }

  /** Run `f` and return its result with the counters it moved. */
  def window[A](f: => A): (A, SparkTotals) = {
    val before = snapshot()
    val a = f
    (a, snapshot() - before)
  }
}
