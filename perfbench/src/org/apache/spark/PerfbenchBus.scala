package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when a measured window closes. The
  * bus is `private[spark]`, hence this one-method file in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
