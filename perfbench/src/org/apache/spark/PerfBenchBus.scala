package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark reads its counters
  * only after every posted event has been delivered. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
