package org.apache.spark

/** The listener bus is `private[spark]`; specs that count listener events
  * read them only after every posted event has been delivered. */
object SparkTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
