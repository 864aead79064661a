package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this forwarder
  * lives in Spark's package so the benchmark can drain the bus before it
  * reads its listener counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
