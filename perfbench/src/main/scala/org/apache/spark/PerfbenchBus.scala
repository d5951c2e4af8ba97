package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it before
  * reading its own listener's records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
