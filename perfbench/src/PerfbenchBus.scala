package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before
  * reading any count its listener collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
