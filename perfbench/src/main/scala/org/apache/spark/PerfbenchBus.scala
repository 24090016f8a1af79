package org.apache.spark

/** The listener bus is asynchronous; counters read before it drains miss
  * the last tasks. `waitUntilEmpty` is package-private to Spark, hence
  * this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
