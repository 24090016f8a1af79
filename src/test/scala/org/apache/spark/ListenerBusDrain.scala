package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * spec's listener has seen all of a finished action's jobs. The bus is
  * package-private to Spark, hence this accessor's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
