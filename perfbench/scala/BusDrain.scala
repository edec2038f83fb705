package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read right after an action include all of its tasks. The
  * bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
