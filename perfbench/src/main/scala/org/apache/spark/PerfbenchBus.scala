package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * trace reads complete counters. Lives in this package because the bus
  * is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
