package org.apache.spark

/** The listener bus is private to Spark; this shim lives in Spark's package
  * so the benchmark can wait for every queued event to reach its listener
  * before it reads the counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
