package org.apache.spark

/** The listener bus is private to Spark; tracing needs to wait until
  * every event posted so far has reached the benchmark's listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
