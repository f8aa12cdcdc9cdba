package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer must
  * read its listener's counters only after every event of the measured
  * window has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
