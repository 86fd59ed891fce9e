package org.apache.spark

/** Reaches the listener bus, which is private to Spark, so the benchmark
  * can read listener counts only after every event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
