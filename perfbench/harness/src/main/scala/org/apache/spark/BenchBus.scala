package org.apache.spark

/** The listener bus is private to Spark; the benchmark lives in this
  * package only to drain it between keys (instead of sleeping), so every
  * event a key posted is processed before its counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
