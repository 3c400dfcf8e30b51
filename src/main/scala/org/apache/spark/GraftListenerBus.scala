package org.apache.spark

/** `SparkContext.listenerBus` is private to Spark; this accessor lives in
  * Spark's package only so `graft.Probe` can wait until every event a key
  * posted has reached its listener, instead of sleeping. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
