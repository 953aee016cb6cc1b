package org.apache.spark

/** Waits until every queued listener event has been delivered, so what a
  * test's listener recorded can be read as of the end of one call. The
  * bus is private to Spark; this object lives in Spark's package to
  * reach it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
