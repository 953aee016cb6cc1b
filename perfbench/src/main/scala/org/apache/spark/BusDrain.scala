package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * a listener keeps can be read as of the end of one operation. The bus
  * is private to Spark; this object lives in Spark's package to reach it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
