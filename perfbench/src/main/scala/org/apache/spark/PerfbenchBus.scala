package org.apache.spark

/** Waits until every event posted so far reached the listeners, so the
  * per-layer totals read after a pass are complete. The listener bus is
  * package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
