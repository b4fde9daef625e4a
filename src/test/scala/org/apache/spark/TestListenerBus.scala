package org.apache.spark

/** Waits until every event posted so far reached the listeners, so a
  * count taken by a test's listener is complete. The listener bus is
  * package-private, hence this one-line bridge. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
