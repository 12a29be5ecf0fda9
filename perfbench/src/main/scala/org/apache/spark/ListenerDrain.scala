package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so
  * per-pass listener totals are complete before they are read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
