package org.apache.spark

/** Blocks until every posted listener event has been delivered, so the
  * benchmark reads complete per-layer totals. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
