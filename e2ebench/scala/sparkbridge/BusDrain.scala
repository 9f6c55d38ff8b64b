package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener counters are complete when a pass is closed.
  * `listenerBus` is private[spark], hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
