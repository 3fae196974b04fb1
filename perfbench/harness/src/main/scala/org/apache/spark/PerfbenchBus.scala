package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * harness reads complete job and query statistics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
