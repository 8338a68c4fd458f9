package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced pass reads complete job/stage/task totals. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
