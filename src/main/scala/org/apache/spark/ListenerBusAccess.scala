package org.apache.spark

/** Access to the listener bus, which is private to Spark. */
object ListenerBusAccess {
  /** Waits until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
