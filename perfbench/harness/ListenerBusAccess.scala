package org.apache.spark

/** The listener bus is package-private to Spark; this is the one call the
  * harness needs from it. */
object ListenerBusAccess {
  /** Block until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
