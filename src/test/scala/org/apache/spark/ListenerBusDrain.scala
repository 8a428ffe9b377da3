package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far.
  * The bus is package-private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
