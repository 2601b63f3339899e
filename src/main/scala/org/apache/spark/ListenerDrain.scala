package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener has seen all stage ends of an action before it is read. The
  * bus is package-private to Spark.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
