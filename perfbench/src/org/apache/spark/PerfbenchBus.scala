package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run's listener has seen all task and stage ends before its
  * metrics are read. The bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
