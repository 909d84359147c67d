package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * the benchmark's SparkListener totals are complete when read. The bus
  * is package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
