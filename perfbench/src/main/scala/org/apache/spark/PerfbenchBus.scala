package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so the benchmark's listener totals are complete when read.
  * The bus is package-private to Spark; this is its only use.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
