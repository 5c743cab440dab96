package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * the benchmark's listener totals are complete when it reads them.
  * The bus is private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
