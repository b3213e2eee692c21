package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener counts are complete before they are read. The bus
  * is private to Spark's package, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
