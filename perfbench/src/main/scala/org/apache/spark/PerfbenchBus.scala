package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when a phase is read off. The bus
  * is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
