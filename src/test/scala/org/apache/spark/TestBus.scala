package org.apache.spark

/** Waits, up to `timeoutMs`, until the listener bus has delivered every
  * posted event, so a listener's job counts are complete when a test or
  * tool reads them. The bus is package-private to Spark, hence this
  * bridge. */
object TestBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
