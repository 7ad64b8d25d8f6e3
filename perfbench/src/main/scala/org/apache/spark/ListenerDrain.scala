package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's counters are complete before they are read. The bus is
  * package-private to Spark, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
