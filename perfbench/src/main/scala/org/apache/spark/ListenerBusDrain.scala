package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read right after an action include that action's jobs. The bus is
  * package-private to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
