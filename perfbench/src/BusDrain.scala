package org.apache.spark

/** Waits until every queued listener event has been delivered, so the traced
  * run's counters are complete before they are read. The bus is internal to
  * Spark, hence this one-line bridge in Spark's package. */
object PerfbenchBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
