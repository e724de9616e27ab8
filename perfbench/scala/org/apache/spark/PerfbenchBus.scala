package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * trace folds and query timings read complete. The listener bus is
  * private to Spark, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
