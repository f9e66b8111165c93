package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so the
  * benchmark's counters are complete before it reads them. The listener bus
  * is package-private to Spark, hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
