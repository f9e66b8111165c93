package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * listener's counts are complete before its caller reads them. The listener
  * bus is package-private to Spark, hence this object's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
