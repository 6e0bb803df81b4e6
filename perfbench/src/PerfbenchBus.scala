package org.apache.spark

/** Waits until every listener has seen every event posted so far; the
  * listener bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
