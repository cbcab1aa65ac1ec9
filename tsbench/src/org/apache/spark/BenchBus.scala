package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counters read after an action include all of its tasks. The listener
  * bus is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
