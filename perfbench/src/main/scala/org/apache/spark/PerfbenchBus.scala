package org.apache.spark

/** Lets the benchmark wait until every listener has seen every event posted
  * so far, so counters read after an operation belong to that operation.
  * The listener bus is private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
