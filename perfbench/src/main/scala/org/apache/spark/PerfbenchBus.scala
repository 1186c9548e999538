package org.apache.spark

/** Lets the benchmark's traced run wait until every listener event posted
  * so far has been delivered (the bus is private to Spark's package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
