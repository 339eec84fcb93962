package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has been
  * delivered, so counters read right after an operation are complete. The
  * listener bus is package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
