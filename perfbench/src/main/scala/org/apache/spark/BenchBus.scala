package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so task metrics and planning phases are complete before a
  * span is closed. The listener bus is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
