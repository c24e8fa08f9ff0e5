package org.apache.spark

/** Test access to the listener bus, which Spark keeps private[spark]: a
  * listener's counts are complete only once the bus has drained. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
