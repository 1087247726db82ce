package org.apache.spark

/** Drains Spark's listener bus so a listener has seen every job started
  * so far. Lives in Spark's package because the bus is package-private. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
