package org.apache.spark

/** Drains Spark's listener bus so that every job, stage, task and
  * streaming-progress event posted so far has reached its listeners.
  * Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
