package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{RDD, ReliableRDDCheckpointData}

/** In Spark's package only because what it calls is private to it. */
object Rdds {
  /** A non-blocking `RDD.unpersist`, minus its warning for a local
    * checkpoint; a reliable checkpoint's files are deleted too. */
  def free(rdd: RDD[_]): Unit = {
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    if (rdd.checkpointData.exists(_.isInstanceOf[ReliableRDDCheckpointData[_]]))
      ReliableRDDCheckpointData.cleanCheckpoint(rdd.sparkContext, rdd.id)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
