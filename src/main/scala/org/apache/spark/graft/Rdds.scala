package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** In Spark's package only because `SparkContext.unpersistRDD` is private to it. */
object Rdds {
  /** A non-blocking `RDD.unpersist`, minus its warning for a local checkpoint. */
  def free(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
