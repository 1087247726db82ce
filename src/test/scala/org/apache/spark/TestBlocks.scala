package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The driver's broadcast blocks. Lives in Spark's package because the
  * block manager is package-private. */
object TestBlocks {
  /** Ids of the broadcasts whose driver-side value is a Scala `Map` — a
    * table built on the driver and broadcast by library code, as opposed
    * to Spark's own task binaries and broadcast-join relations. */
  def mapBroadcasts(sc: SparkContext): Set[Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case b: BroadcastBlockId => b.field.isEmpty
      case _ => false
    }.collect { case b: BroadcastBlockId
      if bm.memoryStore.getValues(b).exists(_.hasNext) &&
        bm.memoryStore.getValues(b).get.next().isInstanceOf[scala.collection.Map[_, _]] =>
      b.broadcastId
    }.toSet
  }
}
