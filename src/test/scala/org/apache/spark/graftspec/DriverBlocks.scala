package org.apache.spark.graftspec

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** The driver's block manager as leak specs see it (Spark keeps the
  * block manager package-private).
  */
object DriverBlocks {

  /** ids of the RDDs that hold blocks anywhere, as the block manager
    * master knows them (updated synchronously on every unpersist,
    * unlike the weak values of `SparkContext.getPersistentRDDs`)
    */
  def rddsWithBlocks: Set[Int] =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.keysIterator.flatMap(_.asRDDId).map(_.rddId))
      .toSet

  /** broadcast id → value, for every broadcast whose value the driver
    * still holds (task binaries included) */
  def broadcastValues: Map[Long, Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap { id =>
      bm.getLocalValues(id).map { r =>
        val v = r.data.next()
        while (r.data.hasNext) r.data.next() // completing the iterator releases the read lock
        id.asInstanceOf[BroadcastBlockId].broadcastId -> v
      }
    }.toMap
  }
}
