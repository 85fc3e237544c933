package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** Drops an RDD's cached partitions (all, or those of `partitions`) from
  * the block manager, as a lost executor would, while the RDD stays
  * marked persisted. Returns once the listener bus has delivered the
  * block updates, so the status store behind `getRDDStorageInfo` shows
  * the loss. Lives in the spark package for the package-private block
  * manager and listener bus. */
object LoseBlocks {
  def of(rdd: RDD[_], partitions: Seq[Int] = Nil): Unit = {
    (if (partitions.isEmpty) rdd.partitions.indices else partitions)
      .foreach(i => SparkEnv.get.blockManager.removeBlock(RDDBlockId(rdd.id, i)))
    rdd.sparkContext.listenerBus.waitUntilEmpty()
  }

  /** The partitions of `rdd` with a cached block, as the block manager
    * master knows them. */
  def cached(rdd: RDD[_]): Seq[Int] =
    rdd.partitions.indices.filter(i =>
      SparkEnv.get.blockManager.master.getLocations(RDDBlockId(rdd.id, i)).nonEmpty)
}
