package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** Drops an RDD's cached partitions from the block manager, as a lost
  * executor would, while the RDD stays marked persisted. Returns once
  * the listener bus has delivered the block updates, so the status store
  * behind `getRDDStorageInfo` shows the loss. Lives in the spark package
  * for the package-private block manager and listener bus. */
object LoseBlocks {
  def of(rdd: RDD[_]): Unit = {
    rdd.partitions.indices.foreach(i => SparkEnv.get.blockManager.removeBlock(RDDBlockId(rdd.id, i)))
    rdd.sparkContext.listenerBus.waitUntilEmpty()
  }
}
