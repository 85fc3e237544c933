package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The broadcasts the driver's block manager holds, by id. Lives in the
  * spark package for the package-private block manager. */
object Broadcasts {
  def live(): Set[Long] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
}
