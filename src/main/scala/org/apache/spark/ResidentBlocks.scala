package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{BlockId, BlockManager, RDDBlockId}

/** `perSegment` over the cached partitions of a persisted RDD, as an RDD
  * with no parent: partition i reads block `RDDBlockId(persistedId, i)`
  * from the block manager and runs `perSegment` on each of its values,
  * so a job over it ships that function and no plan of how the blocks
  * were built. It cannot recompute: a missing block fails its task with
  * `ResidentBlocks.Missing`, and the caller reruns over the persisted RDD
  * itself. Lives in the spark package for the package-private block
  * manager. */
final class ResidentBlocks[S, T: ClassTag] private (
    sc: SparkContext, persistedId: Int, @transient private val locations: Array[Seq[String]],
    perSegment: S => Iterator[T]) extends RDD[T](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](locations.length)(ResidentBlocks.Segment)

  override def compute(split: Partition, context: TaskContext): Iterator[T] = {
    val block = RDDBlockId(persistedId, split.index)
    // no class tag of S: it would ride the task binary with its class's
    // field descriptors, and the segment classes are never serialized
    // with Kryo, the one serializer a tag can select
    SparkEnv.get.blockManager.get[Any](block) match {
      case Some(r) =>
        new InterruptibleIterator(context, r.data.asInstanceOf[Iterator[S]].flatMap(perSegment))
      case None => throw new ResidentBlocks.Missing(block.name)
    }
  }

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    locations(split.index)
}

object ResidentBlocks {

  private final case class Segment(index: Int) extends Partition

  /** A block the job reads is not cached anywhere. */
  final class Missing(block: String) extends IllegalStateException(s"block $block is not cached")

  /** Where each cached partition of `persisted` is, as cache task
    * locations (none for a partition that is not cached). */
  def locate(persisted: RDD[_]): Array[Seq[String]] = {
    val blocks = Array.tabulate[BlockId](persisted.partitions.length)(RDDBlockId(persisted.id, _))
    val at = BlockManager.blockIdsToLocations(blocks, SparkEnv.get)
    blocks.map(at.getOrElse(_, Nil))
  }

  /** `perSegment` over `persisted`'s cached partitions, which were at
    * `locations` (`locate`). */
  def apply[S, T: ClassTag](persisted: RDD[S], locations: Array[Seq[String]],
                            perSegment: S => Iterator[T]): RDD[T] =
    new ResidentBlocks[S, T](persisted.sparkContext, persisted.id, locations,
      persisted.sparkContext.clean(perSegment))

  /** Whether `e`, a failed job's exception, failed on a missing block. */
  def missing(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[Missing])
}
