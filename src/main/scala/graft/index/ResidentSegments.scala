package graft.index

import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.spark.{ResidentBlocks, SparkException}
import org.apache.spark.rdd.RDD

/** One kind of a warm reader's resident segments (postings or doc
  * columns): `persisted`, the cached RDD `warm()` built and materialized,
  * one partition per segment — the only copy of the segments and the
  * only way to rebuild one — and `run`, the seam every resident job of a
  * warm query goes through. */
final class ResidentSegments[S](val persisted: RDD[S]) {

  /** Where the segments' blocks are cached: the jobs' preferred
    * locations, renewed after a rebuild. */
  @volatile private var locations = ResidentBlocks.locate(persisted)
  private val rebuildCount = new AtomicLong

  /** Jobs that found a segment's block missing and reran over
    * `persisted`. */
  def rebuilds: Long = rebuildCount.get

  /** `perSegment` over every segment, collected, as one narrow job over
    * the cached blocks of `persisted` with no lineage: the job ships the
    * function but not the parquet scan that built the segments. When a
    * block is missing (an executor lost it, or `close()` unpersisted it
    * under a running query), the job reruns once over `persisted`, which
    * recomputes the lost segments from parquet and, while the RDD is
    * still persisted, caches them again. */
  def run[T: ClassTag](perSegment: S => Iterator[T]): Array[T] =
    try job(perSegment).collect()
    catch {
      case e: SparkException if ResidentBlocks.missing(e) =>
        rebuildCount.incrementAndGet()
        val out = persisted.mapPartitions(_.flatMap(perSegment)).collect()
        locations = ResidentBlocks.locate(persisted)
        out
    }

  /** The job `run` submits first. */
  private[graft] def job[T: ClassTag](perSegment: S => Iterator[T]): RDD[T] =
    ResidentBlocks(persisted, locations, perSegment)
}
