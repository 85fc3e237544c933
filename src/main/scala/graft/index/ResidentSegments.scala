package graft.index

import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.spark.{ResidentBlocks, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** One segment of a warm reader, resident in executor memory: its
  * postings and its doc columns, the per-segment state a Lucene segment
  * reader holds. */
final class Segment(val postings: SegmentPostings, val docs: SegmentDocs) extends Serializable

/** A warm reader's resident segments: `persisted`, the cached RDD
  * `warm()` built and materialized, one partition per segment — the only
  * copy of the segments and the only way to rebuild one — and `run`, the
  * seam every resident job of a warm query goes through. */
final class ResidentSegments(val persisted: RDD[Segment]) {

  /** Where the segments' blocks are cached: the jobs' preferred
    * locations, renewed after a rebuild. */
  @volatile private var locations = ResidentBlocks.locate(persisted)
  private val rebuildCount = new AtomicLong

  /** Jobs that found a segment's block missing and reran over
    * `persisted`. */
  def rebuilds: Long = rebuildCount.get

  /** `perSegment` over every segment, collected, as one narrow job over
    * the cached blocks of `persisted` with no lineage: the job ships the
    * function but not the parquet scans that built the segments. When a
    * block is missing (an executor lost it, or `close()` unpersisted it
    * under a running query), the job reruns once over `persisted`, which
    * recomputes the lost segments from parquet and, while the RDD is
    * still persisted, caches them again. */
  def run[T: ClassTag](perSegment: Segment => Iterator[T]): Array[T] =
    try job(perSegment).collect()
    catch {
      case e: SparkException if ResidentBlocks.missing(e) =>
        rebuildCount.incrementAndGet()
        val out = persisted.mapPartitions(_.flatMap(perSegment)).collect()
        locations = ResidentBlocks.locate(persisted)
        out
    }

  /** The job `run` submits first. */
  private[graft] def job[T: ClassTag](perSegment: Segment => Iterator[T]): RDD[T] =
    ResidentBlocks(persisted, locations, perSegment)
}

object ResidentSegments {

  /** The segments `segIds` of the tables under `tables` as one cached
    * partition per segment: partition i zips segment i's postings
    * (`SegmentPostings.resident`) with its doc columns
    * (`SegmentDocs.resident`), with no shuffle. Persisted but not yet
    * computed; a lost partition recomputes both from the parquet. */
  def build(spark: SparkSession, tables: String, segIds: Seq[Int]): RDD[Segment] =
    SegmentPostings.resident(spark, s"$tables/postings", segIds)
      .zipPartitions(SegmentDocs.resident(spark, s"$tables/docs", segIds)) { (p, d) =>
        Iterator.single(new Segment(p.next(), d.next()))
      }
      .setName(s"resident segments $tables")
      .persist(StorageLevel.MEMORY_ONLY)
}
