package graft.index

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.storage.StorageLevel

import graft.model.{Block, PostingsRow}

/** One segment's postings, resident in executor memory for a warm
  * reader — the in-RAM terms index + postings of a Lucene segment
  * reader [U lucene/core/.../codecs/blocktree/BlockTreeTermsReader.java,
  * lucene90/Lucene90PostingsReader.java]. Flat primitive arrays, never
  * one object per postings row or block:
  *
  *  - terms: the segment's distinct terms as UTF-8, back to back in
  *    `termBytes`, ascending by unsigned byte order (Spark's string
  *    order), so a lookup is a binary search;
  *  - rows: one entry per (term, salt) row, salt-ascending inside a term
  *    (`termRow` points at a term's first row);
  *  - blocks: block-max metadata per block (`rowBlock` points at a row's
  *    first block), and the docs / tfs / norms / positions bytes of
  *    every block back to back in `bytes` (`blkOff` holds 4 offsets per
  *    block plus the end).
  *
  * `rows` materializes `PostingsRow`s for the asked terms only, so the
  * scorer and the position verifiers run on the same row shape the
  * parquet postings decode to. */
final class SegmentPostings(
    val segId: Int,
    termBytes: Array[Byte],
    termOff: Array[Int],
    termRow: Array[Int],
    rowSalt: Array[Int],
    rowDf: Array[Long],
    rowTtf: Array[Long],
    rowBlock: Array[Int],
    blkFirst: Array[Long],
    blkMax: Array[Long],
    blkCount: Array[Int],
    blkMaxTf: Array[Int],
    blkMinNorm: Array[Byte],
    blkMaxImpact: Array[Float],
    blkOff: Array[Int],
    bytes: Array[Byte]) extends Serializable {

  def numTerms: Int = termOff.length - 1

  /** Index of `t` among the segment's terms, or -1. */
  private def find(t: Array[Byte]): Int = {
    var lo = 0
    var hi = numTerms - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = SegmentPostings.compare(termBytes, termOff(mid), termOff(mid + 1), t)
      if (c < 0) lo = mid + 1 else if (c > 0) hi = mid - 1 else return mid
    }
    -1
  }

  private def block(b: Int): Block = {
    def slice(i: Int) = java.util.Arrays.copyOfRange(bytes, blkOff(4 * b + i), blkOff(4 * b + i + 1))
    Block(blkFirst(b), blkMax(b), blkCount(b), blkMaxTf(b), blkMinNorm(b), blkMaxImpact(b),
      slice(0), slice(1), slice(2), slice(3))
  }

  /** The postings rows of `terms` in this segment (absent terms yield
    * none), term by term, salt-ascending. */
  def rows(terms: Seq[String]): Iterator[PostingsRow] =
    terms.distinct.iterator.flatMap { t =>
      val i = find(t.getBytes(UTF_8))
      if (i < 0) Iterator.empty
      else (termRow(i) until termRow(i + 1)).iterator.map { r =>
        PostingsRow(segId, t, rowSalt(r), rowDf(r), rowTtf(r),
          (rowBlock(r) until rowBlock(r + 1)).map(block))
      }
    }
}

object SegmentPostings {

  /** Unsigned byte order of `a[from, until)` against `b`. */
  private def compare(a: Array[Byte], from: Int, until: Int, b: Array[Byte]): Int = {
    val n = math.min(until - from, b.length)
    var i = 0
    while (i < n) {
      val c = (a(from + i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    (until - from) - b.length
  }

  /** Lays out the rows of one segment, which arrive sorted by
    * (term, salt). */
  final class Builder(segId: Int) {
    private val termBytes = new graft.util.ByteBuilder(1 << 12)
    private val termOff, termRow, rowSalt, rowBlock, blkCount, blkMaxTf, blkOff =
      Array.newBuilder[Int]
    private val rowDf, rowTtf, blkFirst, blkMax = Array.newBuilder[Long]
    private val blkMinNorm = Array.newBuilder[Byte]
    private val blkMaxImpact = Array.newBuilder[Float]
    private val bytes = new graft.util.ByteBuilder(1 << 16)
    private var last: Array[Byte] = null
    private var lastSalt = 0
    private var rows, blocks = 0

    def add(r: PostingsRow): Unit = {
      val t = r.term.getBytes(UTF_8)
      val c = if (last == null) 1 else compare(t, 0, t.length, last)
      require(c > 0 || (c == 0 && r.salt > lastSalt),
        s"segment $segId postings out of (term, salt) order at '${r.term}' salt ${r.salt}")
      if (c > 0) {
        termOff += termBytes.size
        termBytes ++= t
        termRow += rows
        last = t
      }
      lastSalt = r.salt
      rowSalt += r.salt; rowDf += r.df; rowTtf += r.ttf; rowBlock += blocks
      rows += 1
      r.blocks.foreach { b =>
        blkFirst += b.firstDocId; blkMax += b.maxDocId; blkCount += b.count
        blkMaxTf += b.maxTf; blkMinNorm += b.minNorm; blkMaxImpact += b.maxImpact
        Seq(b.docs, b.tfs, b.norms, b.positions).foreach { a =>
          blkOff += bytes.size
          bytes ++= a
        }
        blocks += 1
      }
    }

    def result(): SegmentPostings = {
      termOff += termBytes.size; termRow += rows; rowBlock += blocks; blkOff += bytes.size
      new SegmentPostings(segId, termBytes.result(), termOff.result(), termRow.result(),
        rowSalt.result(), rowDf.result(), rowTtf.result(), rowBlock.result(),
        blkFirst.result(), blkMax.result(), blkCount.result(), blkMaxTf.result(),
        blkMinNorm.result(), blkMaxImpact.result(), blkOff.result(), bytes.result())
    }
  }

  /** Spark's row order of one segment's postings: term in UTF-8 byte
    * order, then salt. */
  private val rowOrder: Ordering[PostingsRow] =
    Ordering.by((r: PostingsRow) => (r.term, r.salt))(
      Ordering.Tuple2(InvertedIndex.CodePointOrder, Ordering.Int))

  /** The postings parquet at `path` as one cached partition per segment
    * of `segIds`, with no shuffle: partition i reads every file of one
    * shared scan, keeps segment i's rows (checked on the binary row, so
    * only they are decoded to objects), sorts them by (term, salt) and
    * lays them out flat. One scan plan, not one per segment: planning a
    * scan costs more than decoding these files. The result is persisted
    * but not yet computed; a lost partition recomputes from the parquet. */
  def resident(spark: SparkSession, path: String, segIds: Seq[Int]): RDD[SegmentPostings] = {
    val schema = InvertedIndex.PostingsSchema
    val segIdAt = schema.fieldIndex("segId")
    val toRow = ExpressionEncoder[PostingsRow]().resolveAndBind().createDeserializer()
    val rows = spark.read.schema(schema).parquet(path).queryExecution.toRdd
    spark.sparkContext
      .union(segIds.map(s => rows.filter(_.getInt(segIdAt) == s).coalesce(1)))
      .mapPartitions { it =>
        val sorted = it.map(toRow).toArray.sorted(rowOrder)
        if (sorted.isEmpty) Iterator.empty
        else {
          val b = new Builder(sorted.head.segId)
          sorted.foreach(b.add)
          Iterator.single(b.result())
        }
      }
      .setName(s"resident postings $path")
      .persist(StorageLevel.MEMORY_ONLY)
  }

  /** `terms`' rows from a resident layout as a Dataset — one narrow
    * pass over the cached partitions, no parquet scan. */
  def rowsOf(spark: SparkSession, segs: RDD[SegmentPostings],
             terms: Seq[String]): Dataset[PostingsRow] = {
    import spark.implicits._
    val ts = terms.distinct
    spark.createDataset(segs.mapPartitions(_.flatMap(_.rows(ts))))
  }
}
