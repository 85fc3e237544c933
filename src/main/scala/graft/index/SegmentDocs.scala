package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, Literal, SpecificInternalRow,
  Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.{col, element_at, split}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One segment's doc columns, resident in executor memory for a warm
  * reader and in docId order — the per-segment doc values of a Lucene
  * segment reader [U lucene/core/.../codecs/lucene90/
  * Lucene90DocValuesProducer.java]. One primitive array per column
  * (`SegmentDocs.Schema`), a null bitmap for the nullable primitives
  * and one shared string per distinct `lang` value; never one object
  * per doc.
  *
  * A doc is read as one reused row of `Schema`, so a predicate or value
  * analyzed over that schema (`SegmentDocs.bind`) evaluates on it
  * directly; the call's argument slots, if any, follow the columns. */
final class SegmentDocs(
    docId: Array[Long],
    docNum: Array[Long],
    dl: Array[Int],
    dlq: Array[Int],
    ts: Array[Long],
    lang: Array[UTF8String],
    docNumNull: java.util.BitSet,
    tsNull: java.util.BitSet) extends Serializable {

  def size: Int = docId.length

  /** Doc `i` as `row` (a row of `SegmentDocs.Schema`). */
  private def read(i: Int, row: InternalRow): Unit = {
    row.setLong(0, docId(i))
    if (docNumNull.get(i)) row.setNullAt(1) else row.setLong(1, docNum(i))
    row.setInt(2, dl(i))
    row.setInt(3, dlq(i))
    if (tsNull.get(i)) row.setNullAt(4) else row.setLong(4, ts(i))
    row.update(5, lang(i))
  }

  /** A row of `Schema` followed by `args`, the call's argument slots. */
  private def newRow(args: Array[Double]): InternalRow = {
    val row = new SpecificInternalRow(SegmentDocs.Schema.map(_.dataType) ++ args.map(_ => DoubleType))
    args.indices.foreach(j => row.setDouble(SegmentDocs.Schema.length + j, args(j)))
    row
  }

  private def docNumOf(i: Int): Long = {
    if (docNumNull.get(i))
      throw new IllegalStateException(s"doc ${docId(i)}: url has no numeric last path segment")
    docNum(i)
  }

  /** The segment's docs and, per boolean of `preds` (bound on `Schema`;
    * null counts as false), the docs it holds on, as bits from the
    * segment's first docId. */
  def bits(preds: Seq[Expression]): SegmentBits = {
    val base = if (size == 0) 0L else docId(0)
    val ps = preds.toArray
    val all = new java.util.BitSet(size)
    val matching = Array.fill(ps.length)(new java.util.BitSet(size))
    val row = newRow(Array.emptyDoubleArray)
    var i = 0
    while (i < size) {
      val off = (docId(i) - base).toInt
      all.set(off)
      if (ps.nonEmpty) read(i, row)
      var p = 0
      while (p < ps.length) {
        if (ps(p).eval(row) == true) matching(p).set(off)
        p += 1
      }
      i += 1
    }
    SegmentBits(base, matching.toIndexedSeq, all, None)
  }

  /** (docId, doc_id) of the first `k` docs, in docId order, on which
    * `pred` (a boolean bound with `args.length` argument slots; null
    * counts as false) holds — all docs when `pred` is None. */
  def firstMatching(pred: Option[Expression], args: Array[Double], k: Int): Iterator[(Long, Long)] = {
    val row = newRow(args)
    (0 until size).iterator.filter { i =>
      pred.forall { p => read(i, row); p.eval(row) == true }
    }.take(k).map(i => (docId(i), docNumOf(i)))
  }

  /** (docId, doc_id, value) of the `k` docs with the smallest `value`
    * (a double bound with `args.length` argument slots) at most `max`,
    * docId breaking ties. A null value is never at most `max`; the
    * comparison is Spark SQL's `<=`. */
  def smallest(value: Expression, args: Array[Double], max: Double,
               k: Int): Array[(Long, Long, Double)] = {
    val row = newRow(args)
    // (docId, position, value), largest first: the bounded heap's head
    // is the one to drop
    val heap = new java.util.PriorityQueue[(Long, Long, Double)](math.max(k, 1),
      SegmentDocs.byValue.reverse)
    var i = 0
    while (i < size && k > 0) {
      read(i, row)
      val v = value.eval(row)
      if (v != null && SQLOrderingUtil.compareDoubles(v.asInstanceOf[Double], max) <= 0) {
        heap.add((docId(i), i.toLong, v.asInstanceOf[Double]))
        if (heap.size > k) heap.poll()
      }
      i += 1
    }
    Array.fill(heap.size)(heap.poll()).reverse
      .map { case (d, at, v) => (d, docNumOf(at.toInt), v) }
  }
}

object SegmentDocs {

  /** The resident columns, in row order: what a resident predicate may
    * reference. `doc_id` is the corpus id the url ends in. */
  val Schema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("doc_id", LongType),
    StructField("dl", IntegerType, nullable = false),
    StructField("dlq", IntegerType, nullable = false),
    StructField("ts", TimestampType),
    StructField("lang", StringType)))

  /** The corpus doc_id of a docs row: its url's last path segment. */
  val DocNumColumn: Column = element_at(split(col("url"), "/"), -1).cast("long")

  /** (docId, _, value) by value, then docId. */
  private val byValue: Ordering[(Long, Long, Double)] = (a, b) => {
    val c = java.lang.Double.compare(a._3, b._3)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** The docs parquet at `path` as one partition per segment of
    * `segIds`, each in docId order, with no shuffle: partition i keeps
    * segment i's rows of one shared scan (the shape of
    * `SegmentPostings.resident`). */
  def resident(spark: SparkSession, path: String, segIds: Seq[Int]): RDD[SegmentDocs] = {
    val rows = spark.read.schema(InvertedIndex.Schemas("docs")).parquet(path)
      .select(col("segId") +: Schema.map(f =>
        if (f.name == "doc_id") DocNumColumn.as("doc_id") else col(f.name)): _*)
      .queryExecution.toRdd
    spark.sparkContext
      .union(segIds.map(s => rows.filter(_.getInt(0) == s).coalesce(1)))
      .mapPartitions(it => Iterator.single(build(it.map(_.copy()).toArray.sortBy(_.getLong(1)))))
  }

  /** Lays out one segment's docs: rows of (segId, then `Schema`'s
    * columns), sorted by docId. */
  private def build(rows: Array[InternalRow]): SegmentDocs = {
    val n = rows.length
    val docNumNull, tsNull = new java.util.BitSet(n)
    def longs(at: Int, nulls: java.util.BitSet) = Array.tabulate(n) { i =>
      if (rows(i).isNullAt(at)) { nulls.set(i); 0L } else rows(i).getLong(at)
    }
    val langs = scala.collection.mutable.HashMap.empty[UTF8String, UTF8String]
    new SegmentDocs(rows.map(_.getLong(1)), longs(2, docNumNull),
      rows.map(_.getInt(3)), rows.map(_.getInt(4)), longs(5, tsNull),
      rows.map(r => if (r.isNullAt(6)) null else {
        val s = r.getUTF8String(6).clone()
        langs.getOrElseUpdate(s, s)
      }),
      docNumNull, tsNull)
  }

  /** `cols` analyzed over an empty local frame of `Schema` followed by
    * one non-null double column per name of `args` (the call's argument
    * slots), and bound to its row, for interpreted evaluation on resident
    * docs, its constant parts folded to literals (a timestamp bound
    * parses once, not per doc) — None when a column references something
    * the resident docs lack, or cannot be evaluated row by row
    * (nondeterministic or unevaluable parts). Interpreted, not generated:
    * generated code inlines the call's literals, so every new bound or
    * centre would compile anew. */
  def bind(spark: SparkSession, args: Seq[String], cols: Column*): Option[Seq[Expression]] = {
    if (cols.isEmpty) return Some(Nil)
    val empty: DataFrame = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Schema ++ args.map(StructField(_, DoubleType, nullable = false))))
    val analyzed =
      try empty.select(cols.zipWithIndex.map { case (c, i) => c.as(s"_$i") }: _*)
        .queryExecution.analyzed
      catch { case _: AnalysisException => return None }
    ReplaceExpressions(analyzed) match {
      case Project(list, child) =>
        val bound = list.map(a =>
          BindReferences.bindReference(a.asInstanceOf[Alias].child, child.output).transformDown {
            case e if e.foldable && !e.isInstanceOf[Literal] => Literal.create(e.eval(), e.dataType)
          })
        Some(bound).filter(_.forall(e =>
          e.deterministic && e.find(_.isInstanceOf[Unevaluable]).isEmpty))
      case _ => None
    }
  }

  /** (docId, doc_id) of the first `k` docs in docId order on which
    * `pred` (with `args` in its argument slots) holds: one narrow job
    * over the resident segments, each emitting its first `k`, merged on
    * the driver. */
  def firstMatching(segs: ResidentSegments, pred: Option[Expression],
                    args: Array[Double], k: Int): Array[(Long, Long)] =
    segs.run(_.docs.firstMatching(pred, args, k)).sortBy(_._1).take(k)

  /** (docId, doc_id, value) of the `k` docs with the smallest `value`
    * (with `args` in its argument slots) at most `max`, by (value,
    * docId): one narrow job, each segment emitting its bounded `k`,
    * merged on the driver. */
  def smallest(segs: ResidentSegments, value: Expression, args: Array[Double],
               max: Double, k: Int): Array[(Long, Long, Double)] =
    segs.run(_.docs.smallest(value, args, max, k).iterator).sorted(byValue).take(k)
}

/** One segment's doc sets for a query, as bits at docId − `base`: per
  * attribute predicate the docs it holds on, the segment's docs (what
  * match-all reads) and its deleted docs. A warm reader evaluates them on
  * its resident doc columns (`SegmentDocs.bits`); a cold plan builds them
  * from the docs rows it delivers (`SegmentBits.of`). */
final case class SegmentBits(base: Long, preds: IndexedSeq[java.util.BitSet],
                             all: java.util.BitSet, deleted: Option[java.util.BitSet])

object SegmentBits {

  /** From one segment's docs rows (segId, docId, predicate values,
    * deleted): the rows delivered are the docs of `all`. */
  def of(rows: Iterator[(Int, Long, Seq[Boolean], Boolean)]): SegmentBits = {
    val rs = rows.toArray
    val base = if (rs.isEmpty) 0L else rs.iterator.map(_._2).min
    val np = if (rs.isEmpty) 0 else rs(0)._3.length
    val preds = IndexedSeq.fill(np)(new java.util.BitSet())
    val all, deleted = new java.util.BitSet()
    rs.foreach { case (_, docId, ps, del) =>
      val off = (docId - base).toInt
      all.set(off)
      var i = 0
      while (i < np) { if (ps(i)) preds(i).set(off); i += 1 }
      if (del) deleted.set(off)
    }
    SegmentBits(base, preds, all, Some(deleted).filterNot(_.isEmpty))
  }
}
