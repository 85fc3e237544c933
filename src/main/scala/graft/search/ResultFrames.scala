package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Driver-built result frames: the ≤k rows a query already ranked on the
  * driver, handed back as a local DataFrame over constant schemas — no
  * per-call encoder derivation, no plan to run. The schemas are exactly
  * what a tuple `toDF` produces (primitive columns non-null, strings
  * nullable), so consumers and gate outputs see the same columns. */
object ResultFrames {
  /** (rank, doc_id): the relational rank tails. */
  val RankDocId: StructType = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("doc_id", LongType, nullable = false)))

  /** (doc_id): the position-verified doc lists. */
  val DocId: StructType = StructType(Seq(StructField("doc_id", LongType, nullable = false)))

  /** (rank, docId, url, score): the scorer path's ranked hits. */
  val RankedHits: StructType = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("docId", LongType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("score", FloatType, nullable = false)))

  /** (rank, docId, score): ranked hits before their stored fields. */
  val RankedScores: StructType = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("docId", LongType, nullable = false),
    StructField("score", FloatType, nullable = false)))

  /** (term, df): dictionary lookups, as the termstats plans project them. */
  val TermDf: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType)))

  /** A local frame of `rows`, which must match `schema`. */
  def of(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** (rank, doc_id) for corpus doc_ids in rank order, ranks from 1. */
  def rankedDocIds(spark: SparkSession, docIds: Seq[Long]): DataFrame =
    of(spark, RankDocId, docIds.zipWithIndex.map { case (id, i) => Row(i + 1, id) })

  /** (doc_id) rows in the given order. */
  def docIds(spark: SparkSession, docIds: Seq[Long]): DataFrame =
    of(spark, DocId, docIds.map(Row(_)))
}
