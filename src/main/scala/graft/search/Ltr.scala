package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learning-to-rank re-scoring — the reference's LTR contrib module
  * re-expressed relationally [U solr/contrib/ltr:
  * LTRScoringQuery + LinearModel + feature store; SURVEY.md §2 P2
  * "LTR reranking"]. Shape identical to ReRankQParserPlugin: a base
  * query produces top-N candidates (bounded, TakeOrderedAndProject),
  * then a model scores ONLY those N rows from declared features.
  *
  * A feature is any Column over (base score `s`, docs-table columns) —
  * the function-query registry (ValueSources) plugs in directly, which
  * is exactly the reference's SolrFeature/ValueFeature split. The
  * linear model folds weight·feature left-to-right (documented IEEE
  * order, so an external oracle can reproduce scores bit-for-bit). */
object Ltr {

  /** Any LTR model scores candidates through one Column expression —
    * codegen, evaluated only over the ≤ topN candidate rows. */
  sealed trait Model { def scoreCol: Column }

  final case class LinearModel(features: Seq[(String, Column)],
                               weights: Seq[Double]) extends Model {
    require(features.length == weights.length, "one weight per feature")
    /** w·f as a left fold in declaration order. */
    def scoreCol: Column =
      features.zip(weights)
        .map { case ((_, f), w) => lit(w) * f }
        .reduce(_ + _)
  }

  /** Additive regression-tree ensemble — the reference's LambdaMART
    * serving model [U solr/contrib/ltr/.../model/
    * MultipleAdditiveTreesModel.java: branch when feature ≤ threshold
    * go left, else right; score = Σ trees weight · leaf]. Each tree
    * compiles to a nested when/otherwise Column — whole-stage codegen,
    * no UDF, and the same bounded candidate frame as the linear model. */
  sealed trait TreeNode
  final case class Leaf(value: Double) extends TreeNode
  final case class Branch(feature: String, threshold: Double,
                          left: TreeNode, right: TreeNode) extends TreeNode

  final case class TreesModel(features: Seq[(String, Column)],
                              trees: Seq[(Double, TreeNode)]) extends Model {
    private def featCol(n: String): Column =
      features.find(_._1 == n)
        .getOrElse(sys.error(s"tree references undeclared feature: $n"))._2
    private def walk(n: TreeNode): Column = n match {
      case Leaf(v) => lit(v)
      case Branch(f, t, l, r) =>
        when(featCol(f) <= lit(t), walk(l)).otherwise(walk(r))
    }
    /** Σ weight·tree as a left fold in declaration order (IEEE-pinned,
      * like the linear fold). */
    def scoreCol: Column =
      trees.map { case (w, root) => lit(w) * walk(root) }.reduce(_ + _)
  }

  /** Candidate top-`topN` of an OR base query (scores summed, mm=1),
    * collected to the driver (TakeOrderedAndProject → ≤ topN rows,
    * driver re-sorts with the same comparator — the TopDocs.merge
    * shape). Returns (docId, doc_id, s) in rank order. */
  private def candidates(idx: graft.index.IndexView, baseTerms: Seq[String],
                         topN: Int): Array[(Long, Long, Double)] = {
    val rel = new RelationalPath(idx)
    val spark = idx.spark
    import spark.implicits._
    rel.scoredTf(baseTerms)
      .groupBy("docId", "doc_id").agg(sum("score").as("s"))
      .orderBy(desc("s"), asc("docId"))
      .limit(topN)
      .select(col("docId").cast("long").as("docId"),
        col("doc_id").cast("long").as("doc_id"), col("s").cast("double").as("s"))
      .as[(Long, Long, Double)].collect()
      .sortBy { case (d, _, s) => (-s, d) }
  }

  /** The model-input frame for a collected candidate set: candidate
    * (docId, s) broadcast-joined to JUST the candidates' docs rows —
    * the candidate ids ship as an isin predicate PUSHED into the docs
    * parquet scan (PushedFilters; asserted in PlanSpec), so the
    * feature fetch reads ≤ topN rows' row groups, never the corpus. */
  def candidateFeatures(idx: graft.index.IndexView,
                        cands: Seq[(Long, Long, Double)],
                        model: Model): DataFrame = {
    val rel = new RelationalPath(idx)
    val spark = idx.spark
    import spark.implicits._
    val candDf = cands.toDF("docId", "doc_id", "s")
    rel.docsWithId.drop("doc_id")
      .filter(col("docId").isin(cands.map(_._1): _*))
      .join(broadcast(candDf), "docId")
      .withColumn("ltr", model.scoreCol)
  }

  /** Re-rank the top-`topN` candidates of an OR base query (scores
    * summed, mm=1) with `model`; return (rank, doc_id) of the top-k by
    * model score (docId-ascending tie-break, as everywhere). The model
    * only ever sees ≤ topN rows; ranks are stamped on the driver — no
    * Window operator anywhere in the plan. */
  def rescore(idx: graft.index.IndexView, baseTerms: Seq[String],
              topN: Int, k: Int, model: Model): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val cands = candidates(idx, baseTerms, topN)
    if (cands.isEmpty) return ResultFrames.rankedDocIds(spark, Nil)
    val rescored = candidateFeatures(idx, cands.toSeq, model)
      .select(col("docId").cast("long").as("docId"),
        col("doc_id").cast("long").as("doc_id"),
        col("ltr").cast("double").as("ltr"))
      .as[(Long, Long, Double)].collect()
      .sortBy { case (d, _, l) => (-l, d) }
      .take(k)
    ResultFrames.rankedDocIds(spark, rescored.toSeq.map(_._2))
  }
}
