package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.index.SegmentDocs
import graft.util.{PFor, VarInt}

/** The engine's relational face: the same queries the scorer path
  * answers, expressed as declarative DataFrame plans over the decoded
  * postings — Catalyst optimizes them (pushdown, partial aggregation,
  * broadcast), mirroring how the reference's /sql layer compiles SQL to
  * index operations [U solr/core/src/java/org/apache/solr/handler/sql/]
  * (SURVEY.md §3.C: that whole layer IS Catalyst here).
  *
  * Scores here are DOUBLE-precision with the canonical formula (the
  * same algebra as the float32 kernel; identical text to the DuckDB
  * oracle SQL so rank comparisons are robust):
  *   ln(1 + (N - df + 0.5)/(df + 0.5)) · tf/(tf + k1·(1-b + b·dlq/avgdl))
  * Float32-exact scoring lives in the scorer path; ScalaTest asserts
  * both paths agree on ranks.
  *
  * Scored top-k queries (term, Boolean, dismax, multi-term) all enter
  * through `forParsed`, which compiles the `Query` into one plan; the
  * other methods serve shapes a `Query` does not express (facets,
  * collapse, function and geo ranking, position-verified doc lists).
  */
object RelationalPath {
  /** (docId, positions, norm byte) of every posting in a row, in docId
    * order — the one place that decodes the block/position format for
    * the position readers and the edismax kernel. */
  def postings(r: graft.model.PostingsRow): Iterator[(Long, Array[Int], Byte)] =
    r.blocks.iterator.flatMap { b =>
      val docs = PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
      val pos = VarInt.decodePositions(b.positions, PFor.decodeInts(b.tfs, b.count))
      docs.indices.iterator.map(i => (docs(i), pos(i), b.norms(i)))
    }

  /** The corpus doc_id a url ends in (the relational output key). */
  def docIdOfUrl(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  /** How many bound resident expressions `boundResident` keeps. */
  private val BoundExpressions = 64

  private type BoundKey = (SparkSession, Any)

  /** `boundResident`'s expressions, least recently used first. */
  private val bound =
    new java.util.LinkedHashMap[BoundKey, Option[Expression]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[BoundKey, Option[Expression]]): Boolean =
        size > BoundExpressions
    }

  /** `value` bound for the resident docs with `args` as its argument
    * slots (`SegmentDocs.bind`), once per session and `key`, so a call
    * with new arguments parses and analyzes nothing. None when `value`
    * reads a column the resident docs lack. */
  private def boundResident(spark: SparkSession, key: Any, args: Seq[String])
                           (value: => Column): Option[Expression] =
    bound.synchronized {
      bound.computeIfAbsent((spark, key), _ => SegmentDocs.bind(spark, args, value).map(_.head))
    }

  /** The resident haversine distance from the point (latSql, lonSql) to
    * the centre in the two argument slots. */
  private def geoDistance(spark: SparkSession, latSql: String, lonSql: String): Option[Expression] =
    boundResident(spark, ("geodist", latSql, lonSql), Seq("__centre_lat", "__centre_lon"))(
      graft.functions.ValueSources.fn("geodist", expr(latSql), expr(lonSql),
        col("__centre_lat"), col("__centre_lon")).cast("double"))

  /** The resident predicate lo ≤ fn ≤ hi, with lo and hi in the two
    * argument slots (Spark's `between` over the double value). */
  private def inRange(spark: SparkSession, fn: Column): Option[Expression] =
    boundResident(spark, ("frange", fn), Seq("__lo", "__hi"))(
      fn.cast("double").between(col("__lo"), col("__hi")))

  /** Attribute predicate `p` bound for the resident docs
    * (`attrPredColumn` over `SegmentDocs.Schema`), once per session and
    * predicate — the per-segment filter bits of a warm query evaluate it.
    * None when it reads a column the resident docs lack. */
  def residentPred(spark: SparkSession, p: Query): Option[Expression] =
    boundResident(spark, ("pred", p), Nil)(attrPredColumn(SegmentDocs.Schema, p))

  /** Attribute predicate (AttrQ / AttrRangeQ) → boolean Column over a
    * docs frame, typed from its schema (timestamp values parse,
    * numerics cast; a column the schema lacks compares as given) —
    * shared by the scorer path's bitsets and the relational executor;
    * Catalyst pushes the comparison into the parquet scan. */
  def attrPredColumn(schema: org.apache.spark.sql.types.StructType,
                     p: Query): Column = {
    import org.apache.spark.sql.types._
    def litFor(name: String, v: String): Column = schema.find(_.name == name).map(_.dataType) match {
      case Some(TimestampType) => to_timestamp(lit(v))
      case Some(dt: NumericType) => lit(v).cast(dt)
      case _ => lit(v)
    }
    p match {
      case AttrQ(name, v) => col(name) === litFor(name, v)
      case AttrRangeQ(name, lo, hi, il, ih) =>
        val c = col(name)
        val conds =
          lo.map(v => if (il) c >= litFor(name, v) else c > litFor(name, v)).toSeq ++
            hi.map(v => if (ih) c <= litFor(name, v) else c < litFor(name, v))
        // open-open range = FieldExistsQuery (`field:*`)
        // [U lucene/core/.../search/DocValuesFieldExistsQuery.java]
        if (conds.isEmpty) c.isNotNull else conds.reduce(_ && _)
      case GeoFiltQ(latSql, lonSql, lat, lon, dKm) =>
        graft.functions.ValueSources.fn("geodist",
          expr(latSql), expr(lonSql), lit(lat), lit(lon)) <= lit(dKm)
      case other => sys.error(s"not an attribute predicate: $other")
    }
  }
}

final class RelationalPath(idx: graft.index.IndexView) {
  private val session = idx.spark
  import session.implicits._

  /** Decoded tf table: (term, docId, tf). Typed flatMap over block
    * binaries; Catalyst prunes the scan to the filtered terms when a
    * term predicate is pushed before decoding. */
  def tfTable(terms: Seq[String] = Nil): Dataset[(String, Long, Int)] = {
    val rows =
      if (terms.isEmpty) idx.postings
      else idx.postingsOf(terms)
    rows.flatMap { r =>
      r.blocks.iterator.flatMap { b =>
        val docs = PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
        val tfs = PFor.decodeInts(b.tfs, b.count)
        docs.indices.iterator.map(i => (r.term, docs(i), tfs(i)))
      }
    }
  }

  /** docs with the original doc_id recovered from the url; tombstoned
    * docs subtracted (anti join — the relational live-docs filter). */
  def docsWithId: DataFrame = liveDocsWithId(idx.hasDeletes)

  private def liveDocsWithId(hasDeletes: Boolean): DataFrame = {
    val base = idx.docs.withColumn("doc_id", SegmentDocs.DocNumColumn)
    if (hasDeletes)
      base.join(idx.tombstones.toDF("docId"), Seq("docId"), "left_anti")
    else base
  }

  private def avgdlD: Double = idx.stats.sumTotalTermFreq.toDouble / idx.stats.docCount

  /** Per-(term, doc) double BM25 partial score. */
  def scoredTf(terms: Seq[String]): DataFrame = {
    val n = idx.stats.docCount
    val tf = tfTable(terms).toDF("term", "docId", "tf")
    val stats = idx.termStats.filter(col("term").isin(terms: _*))
      .select(col("term"), col("df"))
    tf.join(broadcast(stats), "term")
      .join(docsWithId.select(col("docId"), col("dlq"), col("doc_id")), "docId")
      .withColumn("score",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf").cast("double") /
            (col("tf").cast("double") +
              lit(1.2) * (lit(0.25) + lit(0.75) * col("dlq").cast("double") / lit(avgdlD)))))
  }

  /** Rank by (score desc, docId asc) — docId is the url-rank, the
    * normative tie-break key shared with the scorer path
    * (TopScoreDocCollector semantics); output exposes the original
    * corpus doc_id.
    *
    * Scale shape: `orderBy(...).limit(k)` compiles to
    * TakeOrderedAndProject (per-partition bounded heaps + driver merge —
    * the TopDocs.merge analogue), so no global sort and no
    * single-partition exchange ever sees more than k rows; ranks are
    * then stamped ON THE DRIVER over the ≤k collected winners with the
    * same comparator (mirroring Searcher.rankedResult) — no Window
    * operator and no single-partition exchange anywhere in the plan. */
  private def rankTopK(perDoc: DataFrame, k: Int): DataFrame = {
    val winners = topKWinnersFrame(perDoc, k)
      .as[(Long, Long, Double)].collect()
      .sortBy { case (d, _, s) => (-s, d) }
    ResultFrames.rankedDocIds(session, winners.toSeq.map(_._2))
  }

  /** The LAZY bounded-winners frame every scored rank tail collects —
    * exposed so PlanSpec can assert the physical shape (the collected
    * result is a LocalRelation whose plan no longer shows the scan). */
  private[search] def topKWinnersFrame(perDoc: DataFrame, k: Int): DataFrame =
    perDoc
      .orderBy(desc("s"), asc("docId"))
      .limit(k)
      .select(col("docId").cast("long").as("docId"),
        col("doc_id").cast("long").as("doc_id"), col("s").cast("double").as("s"))

  /** Constant-score ranking: rank = docId (url-rank) order over a
    * (docId, doc_id) frame — TakeOrderedAndProject bounds the rows,
    * driver stamps the ranks (shared by match-all, term-set and
    * attr-only paths). */
  private[search] def constRankByDocId(perDoc: DataFrame, k: Int): DataFrame = {
    val winners = perDoc
      .orderBy(asc("docId"))
      .limit(k)
      .select(col("docId").cast("long").as("docId"),
        col("doc_id").cast("long").as("doc_id"))
      .as[(Long, Long)].collect()
      .sortBy(_._1)
    ResultFrames.rankedDocIds(session, winners.toSeq.map(_._2))
  }

  /** The docIds holding any of `terms` (distinct) — set membership read
    * from the raw tf rows, no scoring. */
  private def docIdsOf(terms: Seq[String]): DataFrame =
    tfTable(terms.distinct).toDF("term", "docId", "tf").select("docId").distinct()

  /** Constant-score set membership (TermInSetQuery / multi-term rewrite
    * target): all docs containing ANY of the terms; constant score ⇒
    * rank = docId (url-rank) order. */
  private def constDocsTopK(terms: Seq[String], k: Int): DataFrame =
    if (terms.isEmpty) ResultFrames.rankedDocIds(session, Nil)
    else constRankByDocId(
      docIdsOf(terms).join(docsWithId.select(col("docId"), col("doc_id")), "docId"), k)

  /** Collapse: best-scoring doc per group key (lang) for a term query
    * [U solr CollapsingQParserPlugin]. Argmax via max_by over the total
    * order (score desc, docId asc) — one hash aggregation with
    * map-side partials, so per-task input stays bounded even when one
    * group holds most of the corpus (a Window partitioned by the group
    * key would move the whole group into a single task). */
  def collapseByLang(term: String): DataFrame =
    scoredTf(Seq(term))
      .join(idx.docs.select(col("docId"), col("lang")), "docId")
      .groupBy("lang")
      .agg(max_by(col("doc_id"),
        struct(col("score"), (-col("docId")).as("nd"))).as("doc_id"))
      .select(col("lang"), col("doc_id"))
      .orderBy("lang")

  /** Expand component: after collapsing to the best doc per group,
    * re-attach the next `perGroup` members of each group
    * [U solr/core/.../handler/component/ExpandComponent.java] —
    * ranks 2..perGroup+1 of the per-group ordering (the collapsed head
    * is rank 1, returned by collapseByLang). Per-group bounded
    * TopKAggregator (the same O(k)-buffer ObjectHashAggregate as the
    * ANN rank path — ties by docId asc, identical to the Window order
    * it replaces), never a per-group sort of the whole group. */
  def expandByLang(term: String, perGroup: Int = 3): DataFrame = {
    val top = graft.pipeline.TopKAggregator.topK(perGroup + 1)(
      col("score"), col("docId"))
    scoredTf(Seq(term))
      .join(idx.docs.select(col("docId"), col("lang")), "docId")
      .groupBy("lang").agg(top.as("top"))
      .select(col("lang"), posexplode(col("top")))
      .filter(col("pos") >= 1) // pos 0 = the collapsed head (rank 1)
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("docId"))
      .join(docsWithId.select("docId", "doc_id"), "docId")
      .select(col("lang"), col("rank"), col("doc_id"))
      .orderBy("lang", "rank")
  }

  /** Field facet over the result set: matching-doc counts per lang
    * [U solr facet module / FacetField]. */
  def facetByLang(term: String): DataFrame =
    scoredTf(Seq(term))
      .join(idx.docs.select(col("docId"), col("lang")), "docId")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang")

  /** General Boolean top-k (the QParser → relational execution path):
    * scored MUST/SHOULD term clauses (a `BoostQ(TermQ, b)` clause weighs
    * its term's score by b) with minimumShouldMatch, non-scoring
    * docs-attribute MUST/FILTER predicates, MUST_NOT terms. */
  private def boolTopK(b: BoolQ, k: Int): DataFrame = {
    def isAttr(x: Query) = x match {
      case _: AttrQ | _: AttrRangeQ => true
      case _ => false
    }
    val (attrMust, restMust) = b.must.partition(isAttr)
    val (attrFilt, restFilt) = b.filter.partition(isAttr)
    require(restFilt.isEmpty,
      s"only attribute FILTER clauses run on the relational path (a term belongs in must): $restFilt")
    def weighted(qs: Seq[Query], what: String): Seq[(String, Double)] = qs.map {
      case TermQ(t) => (t, 1.0)
      case BoostQ(TermQ(t), w) => (t, w.toDouble)
      case other => sys.error(s"unsupported $what clause on relational path: $other")
    }
    val must = weighted(restMust, "must")
    val should = weighted(b.should, "should")
    val mustNot = terms(b.mustNot, "mustNot")
    val attrFilter = (attrMust ++ attrFilt)
      .map(RelationalPath.attrPredColumn(idx.docs.schema, _))
      .reduceOption(_ && _)
    val mustD = must.map(_._1).distinct
    val shouldD = should.map(_._1).distinct.filterNot(mustD.contains)
    val scoredTerms = mustD ++ shouldD
    if (scoredTerms.isEmpty) {
      // attr-only boolean (no scored term clauses): constant score ⇒
      // rank = docId (url-rank) order, mustNot terms anti-joined — the
      // scorer path answers the same shape via PredQ bitsets
      return attrFilter match {
        case None => ResultFrames.rankedDocIds(session, Nil)
        case Some(pred) =>
          val anchor = docsWithId.filter(pred).select(col("docId"), col("doc_id"))
          constRankByDocId(
            if (mustNot.isEmpty) anchor
            else anchor.join(docIdsOf(mustNot), Seq("docId"), "left_anti"), k)
      }
    }
    // per-term weights; an unboosted term's score is not multiplied
    val boosts = (must ++ should).groupMapReduce(_._1)(w => Set(w._2))(_ ++ _)
      .map { case (t, ws) =>
        require(ws.size == 1, s"term '$t' carries different boosts: $ws")
        t -> ws.head
      }.filter(_._2 != 1.0)
    val ts = boosts.foldLeft(col("score")) { case (c, (t, w)) =>
      when(col("term") === t, col("score") * lit(w)).otherwise(c)
    }
    // Lucene occur semantics (BoolScorer / Boolean2ScorerSupplier):
    // mm defaults to 1 only when there is NO required clause at all —
    // an attr FILTER counts as required, so "+lang:en spark" keeps
    // mm=0 and attr-matching docs surface with score 0 when no SHOULD
    // term matches (identical to the scorer path's required anchor).
    val hasRequired = mustD.nonEmpty || attrFilter.isDefined
    val effMm = if (hasRequired) b.minShouldMatch else math.max(b.minShouldMatch, 1)
    rankTopK(boolPerDoc(
      scoredTf(scoredTerms).select(col("docId"), col("doc_id"), col("term"), ts.as("ts")),
      mustD, shouldD, if (mustNot.isEmpty) None else Some(docIdsOf(mustNot)),
      attrFilter, effMm), k)
  }

  /** The LAZY scored per-doc frame of a Boolean query over term clauses
    * (the plan rankTopK bounds and collects) — `forParsed`'s Boolean
    * fold, exposed for PlanSpec and the edismax reference plan. `perTerm` holds one
    * (docId, doc_id, term, ts) row per matching (term, doc); a doc
    * scores Σ ts when it matches every `mustD` term and at least `effMm`
    * of `shouldD`. `excluded` (docId) is anti-joined — the MUST_NOT
    * matches. `attrFilter` is a required docs predicate: with no MUST
    * term it is the anchor, whose docs keep score 0 when no SHOULD term
    * matches. Output: (docId, doc_id, s). */
  private[search] def boolPerDoc(perTerm: DataFrame,
                                 mustD: Seq[String], shouldD: Seq[String],
                                 excluded: Option[DataFrame],
                                 attrFilter: Option[Column],
                                 effMm: Int): DataFrame = {
    val grouped =
      if (mustD.length + shouldD.length == 1)
        // one term: already one row per doc, so the fold is the identity
        perTerm.select(col("docId"), col("doc_id"), col("ts").as("s"),
          lit(mustD.length).as("nMust"), lit(shouldD.length).as("nShould"))
      else
        perTerm
          .withColumn("isMust", col("term").isin(mustD: _*))
          .groupBy("docId", "doc_id")
          .agg(sum("ts").as("s"),
            sum(when(col("isMust"), 1).otherwise(0)).as("nMust"),
            sum(when(!col("isMust"), 1).otherwise(0)).as("nShould"))
    val scored = grouped.filter(col("nMust") === mustD.length)
    var out =
      if (mustD.isEmpty && attrFilter.isDefined)
        // attr predicate is the required anchor: left-join the SHOULD
        // sums so anchor docs with zero should matches keep score 0
        docsWithId.filter(attrFilter.get).select(col("docId"), col("doc_id"))
          .join(scored.select(col("docId"), col("s"), col("nShould")),
            Seq("docId"), "left")
          .na.fill(Map("s" -> 0.0, "nShould" -> 0))
      else scored
    if (shouldD.nonEmpty && effMm > 0)
      out = out.filter(col("nShould") >= effMm)
    out = out.select(col("docId"), col("doc_id"), col("s"))
    excluded.foreach(ex => out = out.join(ex, Seq("docId"), "left_anti"))
    if (mustD.nonEmpty) // otherwise the attr anchor already applied
      attrFilter.foreach { pred =>
        out = out.join(idx.docs.filter(pred).select("docId"), Seq("docId"), "left_semi")
      }
    out
  }

  /** `query($q)` as a VALUE SOURCE [U solr ValueSourceParser "query",
    * lucene/queries/.../function/valuesource/QueryValueSource.java]:
    * the subquery's BM25 score per docId, to be LEFT-joined into a
    * result frame (Solr's defVal — docs not matching the subquery take
    * `default`, usually 0, and are never dropped or nulled). Returns
    * (docId, <as>). */
  def queryScores(terms: Seq[String], as: String): DataFrame =
    scoredTf(terms)
      .groupBy("docId").agg(sum("score").as(as))

  /** Attach a `query($q)` column: left join + coalesce(default) — the
    * same hit-set-preserving combine as edismax bf/bq. */
  def withQueryScore(df: DataFrame, terms: Seq[String], as: String,
                     default: Double = 0.0): DataFrame =
    df.join(queryScores(terms, as), Seq("docId"), "left")
      .withColumn(as, coalesce(col(as), lit(default)))

  /** `boost(q, f)` / function-query sort [U solr BoostQParserPlugin,
    * FunctionQParserPlugin]: hit set = the anchor term's matches; the
    * rank key is arbitrary ValueSources arithmetic over the anchor's
    * BM25 score, a `query($q2)` column (default 0 — additive subquery
    * score, hit set unchanged) and a stored field. The whole expression
    * compiles to codegen'd Column arithmetic over ONE scored frame —
    * the function query is never a second corpus pass. */
  def boostFnTopK(anchor: String, subTerm: String, k: Int): DataFrame = {
    import graft.functions.{ValueSources => V}
    val base = scoredTf(Seq(anchor))
      .select(col("docId"), col("doc_id"), col("score"))
      .join(docsWithId.select(col("docId"), col("dl")), "docId")
    val withQ = withQueryScore(base, Seq(subTerm), "qsub")
    // s = (bm25(anchor) + 0.5·query($sub)) · recip(abs(dl − 100), 1, 1000, 1)
    val s = V.fn("product",
      V.fn("sum", col("score"), V.fn("product", lit(0.5), col("qsub"))),
      V.fn("recip",
        V.fn("abs", V.fn("sub", col("dl"), lit(100))), lit(1), lit(1000), lit(1)))
    rankTopK(withQ.select(col("docId"), col("doc_id"), s.as("s")), k)
  }

  /** Relevance value-sources as columns over the live docs
    * [U solr ValueSourceParser "termfreq","docfreq","idf","norm",
    * "numdocs","maxdoc","sumtotaltermfreq"]: per-term stats are driver
    * scalars (IndexFunctions), termfreq is a left-joined frame, norm is
    * the stored quantized length (dlq). One docs scan, no corpus jobs. */
  def relevanceFrame(term: String): DataFrame = {
    val ifn = new graft.functions.IndexFunctions(idx)
    val tf = tfTable(Seq(term)).toDF("term", "docId", "tf")
      .select(col("docId"), col("tf"))
    docsWithId.select(col("docId"), col("doc_id"), col("dlq"))
      .join(tf, Seq("docId"), "left")
      .select(col("doc_id"),
        coalesce(col("tf"), lit(0)).cast("long").as("f_termfreq"),
        ifn.docfreq(term).cast("long").as("f_docfreq"),
        ifn.totaltermfreq(term).cast("long").as("f_ttf"),
        // floor(idf·1e6): double arithmetic is IEEE-identical on both
        // engines, floor-quantized so the gate compares longs
        floor(ifn.idf(term) * lit(1e6)).cast("long").as("f_idf_q"),
        ifn.numdocs.cast("long").as("f_numdocs"),
        ifn.sumtotaltermfreq.cast("long").as("f_sumttf"),
        col("dlq").cast("long").as("f_norm"))
      .orderBy("doc_id")
  }

  private def terms(qs: Seq[Query], what: String): Seq[String] = qs.map {
    case TermQ(t) => t
    case other => sys.error(s"unsupported $what clause on relational path: $other")
  }

  /** Scored top-k (rank, doc_id) of a parsed query on the relational
    * path — the Solr QParser → index-operation compilation (SURVEY.md
    * §3.C) and the one relational entry point for term, Boolean, dismax
    * and multi-term queries. Multi-term queries (prefix, wildcard, fuzzy,
    * term range) first rewrite against the term dictionary (the shared
    * `Rewriter`), then:
    *  - `MatchAllQ` and `TermSetQ`: constant score, url-rank order;
    *  - `DisMaxQ` of terms: max + tieBreak·(sum − max) per doc;
    *  - `TermQ` and `BoolQ`: see `boolTopK`.
    * Phrase, span and interval queries are doc lists (`phraseDocs`,
    * `spanNearDocs`, `intervalSourceDocs`); other shapes are answered
    * by the scorer path. */
  def forParsed(q: Query, k: Int = 10): DataFrame =
    Rewriter.rewrite(q, new IndexTermDict(idx)) match {
      case MatchAllQ => matchAllTopK(k)
      case TermSetQ(ts, _) => constDocsTopK(ts, k)
      case DisMaxQ(qs, tieBreak) =>
        rankTopK(
          scoredTf(terms(qs, "dismax")).groupBy("docId", "doc_id")
            .agg(max("score").as("mx"), sum("score").as("sm"))
            .withColumn("s", col("mx") + lit(tieBreak.toDouble) * (col("sm") - col("mx")))
            .select(col("docId"), col("doc_id"), col("s")), k)
      case t: TermQ => boolTopK(BoolQ(must = Seq(t)), k)
      case b: BoolQ => boolTopK(b, k)
      case other => sys.error(s"unsupported query on relational path: $other")
    }

  /** The warm reader's resident segments, when their doc columns answer
    * a call exactly: a warm InvertedIndex with no pending deletes (the
    * columns still hold tombstoned docs; the docs plan subtracts them). */
  private def residentSegments: Option[graft.index.ResidentSegments] = idx match {
    case inv: graft.index.InvertedIndex => inv.resident.filter(_ => !inv.hasDeletes)
    case _ => None
  }

  /** Constant-score top-k from the resident doc columns: the first `k`
    * docs in docId order on which `pred` (bound, with `args` in its
    * argument slots) holds, every doc when None — one narrow job (each
    * segment stops at its `k`th match) and a driver merge. None when the
    * call must take the docs plan: a cold reader or pending deletes. */
  private[search] def residentConstTopK(pred: Option[Expression], k: Int,
                                        args: Array[Double] = Array.emptyDoubleArray): Option[DataFrame] =
    residentSegments.map(segs => ResultFrames.rankedDocIds(session,
      SegmentDocs.firstMatching(segs, pred, args, k).map(_._2).toSeq))

  /** MatchAllDocsQuery analogue (`q=*:*`): every live doc, constant
    * score ⇒ rank = docId (url-rank) order
    * [U lucene/core/.../search/MatchAllDocsQuery.java]. A warm reader
    * without pending deletes reads the first `k` docs of each resident
    * segment (`residentConstTopK`); otherwise a docs plan. */
  def matchAllTopK(k: Int): DataFrame =
    residentConstTopK(None, k).getOrElse(
      constRankByDocId(docsWithId.select(col("docId"), col("doc_id")), k))

  /** Function-range query (`{!frange l=.. u=..}fn(...)`
    * [U solr/core/.../search/FunctionRangeQParserPlugin.java]): every
    * live doc whose function-query VALUE (any ValueSources Column over
    * the docs row) lies in [lo, hi]; constant score ⇒ rank = docId
    * (url-rank) order.
    *
    * A warm reader without pending deletes, whose function reads only
    * resident columns (`SegmentDocs.Schema`), answers from its resident
    * doc columns in one narrow job with no Dataset: the predicate is
    * bound once per (session, fn) with lo and hi as arguments (`inRange`)
    * and evaluated interpreted, because generated code inlines the
    * bounds and would compile again for every new range. Otherwise the
    * predicate filters a docs plan, and Catalyst pushes what it can into
    * the docs scan. */
  def frangeTopK(fn: Column, lo: Double, hi: Double, k: Int): DataFrame =
    RelationalPath.inRange(session, fn)
      .flatMap(pred => residentConstTopK(Some(pred), k, Array(lo, hi)))
      .getOrElse(constRankByDocId(
        docsWithId.filter(fn.cast("double").between(lo, hi)).select(col("docId"), col("doc_id")), k))

  /** Geo distance filter + sort-by-distance — the reference's spatial
    * filter/sort surface [U solr SpatialFilterQParser `{!geofilt}` +
    * `sort=geodist() asc`; lucene/core/.../document/LatLonPoint.java
    * #newDistanceQuery]: docs whose point (latSql, lonSql — any SQL
    * expressions over the docs row) lies within `dKm` of (lat, lon),
    * ranked by ascending haversine distance, docId (url-rank)
    * tie-break. The distance is the ValueSources `geodist` Column.
    *
    * A warm reader without pending deletes, whose point expressions read
    * only resident columns (`SegmentDocs.Schema`), answers from its
    * resident doc columns in one narrow job with no Dataset: each segment
    * keeps a bounded heap of its `k` nearest docs within `dKm`, and the
    * driver merges them. The distance is bound once per (latSql, lonSql)
    * with the centre as an argument (`geoDistance`) and evaluated
    * interpreted, because generated code inlines the centre and would
    * compile again for every new one.
    * Otherwise a docs plan filters by the ≤d predicate BEFORE the
    * bounded TakeOrderedAndProject. Ranks stamp on the driver. */
  def geoTopK(latSql: String, lonSql: String, lat: Double, lon: Double,
              dKm: Double, k: Int): DataFrame = {
    val resident = for {
      segs <- residentSegments
      d <- RelationalPath.geoDistance(session, latSql, lonSql)
    } yield SegmentDocs.smallest(segs, d, Array(lat, lon), dKm, k)
    val winners = resident.getOrElse(docsWithId
      .withColumn("__d", graft.functions.ValueSources.fn("geodist",
        expr(latSql), expr(lonSql), lit(lat), lit(lon)))
      .filter(col("__d") <= dKm)
      .orderBy(asc("__d"), asc("docId"))
      .limit(k)
      .select(col("docId").cast("long").as("docId"),
        col("doc_id").cast("long").as("doc_id"),
        col("__d").cast("double").as("d"))
      .as[(Long, Long, Double)].collect())
      .sortBy { case (docId, _, d) => (d, docId) }
    ResultFrames.rankedDocIds(session, winners.toSeq.map(_._2))
  }

  /** `{!bbox}` — LatLonPoint#newBoxQuery [U lucene/core/.../document/
    * LatLonPoint.java#newBoxQuery, solr SpatialFilterQParser]: pure
    * range predicates on lat/lon (crossing the dateline when
    * lonMin > lonMax, as the reference's boxes do) — when lat/lon are
    * stored columns the whole filter pushes into the parquet scan
    * (PushedFilters — a strictly better plan than the haversine
    * geofilt, which must evaluate trig per row). Constant score ⇒
    * url-rank order, like every constant-score path. */
  def bboxTopK(latSql: String, lonSql: String,
               latMin: Double, latMax: Double,
               lonMin: Double, lonMax: Double, k: Int): DataFrame =
    constRankByDocId(
      docsWithId.filter(graft.functions.Geo.bboxPred(
          expr(latSql), expr(lonSql), latMin, latMax, lonMin, lonMax))
        .select(col("docId"), col("doc_id")), k)

  /** Polygon containment — LatLonPoint#newPolygonQuery [U lucene/core/
    * .../document/LatLonPoint.java#newPolygonQuery; lucene/core/.../geo/
    * Polygon.java]: even-odd ray casting as a pure Column fold over the
    * polygon's edges (codegen — no UDF). Constant score ⇒ url-rank. */
  def polygonTopK(latSql: String, lonSql: String,
                  poly: Seq[(Double, Double)], k: Int): DataFrame =
    constRankByDocId(
      docsWithId.filter(graft.functions.Geo.pointInPolygon(
          expr(latSql), expr(lonSql), poly))
        .select(col("docId"), col("doc_id")), k)

  /** Cross-index join — `{!join fromIndex=A}q` [U lucene/join/.../
    * JoinUtil.java#createJoinQuery, solr JoinQParserPlugin]: hits of
    * `term` on THIS index, filtered to docs matching `fromTerm` on
    * `fromIdx`. Both indexes are built over the same corpus in the
    * same url order, so docIds line up and the join key is docId
    * itself — a semi join of two postings-derived frames, never a
    * stored-field comparison. Scores come from this (to-) index only,
    * as in the reference's ScoreMode.None. */
  def joinFromIndexTopK(fromIdx: graft.index.IndexView, fromTerm: String,
                        term: String, k: Int): DataFrame = {
    val p = scoredTf(Seq(term))
      .select(col("docId"), col("doc_id"), col("score").as("s"))
    rankTopK(p.join(new RelationalPath(fromIdx).docIdsOf(Seq(fromTerm)), Seq("docId"), "left_semi"), k)
  }

  /** Interval combinator query — maxgaps(g, ordered(bigTerms))
    * CONTAINING smallTerm [U lucene/queries/.../intervals/Intervals
    * #ordered/#maxgaps/#containing]: docs (ascending doc_id) where some
    * minimal ordered interval of `bigTerms` with ≤ `g` gap positions
    * contains an occurrence of `smallTerm`. Execution shape (serving
    * one-pass vs general two-phase): see positionVerifiedDocs; the
    * verifier is the SHARED Spans.orderedIntervals/maxgaps/containing
    * kernel. */
  def intervalContainingDocs(bigTerms: Seq[String], g: Int,
                             smallTerm: String): DataFrame = {
    val big = bigTerms
    val small = smallTerm
    val kBig = bigTerms.length
    positionVerifiedDocs((bigTerms :+ smallTerm).distinct, byTerm => {
      val iv = Spans.maxgaps(
        Spans.orderedIntervals(big.map(byTerm).toIndexedSeq), kBig, g)
      val sm = byTerm(small).map(p => (p, p))
      Spans.containing(iv, sm).nonEmpty
    })
  }

  /** Shared tail of the position-verified doc queries (span-near,
    * interval combinators, interval sources): docs (ascending doc_id)
    * where `required` terms are all present and the decoded per-term
    * position lists satisfy `verify`. Two execution shapes, chosen
    * from ONE read of the reader's delete state:
    *
    * - **Serving** (InvertedIndex, no deletes, url cache under its 2^20-
    *   doc cap): the matching docIds come from one narrow pass over the
    *   resident segments on a warm reader (every doc's postings live in
    *   its own segment, so each partition decodes and verifies its
    *   segment's docs — no shuffle), or from ONE groupByKey over the
    *   query terms' positions on a cold one (one shuffle, zero joins;
    *   the cap bounds the ungated shuffle: a ≤2^20-doc corpus' position
    *   payload fits the verify stage even for stop-word terms). The
    *   driver maps them to doc_id through the url cache and sorts them,
    *   as the scorer path and the edismax kernel do.
    * - **General two-phase** (the scale default): docId
    *   pre-intersection on `required` from the tf rows — with a hot
    *   term in the query the ANY-term candidate set would be the whole
    *   corpus, so the position payload of non-candidates must never
    *   reach the verify shuffle — then position decode + `verify` on
    *   the candidates only, then the docsWithId join for doc_id.
    *
    * `verify` sees exactly the terms present in the doc (NOT_*
    * reference terms of interval sources may be absent). */
  private def positionVerifiedDocs(allTerms: Seq[String],
      verify: scala.collection.mutable.HashMap[String, Array[Int]] => Boolean,
      requiredTerms: Seq[String] = Nil): DataFrame = {
    val all = allTerms.distinct
    val req = (if (requiredTerms.isEmpty) allTerms else requiredTerms).distinct
    val matches: scala.collection.mutable.HashMap[String, Array[Int]] => Boolean =
      byTerm => req.forall(byTerm.contains) && verify(byTerm)
    // the per-doc verify of the groupByKey plans below, over
    // (term, docId, pos) rows
    def verified(positions: DataFrame): Dataset[Long] =
      positions.select(col("docId").cast("long"), col("term"), col("pos"))
        .as[(Long, String, Seq[Int])]
        .groupByKey(_._1)
        .flatMapGroups { (docId, it) =>
          val byTerm = scala.collection.mutable.HashMap.empty[String, Array[Int]]
          it.foreach { case (_, t, p) => byTerm(t) = p.toArray }
          if (matches(byTerm)) Iterator.single(docId) else Iterator.empty
        }
    val hasDeletes = idx.hasDeletes
    val serving = idx match {
      case inv: graft.index.InvertedIndex if !hasDeletes =>
        inv.urlMap().map(u => (u, inv.resident))
      case _ => None
    }
    serving match {
      case Some((urls, resident)) =>
        val docIds = resident match {
          case Some(segs) =>
            segs.run { seg =>
              val byDoc = scala.collection.mutable.HashMap.empty[Long,
                scala.collection.mutable.HashMap[String, Array[Int]]]
              seg.postings.rows(all).foreach { r =>
                RelationalPath.postings(r).foreach { case (d, p, _) =>
                  byDoc.getOrElseUpdate(d, scala.collection.mutable.HashMap.empty)(r.term) = p
                }
              }
              byDoc.iterator.collect { case (d, byTerm) if matches(byTerm) => d }
            }
          case None =>
            verified(positionsTable(all)).collect()
        }
        ResultFrames.docIds(session,
          docIds.map(d => RelationalPath.docIdOfUrl(urls(d))).sorted.toSeq)
      case None =>
        val cands = tfTable(req).toDF("term", "docId", "tf")
          .groupBy("docId")
          .agg(countDistinct("term").as("nt"))
          .filter(col("nt") === req.length)
          .select("docId")
        verified(positionsTable(all).join(cands, "docId"))
          .toDF("docId")
          .join(liveDocsWithId(hasDeletes).select("docId", "doc_id"), "docId")
          .select("doc_id").orderBy("doc_id")
    }
  }

  /** Generic interval-source query — docs (ascending doc_id) where the
    * composed Intervals expression matches [U lucene/queries/.../
    * intervals/Intervals.java — nested sources compose freely].
    * Execution shape: see positionVerifiedDocs — only the source's
    * REQUIRED terms gate candidacy (NOT_* reference terms excluded:
    * their absence must not drop candidates); the verifier is the
    * shared Spans.ISource kernel. */
  def intervalSourceDocs(src: Spans.ISource): DataFrame = {
    val required = src.requiredTerms.distinct
    require(required.nonEmpty, s"interval source has no required terms: $src")
    val s = src
    positionVerifiedDocs(src.allTerms.distinct,
      byTerm => s.eval(byTerm).nonEmpty, requiredTerms = required)
  }

  /** Decoded per-(term, doc) position lists for `terms` — the shared
    * position source of the general position-verified plans and
    * phraseDocs (one place knows the block/position format). */
  private[search] def positionsTable(terms: Seq[String]): DataFrame =
    idx.postingsOf(terms)
      .flatMap(r => RelationalPath.postings(r).map { case (d, p, _) => (r.term, d, p) })
      .toDF("term", "docId", "pos")

  /** Span-near matching docs (ascending doc_id)
    * [U lucene/core/.../search/spans/SpanNearQuery.java]. Execution
    * shape (serving one-pass vs general two-phase): see
    * positionVerifiedDocs; the verifier is the SHARED Spans.spanFreq
    * semantics on a typed Dataset (flatMapGroups — no opaque UDF
    * filter). */
  def spanNearDocs(terms: Seq[String], slop: Int, inOrder: Boolean): DataFrame = {
    val qTerms = terms
    positionVerifiedDocs(terms.distinct,
      byTerm => Spans.spanFreq(qTerms.map(byTerm).toIndexedSeq, slop, inOrder) > 0)
  }

  /** Exact-phrase matching docs (ascending doc_id), two-phase:
    * conjunction candidates (a k-way docId join of the terms' position
    * lists, p0..p_{k-1}), then position verification. */
  def phraseDocs(terms: Seq[String]): DataFrame = {
    val hits = positionsTable(terms)
    terms.zipWithIndex.tail.foldLeft(
      hits.filter(col("term") === terms.head).select(col("docId"), col("pos").as("p0"))) {
      case (acc, (t, i)) =>
        acc.join(hits.filter(col("term") === t).select(col("docId"), col("pos").as(s"p$i")), "docId")
    }
      .withColumn("ph",
        exists(col("p0"), p =>
          terms.indices.tail.map(i => array_contains(col(s"p$i"), p + i))
            .foldLeft(lit(true))(_ && _)))
      .filter(col("ph"))
      .join(docsWithId.select("docId", "doc_id"), "docId")
      .select("doc_id").orderBy("doc_id")
  }
}
