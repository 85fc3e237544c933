package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.InvertedIndex
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
  */
object RelationalPath {
  /** (docId, positions) of every posting in a row, in docId order — the
    * one place that decodes the block/position format for the position
    * readers. */
  def positions(r: graft.model.PostingsRow): Iterator[(Long, Array[Int])] =
    r.blocks.iterator.flatMap { b =>
      val docs = PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
      val pos = VarInt.decodePositions(b.positions, PFor.decodeInts(b.tfs, b.count))
      docs.indices.iterator.map(i => (docs(i), pos(i)))
    }

  /** The corpus doc_id a url ends in (the relational output key). */
  def docIdOfUrl(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  /** Attribute predicate (AttrQ / AttrRangeQ) → boolean Column over the
    * docs table, typed from its schema (timestamp values parse,
    * numerics cast) — shared by the scorer path's bitset build and the
    * relational executor; Catalyst pushes the comparison into the
    * parquet scan. */
  def attrPredColumn(schema: org.apache.spark.sql.types.StructType,
                     p: Query): Column = {
    import org.apache.spark.sql.types._
    def litFor(name: String, v: String): Column = schema(name).dataType match {
      case TimestampType => to_timestamp(lit(v))
      case dt: NumericType => lit(v).cast(dt)
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
    val base = idx.docs.withColumn("doc_id",
      element_at(split(col("url"), "/"), -1).cast("long"))
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
    winners.toSeq.zipWithIndex
      .map { case ((_, id, _), i) => (i + 1, id) }
      .toDF("rank", "doc_id")
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
    winners.toSeq.zipWithIndex
      .map { case ((_, id), i) => (i + 1, id) }
      .toDF("rank", "doc_id")
  }

  /** Single-term top-k: (rank, doc_id). */
  def termTopK(term: String, k: Int): DataFrame =
    rankTopK(scoredTf(Seq(term))
      .select(col("docId"), col("doc_id"), col("score").as("s")), k)

  /** Conjunction (all terms required, scores summed). */
  def andTopK(terms: Seq[String], k: Int): DataFrame =
    rankTopK(
      scoredTf(terms).groupBy("docId", "doc_id")
        .agg(sum("score").as("s"), count(lit(1)).as("c"))
        .filter(col("c") === terms.length)
        .select(col("docId"), col("doc_id"), col("s")), k)

  /** Disjunction with minimumShouldMatch. */
  def orTopK(terms: Seq[String], mm: Int, k: Int): DataFrame =
    rankTopK(
      scoredTf(terms).groupBy("docId", "doc_id")
        .agg(sum("score").as("s"), count(lit(1)).as("c"))
        .filter(col("c") >= mm)
        .select(col("docId"), col("doc_id"), col("s")), k)

  /** MUST + MUST_NOT — anti join on docId. */
  def notTopK(pos: String, neg: String, k: Int): DataFrame = {
    val p = scoredTf(Seq(pos)).select(col("docId"), col("doc_id"), col("score").as("s"))
    val n = scoredTf(Seq(neg)).select(col("docId"))
    rankTopK(p.join(n, Seq("docId"), "left_anti"), k)
  }

  /** Scored term + non-scoring attribute filter (semi join). */
  def filterTopK(term: String, lang: String, k: Int): DataFrame = {
    val p = scoredTf(Seq(term)).select(col("docId"), col("doc_id"), col("score").as("s"))
    val f = idx.docs.filter(col("lang") === lang).select("docId")
    rankTopK(p.join(f, Seq("docId"), "left_semi"), k)
  }

  /** Constant-score set membership (TermInSetQuery / multi-term rewrite
    * target): all docs containing ANY of the terms; constant score ⇒
    * rank = docId (url-rank) order. */
  def constDocsTopK(terms: Seq[String], k: Int): DataFrame =
    if (terms.isEmpty)
      idx.spark.emptyDataFrame
        .withColumn("rank", lit(0)).withColumn("doc_id", lit(0L))
        .select("rank", "doc_id").limit(0)
    else {
      constRankByDocId(
        tfTable(terms).toDF("term", "docId", "tf")
          .select("docId").distinct()
          .join(docsWithId.select(col("docId"), col("doc_id")), "docId"), k)
    }

  /** Prefix / range / fuzzy top-k — term-dictionary expansion (a
    * pushdown-pruned termstats scan) then constant-score set. */
  def prefixTopK(p: String, k: Int): DataFrame =
    constDocsTopK(new IndexTermDict(idx).prefix(p), k)
  def rangeTopK(lo: String, hi: String, k: Int): DataFrame =
    constDocsTopK(new IndexTermDict(idx)
      .range(Some(lo), Some(hi), il = true, ih = true), k)
  def fuzzyTopK(t: String, maxEdits: Int, k: Int): DataFrame =
    constDocsTopK(new IndexTermDict(idx).fuzzy(t, maxEdits), k)

  /** DisjunctionMax: max + tieBreak·(sum − max) per doc. */
  def dismaxTopK(terms: Seq[String], tieBreak: Double, k: Int): DataFrame =
    rankTopK(
      scoredTf(terms).groupBy("docId", "doc_id")
        .agg(max("score").as("mx"), sum("score").as("sm"))
        .withColumn("s", col("mx") + lit(tieBreak) * (col("sm") - col("mx")))
        .select(col("docId"), col("doc_id"), col("s")), k)

  /** Boosted disjunction: Σ boost(term)·score. */
  def boostedOrTopK(termBoosts: Seq[(String, Double)], k: Int): DataFrame = {
    val terms = termBoosts.map(_._1)
    val boostCol = termBoosts.tail.foldLeft(
      when(col("term") === termBoosts.head._1, lit(termBoosts.head._2))) {
      case (acc, (t, b)) => acc.when(col("term") === t, lit(b))
    }.otherwise(lit(1.0))
    rankTopK(
      scoredTf(terms)
        .withColumn("ws", col("score") * boostCol)
        .groupBy("docId", "doc_id")
        .agg(sum("ws").as("s"))
        .select(col("docId"), col("doc_id"), col("s")), k)
  }

  /** Deep paging: ranks [lo, hi] of a term query (searchAfter) — top-hi
    * via TakeOrderedAndProject first, then driver rank/slice of the
    * ≤hi collected rows. */
  def termPage(term: String, lo: Int, hi: Int): DataFrame = {
    val top = scoredTf(Seq(term))
      .select(col("docId").cast("long").as("docId"),
        col("doc_id").cast("long").as("doc_id"),
        col("score").cast("double").as("s"))
      .orderBy(desc("s"), asc("docId"))
      .limit(hi)
      .as[(Long, Long, Double)].collect()
      .sortBy { case (d, _, s) => (-s, d) }
    top.toSeq.zipWithIndex
      .collect { case ((_, id, _), i) if i + 1 >= lo => (i + 1, id) }
      .toDF("rank", "doc_id")
  }

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
    * scored MUST/SHOULD term clauses with minimumShouldMatch, an
    * optional non-scoring docs-attribute predicate, MUST_NOT terms.
    * Generalizes andTopK/orTopK/notTopK/filterTopK into one plan. */
  def boolTopK(must: Seq[String], should: Seq[String],
               mustNot: Seq[String] = Nil,
               attrFilter: Option[Column] = None,
               mm: Int = 0, k: Int = 10): DataFrame = {
    val mustD = must.distinct
    val shouldD = should.distinct.filterNot(mustD.contains)
    val scoredTerms = mustD ++ shouldD
    if (scoredTerms.isEmpty) {
      // attr-only boolean (no scored term clauses): constant score ⇒
      // rank = docId (url-rank) order, mustNot terms anti-joined — the
      // scorer path answers the same shape via PredQ bitsets
      attrFilter match {
        case None =>
          return idx.spark.emptyDataFrame
            .withColumn("rank", lit(0)).withColumn("doc_id", lit(0L))
            .select("rank", "doc_id").limit(0)
        case Some(pred) =>
          var out = docsWithId.filter(pred).select(col("docId"), col("doc_id"))
          if (mustNot.nonEmpty)
            out = out.join(
              tfTable(mustNot.distinct).toDF("term", "docId", "tf")
                .select("docId").distinct(),
              Seq("docId"), "left_anti")
          return constRankByDocId(out, k)
      }
    }
    // Lucene occur semantics (BoolScorer / Boolean2ScorerSupplier):
    // mm defaults to 1 only when there is NO required clause at all —
    // an attr FILTER counts as required, so "+lang:en spark" keeps
    // mm=0 and attr-matching docs surface with score 0 when no SHOULD
    // term matches (identical to the scorer path's required anchor).
    val hasRequired = mustD.nonEmpty || attrFilter.isDefined
    val effMm = if (hasRequired) mm else math.max(mm, 1)
    rankTopK(boolPerDoc(mustD, shouldD, mustNot, attrFilter, effMm), k)
  }

  /** The LAZY scored per-doc frame of the general Boolean query (the
    * plan rankTopK bounds and collects) — exposed for PlanSpec. */
  private[search] def boolPerDoc(mustD: Seq[String], shouldD: Seq[String],
                                 mustNot: Seq[String],
                                 attrFilter: Option[Column],
                                 effMm: Int): DataFrame = {
    val scoredTerms = mustD ++ shouldD
    val scored = scoredTf(scoredTerms)
      .withColumn("isMust", col("term").isin(mustD: _*))
      .groupBy("docId", "doc_id")
      .agg(sum("score").as("s"),
        sum(when(col("isMust"), 1).otherwise(0)).as("nMust"),
        sum(when(!col("isMust"), 1).otherwise(0)).as("nShould"))
      .filter(col("nMust") === mustD.length)
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
    if (mustNot.nonEmpty)
      out = out.join(
        tfTable(mustNot.distinct).toDF("term", "docId", "tf")
          .select("docId").distinct(),
        Seq("docId"), "left_anti")
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

  /** Execute a parsed query string on the relational path (the Solr
    * QParser → index-operation compilation, SURVEY.md §3.C). Supports
    * the Boolean/term/attr subset; everything else (phrases, multi-term
    * rewrites) has dedicated methods / the scorer path. */
  def forParsed(q: Query, k: Int = 10): DataFrame = {
    def terms(qs: Seq[Query], what: String): Seq[String] = qs.map {
      case TermQ(t) => t
      case other => sys.error(s"unsupported $what clause on relational path: $other")
    }
    q match {
      case TermQ(t) => termTopK(t, k)
      case MatchAllQ => matchAllTopK(k)
      case b: BoolQ =>
        def isAttr(x: Query) = x match {
          case _: AttrQ | _: AttrRangeQ => true
          case _ => false
        }
        val (attrMust, restMust) = b.must.partition(isAttr)
        val (attrFilt, restFilt) = b.filter.partition(isAttr)
        val termFilt = terms(restFilt, "filter") // non-scoring term filters
        val attrPred = (attrMust ++ attrFilt)
          .map(RelationalPath.attrPredColumn(idx.docs.schema, _))
          .reduceOption(_ && _)
        var df = boolTopK(terms(restMust, "must"), terms(b.should, "should"),
          terms(b.mustNot, "mustNot"), attrPred, b.minShouldMatch, k)
        require(termFilt.isEmpty,
          "term FILTER clauses not supported on the relational path (use must)")
        df
      case other => sys.error(s"unsupported query on relational path: $other")
    }
  }

  /** MatchAllDocsQuery analogue (`q=*:*`): every live doc, constant
    * score ⇒ rank = docId (url-rank) order
    * [U lucene/core/.../search/MatchAllDocsQuery.java]. */
  def matchAllTopK(k: Int): DataFrame =
    constRankByDocId(docsWithId.select(col("docId"), col("doc_id")), k)

  /** Function-range query (`{!frange l=.. u=..}fn(...)`
    * [U solr/core/.../search/FunctionRangeQParserPlugin.java]): every
    * live doc whose function-query VALUE (any ValueSources Column over
    * the docs row) lies in [lo, hi]; constant score ⇒ rank = docId
    * (url-rank) order. The function filter is a pure Column predicate —
    * Catalyst pushes what it can into the docs scan. */
  def frangeTopK(fn: Column, lo: Double, hi: Double, k: Int): DataFrame =
    constRankByDocId(
      docsWithId.filter(fn.cast("double").between(lo, hi))
        .select(col("docId"), col("doc_id")), k)

  /** Geo distance filter + sort-by-distance — the reference's spatial
    * filter/sort surface [U solr SpatialFilterQParser `{!geofilt}` +
    * `sort=geodist() asc`; lucene/core/.../document/LatLonPoint.java
    * #newDistanceQuery]: docs whose point (latSql, lonSql — any SQL
    * expressions over the docs row) lies within `dKm` of (lat, lon),
    * ranked by ascending haversine distance, docId (url-rank)
    * tie-break. The distance is the ValueSources `geodist` Column
    * (pure codegen trig) and the ≤d predicate filters BEFORE the
    * bounded TakeOrderedAndProject; ranks stamp on the driver. */
  def geoTopK(latSql: String, lonSql: String, lat: Double, lon: Double,
              dKm: Double, k: Int): DataFrame = {
    val dist = graft.functions.ValueSources.fn("geodist",
      expr(latSql), expr(lonSql), lit(lat), lit(lon))
    val winners = docsWithId
      .withColumn("__d", dist)
      .filter(col("__d") <= dKm)
      .orderBy(asc("__d"), asc("docId"))
      .limit(k)
      .select(col("docId").cast("long").as("docId"),
        col("doc_id").cast("long").as("doc_id"),
        col("__d").cast("double").as("d"))
      .as[(Long, Long, Double)].collect()
      .sortBy { case (docId, _, d) => (d, docId) }
    winners.toSeq.zipWithIndex
      .map { case ((_, id, _), i) => (i + 1, id) }
      .toDF("rank", "doc_id")
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
    val f = new RelationalPath(fromIdx).tfTable(Seq(fromTerm))
      .toDF("term", "docId", "tf").select("docId").distinct()
    rankTopK(p.join(f, Seq("docId"), "left_semi"), k)
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
    * position lists satisfy `verify`. Three execution shapes, chosen
    * from ONE read of the reader's delete state:
    *
    * - **Warm resident** (warm InvertedIndex, no deletes, urls cache
    *   under its 2^20-doc cap): one narrow pass over the resident
    *   segments — every doc's postings live in its own segment, so each
    *   partition decodes and verifies its segment's docs and maps them
    *   to doc_id through the urls broadcast; the driver sorts the
    *   matching doc_ids. No shuffle, no join.
    * - **Serving one-pass** (cold InvertedIndex, no deletes, urls cache
    *   under its cap): ONE groupByKey over the query terms' positions
    *   with the required-presence gate folded into the verifier and
    *   doc_id recovered from the urls broadcast inside the same pass —
    *   one shuffle, zero joins. The cap bounds the ungated shuffle: a
    *   ≤2^20-doc corpus' position payload fits the verify stage even
    *   for stop-word terms.
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
    val hasDeletes = idx.hasDeletes
    val serving = idx match {
      case inv: graft.index.InvertedIndex if !hasDeletes =>
        inv.urlBroadcast().map(u => (u, inv.residentPostings))
      case _ => None
    }
    serving match {
      case Some((urlsB, Some(segs))) =>
        segs.mapPartitions(_.flatMap { seg =>
          val byDoc = scala.collection.mutable.HashMap.empty[Long,
            scala.collection.mutable.HashMap[String, Array[Int]]]
          seg.rows(all).foreach { r =>
            RelationalPath.positions(r).foreach { case (d, p) =>
              byDoc.getOrElseUpdate(d, scala.collection.mutable.HashMap.empty)(r.term) = p
            }
          }
          byDoc.iterator.collect {
            case (d, byTerm) if req.forall(byTerm.contains) && verify(byTerm) =>
              RelationalPath.docIdOfUrl(urlsB.value(d))
          }
        }).collect().sorted.toSeq.toDF("doc_id")
      case Some((urlsB, None)) =>
        positionsTable(all)
          .select(col("docId").cast("long"), col("term"), col("pos"))
          .as[(Long, String, Seq[Int])]
          .groupByKey(_._1)
          .flatMapGroups { (docId, it) =>
            val byTerm = scala.collection.mutable.HashMap.empty[String, Array[Int]]
            it.foreach { case (_, t, p) => byTerm(t) = p.toArray }
            if (req.forall(byTerm.contains) && verify(byTerm))
              Iterator.single(RelationalPath.docIdOfUrl(urlsB.value(docId)))
            else Iterator.empty
          }
          .toDF("doc_id").orderBy("doc_id")
      case None =>
        val cands = tfTable(req).toDF("term", "docId", "tf")
          .groupBy("docId")
          .agg(countDistinct("term").as("nt"))
          .filter(col("nt") === req.length)
          .select("docId")
        positionsTable(all).join(cands, "docId")
          .select(col("docId").cast("long"), col("term"), col("pos"))
          .as[(Long, String, Seq[Int])]
          .groupByKey(_._1)
          .flatMapGroups { (docId, it) =>
            val byTerm = scala.collection.mutable.HashMap.empty[String, Array[Int]]
            it.foreach { case (_, t, p) => byTerm(t) = p.toArray }
            if (req.forall(byTerm.contains) && verify(byTerm))
              Iterator.single(docId)
            else Iterator.empty
          }
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

  /** Scored term + non-scoring timestamp-range filter — the
    * PointRangeQuery / BKD analogue over the docs table
    * [U lucene/core/.../search/PointRangeQuery.java]; the range
    * comparison is pushed into the docs parquet scan. */
  def tsRangeTopK(term: String, loTs: String, hiTs: String, k: Int): DataFrame = {
    val p = scoredTf(Seq(term)).select(col("docId"), col("doc_id"), col("score").as("s"))
    val f = idx.docs
      .filter(col("ts") >= to_timestamp(lit(loTs)) &&
        col("ts") <= to_timestamp(lit(hiTs)))
      .select("docId")
    rankTopK(p.join(f, Seq("docId"), "left_semi"), k)
  }

  /** Decoded per-(term, doc) position lists for `terms` — the shared
    * position source of spanNearDocs / phraseDocs / phraseScores (one
    * place knows the block/position format). */
  private[search] def positionsTable(terms: Seq[String]): DataFrame =
    idx.postingsOf(terms)
      .flatMap(r => RelationalPath.positions(r).map { case (d, p) => (r.term, d, p) })
      .toDF("term", "docId", "pos")

  /** Bounded driver lookup of the terms' document frequencies (the
    * same shape as the Searcher's broadcast term stats). */
  private[search] def termDfs(terms: Seq[String]): Map[String, Long] =
    idx.termStats.filter(col("term").isin(terms.distinct: _*))
      .select(col("term"), col("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

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
    * conjunction candidates, then position verification. */
  def phraseDocs(terms: Seq[String]): DataFrame =
    phraseJoined(positionsTable(terms), terms)
      .withColumn("ph",
        exists(col("p0"), p =>
          terms.indices.tail.map(i => array_contains(col(s"p$i"), p + i))
            .foldLeft(lit(true))(_ && _)))
      .filter(col("ph"))
      .join(docsWithId.select("docId", "doc_id"), "docId")
      .select("doc_id").orderBy("doc_id")

  /** k-way docId position join: (docId, p0..p_{k-1}) for docs holding
    * every phrase term — shared by phraseDocs (existence) and
    * phraseScores (frequency). */
  private def phraseJoined(hits: DataFrame, terms: Seq[String]): DataFrame =
    terms.zipWithIndex.tail.foldLeft(
      hits.filter(col("term") === terms.head)
        .select(col("docId"), col("pos").as("p0"))) {
      case (acc, (t, i)) =>
        acc.join(hits.filter(col("term") === t)
          .select(col("docId"), col("pos").as(s"p$i")), "docId")
    }

  /** BM25-scored exact phrase (PhraseQuery scoring [U lucene/core/
    * .../search/PhraseQuery.java]: idf = Σ constituent-term idfs in
    * phrase order WITH multiplicity, tf = phrase frequency) — the
    * scoring twin of `phraseDocs`, used by edismax `pf` boosts.
    * Output: (docId, doc_id, ps) for docs where the phrase occurs.
    * The term-df lookup is a bounded driver collect (≤ |phrase| rows,
    * the same shape as the Searcher's broadcast term stats). */
  def phraseScores(terms: Seq[String]): DataFrame =
    phraseScoresFrom(positionsTable(terms), termDfs(terms), terms)

  /** Exact phrase frequencies for MANY grams in ONE distributed pass —
    * the edismax pf/pf2/pf3 batch kernel. ONE shuffle of the decoded
    * positions of all gram terms, grouped by doc; every gram's phrase
    * tf is counted inside the group, so plan depth (and shuffle count)
    * is CONSTANT in the gram count — replacing the one k-way position
    * self-join per gram that made pf2 latency linear in the bigram
    * count. Mirrors how the reference evaluates all pf/pf2/pf3
    * PhraseQueries in one pass over the shared per-segment term
    * positions [U solr/core/.../search/ExtendedDismaxQParser.java
    * addShingledPhraseQueries; lucene ExactPhraseMatcher].
    *
    * Output: (docId, ptfs: Map[gramIdx → phrase tf], dlq) — live docs
    * with at least one matching gram only; a gram with ptf 0 has no
    * map entry. The per-gram count is integer-exact identical to
    * `phraseScoresFrom`'s array_contains fold. */
  private[search] def phraseFreqs(grams: IndexedSeq[Seq[String]]): DataFrame = {
    require(grams.nonEmpty && grams.forall(_.length >= 2),
      "phraseFreqs needs grams of length >= 2")
    val allTerms = grams.flatten.distinct
    val gramArr: Array[Array[String]] = grams.map(_.toArray).toArray
    val freqs = positionsTable(allTerms)
      .select(col("docId").cast("long"), col("term"), col("pos"))
      .as[(Long, String, Seq[Int])]
      .groupByKey(_._1)
      .flatMapGroups { (docId, it) =>
        val posOf = scala.collection.mutable.HashMap.empty[String, Array[Int]]
        it.foreach { case (_, t, ps) => posOf(t) = ps.toArray }
        val setOf = posOf.map { case (t, ps) =>
          val s = new java.util.HashSet[Integer](ps.length * 2)
          ps.foreach(p => s.add(p))
          t -> s
        }
        val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
        var g = 0
        while (g < gramArr.length) {
          val gram = gramArr(g)
          var ok = true
          var i = 0
          while (ok && i < gram.length) { ok = posOf.contains(gram(i)); i += 1 }
          if (ok) {
            val first = posOf(gram(0))
            var ptf = 0
            var j = 0
            while (j < first.length) {
              val p = first(j)
              var m = 1
              var good = true
              while (good && m < gram.length) {
                good = setOf(gram(m)).contains(p + m)
                m += 1
              }
              if (good) ptf += 1
              j += 1
            }
            if (ptf > 0) hits += ((g, ptf.toDouble))
          }
          g += 1
        }
        if (hits.isEmpty) Iterator.empty
        else Iterator.single((docId, hits.toMap))
      }
      .toDF("docId", "ptfs")
    // live-docs + dlq in one inner join (the same role as
    // phraseScoresFrom's docsWithId join: tombstoned docs contribute 0)
    freqs.join(docsWithId.select(col("docId"), col("dlq")), "docId")
  }

  /** The double-precision BM25 kernel constants exposed for callers
    * that re-state the phrase score as a Column (edismax batch boosts):
    * avgdl as the double the in-class formulas use. */
  private[search] def avgdlDouble: Double = avgdlD

  /** phraseScores over a PRE-BUILT position table + df lookup, so a
    * caller boosting many grams of the same token set (edismax
    * pf/pf2/pf3) pays ONE dictionary collect and shares one decode
    * definition instead of one per gram. */
  private[search] def phraseScoresFrom(hits: DataFrame,
                                       dfOf: Map[String, Long],
                                       terms: Seq[String]): DataFrame = {
    require(terms.length >= 2, "a phrase needs at least two terms")
    val none = docsWithId.select(col("docId"), col("doc_id"))
      .limit(0).withColumn("ps", lit(0.0))
    if (terms.exists(t => !dfOf.contains(t))) return none
    val n = idx.stats.docCount
    var sumIdf = 0.0 // phrase-order fold, like the scorer path
    terms.foreach(t =>
      sumIdf += math.log(1.0 + (n - dfOf(t) + 0.5) / (dfOf(t) + 0.5)))
    phraseJoined(hits, terms)
      .withColumn("ptf", size(filter(col("p0"), p =>
        terms.indices.tail.map(i => array_contains(col(s"p$i"), p + i))
          .foldLeft(lit(true))(_ && _))).cast("double"))
      .filter(col("ptf") > 0)
      .join(docsWithId.select(col("docId"), col("dlq"), col("doc_id")), "docId")
      .withColumn("ps",
        lit(sumIdf) * (col("ptf") /
          (col("ptf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dlq").cast("double") / lit(avgdlD)))))
      .select(col("docId"), col("doc_id"), col("ps"))
  }
}
