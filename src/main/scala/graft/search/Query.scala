package graft.search

/** Programmatic query AST — the engine-side analogue of the reference's
  * `Query` tree [U lucene/core/src/java/org/apache/lucene/search/].
  * Scoring semantics follow BooleanQuery: score = Σ MUST scores +
  * Σ matching SHOULD scores; FILTER and MUST_NOT never score
  * [U …/search/BooleanQuery.java, BooleanWeight.java]. */
sealed trait Query extends Serializable

/** Exact-term match, BM25-scored [U …/search/TermQuery.java]. */
final case class TermQ(term: String) extends Query

/** Exact phrase (slop=0): tokens adjacent in order; freq = number of
  * phrase occurrences; weight = Σ constituent idfs
  * [U …/search/PhraseQuery.java, ExactPhraseMatcher.java]. */
final case class PhraseQ(terms: Seq[String], slop: Int = 0) extends Query

/** Span-near proximity: all terms within a window of `slop` extra
  * positions; `inOrder` additionally requires clause order
  * [U lucene/core/.../search/spans/SpanNearQuery.java,
  * lucene/queries/.../intervals/]. Scored like a phrase: weight = Σ
  * constituent idfs, freq = Spans.spanFreq (engine-pinned semantics
  * shared with the SpecOracle). */
final case class SpanNearQ(terms: Seq[String], slop: Int,
                           inOrder: Boolean = true) extends Query

/** Doc-attribute equality (e.g. lang = "en") — non-scoring, usable in
  * FILTER/MUST_NOT context; evaluated against the docs table (the
  * docvalues analogue). Any docs-table column (lang, url, ts, dl …). */
final case class AttrQ(name: String, value: String) extends Query

/** Doc-attribute range (numeric / timestamp / lexicographic, typed from
  * the docs schema) — the PointRangeQuery / BKD analogue
  * [U lucene/core/.../search/PointRangeQuery.java]; None = open end. */
final case class AttrRangeQ(name: String,
                            lo: Option[String], hi: Option[String],
                            includeLo: Boolean = true,
                            includeHi: Boolean = true) extends Query

/** Geo distance predicate — `{!geofilt sfield=... pt=lat,lon d=km}`
  * [U solr/core/.../search/SpatialFilterQParser.java;
  * lucene/core/.../document/LatLonPoint.java#newDistanceQuery]:
  * non-scoring, docs whose point lies within `dKm` of (lat, lon).
  * `latSql`/`lonSql` are SQL expressions over the docs row (the
  * sfield's docvalues analogue); the haversine compare is the
  * ValueSources `geodist` Column — pushdown-friendly pure trig. */
final case class GeoFiltQ(latSql: String, lonSql: String,
                          lat: Double, lon: Double, dKm: Double) extends Query

/** Every live doc, constant score 1 — Solr's default `q=*:*`
  * [U lucene/core/.../search/MatchAllDocsQuery.java]. */
case object MatchAllQ extends Query

/** No docs [U …/search/MatchNoDocsQuery.java]. */
case object MatchNoneQ extends Query

/** INTERNAL: an attribute predicate resolved to its index in the
  * per-query predicate list (driver rewrites AttrQ/AttrRangeQ to PredQ
  * before broadcast; executors look the bitset up by index). */
private[search] final case class PredQ(idx: Int) extends Query

/** Non-scoring membership in an explicit (small, sorted) docId set —
  * the candidate filter of two-pass reranking; ships inside the
  * broadcast query so the restriction evaluates executor-side. */
private[search] final case class DocIdSetQ(ids: Seq[Long]) extends Query

/** Constant-score set membership: doc contains ANY of the terms; score
  * is constant (the SQL `IN` — [U …/search/TermInSetQuery.java], and the
  * target of MultiTermQuery CONSTANT_SCORE rewrites). */
final case class TermSetQ(terms: Seq[String], score: Float = 1f) extends Query

/** Prefix match over the term dictionary
  * [U …/search/PrefixQuery.java]; rewritten to TermSetQ. */
final case class PrefixQ(prefix: String) extends Query

/** Glob wildcard (`*`, `?`) over the term dictionary
  * [U …/search/WildcardQuery.java]; rewritten to TermSetQ. */
final case class WildcardQ(pattern: String) extends Query

/** Terms within `maxEdits` Levenshtein distance
  * [U …/search/FuzzyQuery.java]; rewritten to TermSetQ. */
final case class FuzzyQ(term: String, maxEdits: Int = 2) extends Query

/** Lexicographic term range [U …/search/TermRangeQuery.java];
  * None = open end (the parser's `*`); rewritten to TermSetQ. */
final case class TermRangeQ(lo: Option[String], hi: Option[String],
                            includeLo: Boolean = true,
                            includeHi: Boolean = true) extends Query

object TermRangeQ {
  /** Closed-range convenience constructor. */
  def apply(lo: String, hi: String): TermRangeQ =
    TermRangeQ(Some(lo), Some(hi), includeLo = true, includeHi = true)
  def apply(lo: String, hi: String, il: Boolean, ih: Boolean): TermRangeQ =
    TermRangeQ(Some(lo), Some(hi), il, ih)
}

/** Score multiplier [U …/search/BoostQuery.java]. Engine semantics:
  * score = boost · inner score (one float multiply on the final inner
  * score — pinned; the reference folds boost into the weight, which
  * differs only in float rounding). */
final case class BoostQ(q: Query, boost: Float) extends Query

/** Fixed score for any matching doc [U …/search/ConstantScoreQuery.java]. */
final case class ConstScoreQ(q: Query, score: Float = 1f) extends Query

/** Max-of-clauses + tieBreak·(sum of the rest)
  * [U …/search/DisjunctionMaxQuery.java]. */
final case class DisMaxQ(qs: Seq[Query], tieBreak: Float = 0f) extends Query

/** Boolean combination [U …/search/BooleanQuery.java].
  * `minShouldMatch` constrains SHOULD clauses (Lucene semantics: applies
  * when should clauses are present; defaults to 1 when there are no
  * MUST/FILTER clauses, else 0). */
final case class BoolQ(
    must: Seq[Query] = Nil,
    should: Seq[Query] = Nil,
    mustNot: Seq[Query] = Nil,
    filter: Seq[Query] = Nil,
    minShouldMatch: Int = 0) extends Query

object Query {
  /** All postings terms a query touches (for stats lookup + scan prune).
    * Multi-term queries must be `rewrite`n first. */
  def collectTerms(q: Query): Seq[String] = q match {
    case TermQ(t) => Seq(t)
    case PhraseQ(ts, _) => ts
    case SpanNearQ(ts, _, _) => ts
    case TermSetQ(ts, _) => ts
    case AttrQ(_, _) | AttrRangeQ(_, _, _, _, _) | GeoFiltQ(_, _, _, _, _)
         | MatchAllQ | MatchNoneQ | PredQ(_) | DocIdSetQ(_) => Nil
    case BoostQ(inner, _) => collectTerms(inner)
    case ConstScoreQ(inner, _) => collectTerms(inner)
    case DisMaxQ(qs, _) => qs.flatMap(collectTerms).distinct
    case _: PrefixQ | _: WildcardQ | _: FuzzyQ | _: TermRangeQ =>
      sys.error(s"multi-term query not rewritten: $q — call Rewriter.rewrite first")
    case b: BoolQ =>
      (b.must ++ b.should ++ b.mustNot ++ b.filter).flatMap(collectTerms).distinct
  }

  /** Does evaluation need the docs table (attribute filters / match-all)? */
  def needsDocs(q: Query): Boolean = q match {
    case AttrQ(_, _) | AttrRangeQ(_, _, _, _, _) | GeoFiltQ(_, _, _, _, _)
         | MatchAllQ | PredQ(_) => true
    case BoostQ(inner, _) => needsDocs(inner)
    case ConstScoreQ(inner, _) => needsDocs(inner)
    case DisMaxQ(qs, _) => qs.exists(needsDocs)
    case b: BoolQ =>
      (b.must ++ b.should ++ b.mustNot ++ b.filter).exists(needsDocs)
    case _ => false
  }

  /** Distinct attribute predicates in the query, in first-seen order —
    * each becomes one boolean column of the docs scan / one per-segment
    * bitset (the docvalues-filter analogue). */
  def attrPreds(q: Query): Seq[Query] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Query]
    def walk(x: Query): Unit = x match {
      case a: AttrQ => out += a
      case a: AttrRangeQ => out += a
      case a: GeoFiltQ => out += a
      case BoostQ(inner, _) => walk(inner)
      case ConstScoreQ(inner, _) => walk(inner)
      case DisMaxQ(qs, _) => qs.foreach(walk)
      case b: BoolQ =>
        (b.must ++ b.should ++ b.mustNot ++ b.filter).foreach(walk)
      case _ => ()
    }
    walk(q)
    out.toSeq
  }

  /** Does the query contain MatchAllQ (forces full docs-row delivery)? */
  def containsMatchAll(q: Query): Boolean = q match {
    case MatchAllQ => true
    case BoostQ(inner, _) => containsMatchAll(inner)
    case ConstScoreQ(inner, _) => containsMatchAll(inner)
    case DisMaxQ(qs, _) => qs.exists(containsMatchAll)
    case b: BoolQ =>
      (b.must ++ b.should ++ b.mustNot ++ b.filter).exists(containsMatchAll)
    case _ => false
  }

  /** Replace each attribute predicate with its PredQ index (driver-side,
    * before broadcast; `preds` must come from `attrPreds(q)`). */
  private[search] def indexPreds(q: Query, preds: Seq[Query]): Query = {
    val idx = preds.zipWithIndex.toMap
    def walk(x: Query): Query = x match {
      case a: AttrQ => PredQ(idx(a))
      case a: AttrRangeQ => PredQ(idx(a))
      case a: GeoFiltQ => PredQ(idx(a))
      case BoostQ(inner, b) => BoostQ(walk(inner), b)
      case ConstScoreQ(inner, s) => ConstScoreQ(walk(inner), s)
      case DisMaxQ(qs, t) => DisMaxQ(qs.map(walk), t)
      case b: BoolQ => BoolQ(b.must.map(walk), b.should.map(walk),
        b.mustNot.map(walk), b.filter.map(walk), b.minShouldMatch)
      case other => other
    }
    walk(q)
  }

  def and(terms: String*): Query = BoolQ(must = terms.map(TermQ.apply))
  def or(terms: String*): Query = BoolQ(should = terms.map(TermQ.apply))
  def orMM(mm: Int, terms: String*): Query =
    BoolQ(should = terms.map(TermQ.apply), minShouldMatch = mm)
  def not(pos: String, neg: String): Query =
    BoolQ(must = Seq(TermQ(pos)), mustNot = Seq(TermQ(neg)))
}
