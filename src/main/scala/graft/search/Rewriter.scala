package graft.search

import org.apache.spark.sql.functions._

import graft.index.InvertedIndex

/** Term-dictionary lookups needed by multi-term query rewrites. */
trait TermDict {
  def prefix(p: String): Seq[String]
  def regex(anchoredRe: String): Seq[String]
  def fuzzy(term: String, maxEdits: Int): Seq[String]
  /** None = open end. */
  def range(lo: Option[String], hi: Option[String],
            il: Boolean, ih: Boolean): Seq[String]
}

/** Term dictionary over the termstats table — every lookup is a
  * predicate Catalyst pushes into the parquet scan (prefix → min/max
  * row-group pruning) — the role of the reference's block-tree terms
  * index [U lucene/core/.../codecs/blocktree/ + util/automaton/ for the
  * matchers; Parquet stats replace the FST, SURVEY.md §2.4]. Once a
  * serving reader has loaded its driver dictionary (`termDfMap`), prefix
  * and fuzzy match against that instead, with the same results, order
  * and expansion cap, and no job. */
final class IndexTermDict(idx: graft.index.IndexView, maxExpansions: Int = 10000)
    extends TermDict {
  private val session = idx.spark
  import session.implicits._

  private def capped(terms: Seq[String]): Seq[String] = {
    require(terms.size <= maxExpansions,
      s"multi-term query expands past $maxExpansions terms")
    terms
  }

  private def run(df: org.apache.spark.sql.DataFrame): Seq[String] =
    capped(df.select("term").orderBy("term")
      .limit(maxExpansions + 1).as[String].collect().toSeq)

  /** A warm reader's loaded driver dictionary, sorted as `run` sorts:
    * prefix and fuzzy match against it instead of running a job. */
  private val warmTerms: Option[Array[String]] = idx match {
    case inv: InvertedIndex => inv.sortedTermsIfLoaded
    case _ => None
  }

  def prefix(p: String): Seq[String] = warmTerms match {
    case Some(ts) => capped(InvertedIndex.withPrefix(ts, p).take(maxExpansions + 1).toSeq)
    case None => run(idx.termStats.filter(col("term").startsWith(p)))
  }
  def regex(re: String): Seq[String] =
    run(idx.termStats.filter(col("term").rlike(re)))
  def fuzzy(term: String, maxEdits: Int): Seq[String] = warmTerms match {
    case Some(ts) =>
      capped(ts.iterator
        .filter(t => math.abs(t.length - term.length) <= maxEdits &&
          Rewriter.levenshteinDist(t, term) <= maxEdits)
        .take(maxExpansions + 1).toSeq)
    case None =>
      run(graft.index.TermFilters.fuzzyPruned(idx.termStats, term, maxEdits)
        .filter(graft.index.TermFilters.withinEdits(col("term"), term, maxEdits)))
  }
  def range(lo: Option[String], hi: Option[String],
            il: Boolean, ih: Boolean): Seq[String] = {
    val conds =
      lo.map(v => if (il) col("term") >= v else col("term") > v).toSeq ++
        hi.map(v => if (ih) col("term") <= v else col("term") < v)
    run(conds.foldLeft(idx.termStats)((df, c) => df.filter(c)))
  }
}

/** Query rewrite to fixpoint-free normal form (the analogue of
  * `Query#rewrite` [U lucene/core/.../search/MultiTermQuery.java,
  * ScoringRewrite]): multi-term queries expand against the term
  * dictionary into constant-score TermSetQ (Lucene's
  * CONSTANT_SCORE_REWRITE default). */
object Rewriter {

  /** Glob → anchored regex (supports `*`, `?`). */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()<>+-=!?^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.append('$').toString
  }

  def rewrite(q: Query, dict: TermDict): Query = q match {
    case PrefixQ(p) => TermSetQ(dict.prefix(p).sorted)
    case WildcardQ(pat) => TermSetQ(dict.regex(globToRegex(pat)).sorted)
    case FuzzyQ(t, e) => TermSetQ(dict.fuzzy(t, e).sorted)
    case TermRangeQ(lo, hi, il, ih) => TermSetQ(dict.range(lo, hi, il, ih).sorted)
    case BoostQ(inner, b) => BoostQ(rewrite(inner, dict), b)
    case ConstScoreQ(inner, s) => ConstScoreQ(rewrite(inner, dict), s)
    case DisMaxQ(qs, t) => DisMaxQ(qs.map(rewrite(_, dict)), t)
    case BoolQ(m, s, n, f, mm) => BoolQ(
      m.map(rewrite(_, dict)), s.map(rewrite(_, dict)),
      n.map(rewrite(_, dict)), f.map(rewrite(_, dict)), mm)
    case other => other
  }

  /** Reference Levenshtein (matches Spark's `levenshtein` and DuckDB's
    * `levenshtein`) for the SpecOracle's term dictionary. */
  def levenshteinDist(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    var i = 1
    while (i <= a.length) {
      var prev = dp(0)
      dp(0) = i
      var j = 1
      while (j <= b.length) {
        val t = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
        prev = t
        j += 1
      }
      i += 1
    }
    dp(b.length)
  }
}

/** SpecOracle-side term dictionary (exhaustive in-memory matching —
  * the "naive" mirror of IndexTermDict). */
final class SeqTermDict(allTerms: Seq[String]) extends TermDict {
  private val sorted = allTerms.sorted
  def prefix(p: String): Seq[String] = sorted.filter(_.startsWith(p))
  def regex(re: String): Seq[String] = { val r = re.r; sorted.filter(t => r.matches(t)) }
  def fuzzy(term: String, maxEdits: Int): Seq[String] =
    sorted.filter(t => Rewriter.levenshteinDist(t, term) <= maxEdits)
  def range(lo: Option[String], hi: Option[String],
            il: Boolean, ih: Boolean): Seq[String] =
    sorted.filter { t =>
      lo.forall(v => if (il) t >= v else t > v) &&
        hi.forall(v => if (ih) t <= v else t < v)
    }
}
