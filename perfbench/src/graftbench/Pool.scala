package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.analysis.Analysis
import graft.functions.ValueSources
import graft.index.InvertedIndex
import graft.search._

/** One request of the query stream; `family` names its query family. */
sealed trait Req { def family: String }
final case class Scored(family: String, q: Query, k: Int) extends Req
final case class After(q: Query, k: Int, score: Float, doc: Long) extends Req {
  def family = "after"
}
final case class Edis(text: String, mm: String, k: Int) extends Req { def family = "edismax" }
final case class Near(terms: Seq[String], slop: Int) extends Req { def family = "spannear" }
final case class Intervals(big: Seq[String], gaps: Int, small: String) extends Req {
  def family = "intervals"
}
final case class Frange(mod: Int, lo: Int, hi: Int, k: Int) extends Req { def family = "frange" }
final case class Geo(lat: Double, lon: Double, km: Double, k: Int) extends Req { def family = "geo" }
final case class SortedEarly(k: Int) extends Req { def family = "sorted_early" }
final case class SortedFull(k: Int) extends Req { def family = "sorted_full" }
final case class Sugg(prefix: String, k: Int) extends Req { def family = "suggest" }

/** An answer, reduced to what the checks compare. */
sealed trait Ans
final case class Hits(rows: IndexedSeq[(String, Float)]) extends Ans // (url, score) in rank order
final case class Ids(ids: IndexedSeq[Long]) extends Ans              // corpus doc_id in rank order
final case class Terms(rows: IndexedSeq[(String, Long)]) extends Ans // (term, df) in rank order

/** A warm reader and the search entry points over it. */
final class Reader(val idx: InvertedIndex) {
  val searcher = new Searcher(idx)
  val rel = new RelationalPath(idx)
}

object Pool {
  /** Synthesized coordinates of a doc (the corpus carries none). */
  val LatSql = "cast(doc_id % 120 as double) - 59.5"
  val LonSql = "cast((doc_id * 7) % 360 as double) - 179.5"

  /** The query families, each dealt equally often. No public query log
    * gives the shares of these operator families, so the stream does not
    * pretend to a traffic mix: query_p50_ms and query_p90_ms weight every
    * family alike (an assumption). */
  val Families: Seq[String] = Seq("term_hot", "term_rare", "and", "or", "or_mm",
    "not", "filter", "phrase", "fuzzy", "after", "edismax", "spannear",
    "intervals", "frange", "geo", "sorted_early", "sorted_full", "suggest")

  val PerFamily = 24

  /** Result-page depth. Silverstein et al. ("Analysis of a very large
    * web search engine query log", SIGIR Forum 33(1), 1999) report that
    * 85% of AltaVista queries viewed only the first result screen, hence
    * 85% at k=10; the split of the rest over k=20 and k=50 is an
    * assumption. */
  private def k(rnd: java.util.Random): Int = {
    val u = rnd.nextDouble()
    if (u < 0.85) 10 else if (u < 0.95) 20 else 50
  }

  /** Popularity of the requests inside a family. Repeated identical
    * queries follow a Zipf-like law in web search logs (Xie and
    * O'Hallaron, "Locality in search engine queries and its implications
    * for caching", INFOCOM 2002); the exponent 1.0 is an assumption. */
  val Repetition = 1.0

  /** The finite seeded request pool: `PerFamily` distinct requests per
    * family. Terms are drawn by generator rank (df class); phrase,
    * span and interval terms come from real token windows of the
    * generated pages; filters draw `lang` by its corpus share, so the
    * same filters recur. `After` cursors are filled in by `withCursors`. */
  def build(seed: Long, c: Corpus): Map[String, IndexedSeq[Req]] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    def rank(r: (Int, Int)): String = c.vocab(r._1 + rnd.nextInt(r._2 - r._1))
    def hot = rank(Gen.HotRanks)
    def mid = rank(Gen.MidRanks)
    def rare = rank(Gen.RareRanks)
    def tokensOf(i: Int): Array[String] = Analysis.analyze(c.pages(i).text)
    def window(len: Int): Array[String] = {
      var ts = tokensOf(rnd.nextInt(c.pages.length))
      while (ts.length < len + 1) ts = tokensOf(rnd.nextInt(c.pages.length))
      val s = rnd.nextInt(ts.length - len)
      ts.slice(s, s + len)
    }
    def fuzzyOf(w: String): String = {
      val i = rnd.nextInt(w.length)
      val ch = ('a' + rnd.nextInt(26)).toChar
      w.substring(0, i) + ch + w.substring(i + 1)
    }
    def one(f: String): Req = f match {
      case "term_hot" => Scored(f, TermQ(hot), k(rnd))
      case "term_rare" => Scored(f, TermQ(rare), k(rnd))
      case "and" => Scored(f, Query.and(if (rnd.nextBoolean()) hot else mid, mid), k(rnd))
      case "or" => Scored(f, Query.or(mid, if (rnd.nextBoolean()) mid else rare), k(rnd))
      case "or_mm" => Scored(f, Query.orMM(2, hot, mid, mid), k(rnd))
      case "not" => Scored(f, Query.not(mid, hot), k(rnd))
      case "filter" => Scored(f, BoolQ(must = Seq(TermQ(mid)),
        filter = Seq(AttrQ("lang", Gen.weighted(Gen.Langs, rnd)))), k(rnd))
      case "phrase" => Scored(f, PhraseQ(window(2).toSeq), k(rnd))
      case "fuzzy" => Scored(f, FuzzyQ(fuzzyOf(mid), 1), k(rnd))
      case "after" => After(Query.or(hot, mid), 10, 0f, -1L)
      case "edismax" =>
        val ws = Seq(mid, mid, if (rnd.nextBoolean()) hot else rare)
        val text = if (rnd.nextInt(3) == 0) s"+${ws(0)} ${ws(1)} ${ws(2)}" else ws.mkString(" ")
        Edis(text, if (rnd.nextBoolean()) "50%" else "2<67%", k(rnd))
      case "spannear" =>
        val w = window(3)
        Near(Seq(w(0), w(2)), 3)
      case "intervals" =>
        val w = window(4)
        Intervals(Seq(w(0), w(3)), 6, w(1))
      case "frange" =>
        val m = Seq(5, 7, 11)(rnd.nextInt(3))
        val lo = rnd.nextInt(m - 1)
        Frange(m, lo, lo + 1, k(rnd))
      case "geo" =>
        Geo(-50 + rnd.nextInt(100), -170 + rnd.nextInt(340),
          Seq(500.0, 1000.0, 2000.0)(rnd.nextInt(3)), k(rnd))
      case "sorted_early" => SortedEarly(k(rnd))
      case "sorted_full" => SortedFull(k(rnd))
      case "suggest" =>
        val w = if (rnd.nextBoolean()) hot else mid
        Sugg(w.take(2), k(rnd))
    }
    Families.map(f => f -> IndexedSeq.fill(PerFamily)(one(f))).toMap
  }

  /** Seeded request stream over the pool: families are dealt from
    * shuffled decks holding each family once, so every stretch of 18
    * requests has the same family mix (a short run does not swing with
    * how many heavy families it happened to draw); the request within a
    * family follows Zipf popularity, so identical requests (and
    * identical filters) recur. */
  final class Stream(seed: Long, pool: Map[String, IndexedSeq[Req]]) {
    private val rnd = new java.util.Random(seed * 131 + 3)
    private val pop = Gen.zipfCdf(PerFamily, Repetition, 0.0)
    private val deck = Families.toArray
    private var dealt = deck.length
    def next(): Req = {
      if (dealt == deck.length) {
        var i = deck.length - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1); val t = deck(i); deck(i) = deck(j); deck(j) = t; i -= 1
        }
        dealt = 0
      }
      val f = deck(dealt)
      dealt += 1
      pool(f)(Gen.draw(pop, rnd))
    }
  }

  private def hits(df: DataFrame): Hits =
    Hits(df.select("url", "score").collect().toIndexedSeq
      .map(r => (r.getString(0), r.getFloat(1))))
  private def ids(df: DataFrame): Ids =
    Ids(df.select(col("doc_id").cast("long")).collect().toIndexedSeq.map(_.getLong(0)))

  /** Run one request through the engine's public search API. */
  def exec(req: Req, r: Reader): Ans = req match {
    case Scored(_, q, k) => hits(r.searcher.topK(q, k))
    case After(q, k, s, d) => hits(r.searcher.topKAfter(q, k, s, d))
    case Edis(t, mm, k) => ids(EDisMax.topK(Seq(r.idx -> 1.0), EDisMax.parse(t, mm), k))
    case Near(ts, slop) => ids(r.rel.spanNearDocs(ts, slop, inOrder = true))
    case Intervals(b, g, s) => ids(r.rel.intervalContainingDocs(b, g, s))
    case Frange(m, lo, hi, k) =>
      ids(r.rel.frangeTopK(ValueSources.fn("mod", col("dl"), lit(m)), lo, hi, k))
    case Geo(lat, lon, km, k) => ids(r.rel.geoTopK(LatSql, LonSql, lat, lon, km, k))
    case SortedEarly(k) => ids(SortedRead.earlyTopK(r.idx, k))
    case SortedFull(k) => ids(SortedRead.fullScanTopK(r.idx, k))
    case Sugg(p, k) =>
      Terms(Suggest.suggest(r.idx, p, k).collect().toIndexedSeq
        .map(row => (row.getString(0), row.getLong(1))))
  }

  /** Urls an answer exposes (for the delete-visibility check). */
  def urls(a: Ans, urlOfDocNum: Long => String): Seq[String] = a match {
    case Hits(rows) => rows.map(_._1)
    case Ids(xs) => xs.map(urlOfDocNum)
    case Terms(_) => Nil
  }
}
