package graftbench

import graft.analysis.Analysis
import graft.search._

/** Expected answers, derived from the generated pages alone: scorer
  * families through `SpecOracle` (rank and float32 bit identity,
  * compared by url), the relational families by recomputing their
  * definition over the same url-ordered docs. */
final class Ref(c: Corpus) {
  val oracle = new SpecOracle(c.pages.toSeq.map(p => (p.url, p.text, p.lang)))

  // url order = the engine's docId order in a url-sorted build
  private val order: Array[Int] = c.pages.indices.sortBy(i => c.pages(i).url).toArray
  val url: Array[String] = order.map(i => c.pages(i).url)
  val docNum: Array[Long] = order.map(c.docIds(_))
  val dl: Array[Int] = order.map(i => Analysis.analyze(c.pages(i).text).length)
  val urlOfDocNum: Map[Long, String] = docNum.indices.map(i => docNum(i) -> url(i)).toMap

  /** Fill each `After` request's cursor with the k-th hit of page 1. */
  def withCursors(pool: Map[String, IndexedSeq[Req]]): Map[String, IndexedSeq[Req]] =
    pool.map { case (f, rs) => f -> rs.map {
      case a: After =>
        val p1 = topK(a.q, a.k)
        if (p1.length < a.k) a.copy(score = Float.MaxValue, doc = -1L)
        else a.copy(score = p1.last._4, doc = p1.last._2)
      case r => r
    } }

  private def geodist(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2.0
    val dLon = math.toRadians(lon2 - lon1) / 2.0
    val h = math.pow(math.sin(dLat), 2.0) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon), 2.0)
    2.0 * 6371.0087714 * math.asin(math.sqrt(h))
  }
  private def lat(n: Long): Double = (n % 120).toDouble - 59.5
  private def lon(n: Long): Double = ((n * 7) % 360).toDouble - 179.5

  // the stream repeats requests: compute each expected answer once (two
  // checking threads may both compute one; the answers are equal)
  private val memo = new java.util.concurrent.ConcurrentHashMap[Any, Any]()
  private def memoized[T](key: Any)(f: => T): T = {
    val hit = memo.get(key)
    (if (hit != null) hit else { val v = f; memo.putIfAbsent(key, v); v }).asInstanceOf[T]
  }
  private def topK(q: Query, k: Int): Seq[(Int, Long, String, Float)] =
    memoized((q, k))(oracle.topK(q, k))

  /** The full expected ranking as (docId, key) where key orders it
    * (descending score, ascending distance, or docId for constant
    * score), or a term list for suggest. */
  private def ranked(req: Req): Either[IndexedSeq[(Long, Double)], IndexedSeq[(String, Long)]] =
    memoized(req)(rankedUncached(req))

  private def rankedUncached(req: Req): Either[IndexedSeq[(Long, Double)], IndexedSeq[(String, Long)]] = req match {
    case Edis(t, mm, _) =>
      val p = EDisMax.parse(t, mm)
      Left(topK(BoolQ(must = p.must.map(TermQ.apply),
        should = p.should.map(TermQ.apply), mustNot = p.mustNot.map(TermQ.apply),
        minShouldMatch = p.mmCount), Int.MaxValue)
        .map(h => (h._2, h._4.toDouble)).toIndexedSeq)
    case Near(ts, slop) =>
      Left(oracle.matching(SpanNearQ(ts, slop, inOrder = true)).map(d => (d, 0.0)).toIndexedSeq)
    case Intervals(big, g, small) =>
      val all = (big :+ small).distinct
      val lists = all.map(t => oracle.postings.getOrElse(t, Map.empty[Long, (Int, Array[Int])]))
      val cands = lists.map(_.keySet).reduce(_ intersect _).toSeq.sorted
      Left(cands.filter { d =>
        val byTerm = all.zip(lists.map(_(d)._2)).toMap
        val iv = Spans.maxgaps(Spans.orderedIntervals(big.map(byTerm).toIndexedSeq), big.length, g)
        Spans.containing(iv, byTerm(small).map(p => (p, p))).nonEmpty
      }.map(d => (d, 0.0)).toIndexedSeq)
    case Frange(m, lo, hi, _) =>
      Left(dl.indices.filter { i => val v = dl(i) % m; v >= lo && v <= hi }
        .map(i => (i.toLong, i.toDouble)))
    case Geo(la, lo, km, _) =>
      Left(docNum.indices.map(i => (i.toLong, geodist(lat(docNum(i)), lon(docNum(i)), la, lo)))
        .filter(_._2 <= km).sortBy { case (d, x) => (x, d) })
    case SortedEarly(_) | SortedFull(_) =>
      Left(docNum.indices.map(i => (i.toLong, i.toDouble)))
    case Sugg(p, _) =>
      Right(oracle.postings.keysIterator.filter(_.startsWith(p))
        .map(t => (t, oracle.df(t))).toIndexedSeq.sortBy { case (t, d) => (-d, t) })
    case _: Scored | _: After => sys.error("scorer families compare by hits")
  }

  /** None when `ans` is a correct answer to `req`, else why not. */
  def check(req: Req, ans: Ans): Option[String] = (req, ans) match {
    case (Scored(_, q, k), Hits(got)) => sameHits(got, topK(q, k))
    case (After(q, k, _, _), Hits(got)) => sameHits(got, topK(q, 2 * k).drop(k))
    case (r, Ids(got)) =>
      val want = ranked(r).left.toOption.get
      val k = r match {
        case Edis(_, _, k) => k
        case Frange(_, _, _, k) => k
        case Geo(_, _, _, k) => k
        case SortedEarly(k) => k
        case SortedFull(k) => k
        case _ => Int.MaxValue
      }
      val top = want.take(k)
      if (got.length != top.length) return Some(s"${got.length} hits, want ${top.length}")
      // same key at every rank (ties and last-ulp rounding may permute
      // equal-key docs) and every doc a real match with that key
      val keyOf = want.map { case (d, x) => docNum(d.toInt) -> x }.toMap
      got.indices.collectFirst {
        case i if !keyOf.contains(got(i)) => s"rank ${i + 1}: doc ${got(i)} does not match"
        case i if math.abs(keyOf(got(i)) - top(i)._2) > 1e-5 * math.max(1.0, math.abs(top(i)._2)) =>
          s"rank ${i + 1}: key ${keyOf(got(i))}, want ${top(i)._2}"
      }.orElse(if (got.distinct.length != got.length) Some("duplicate hits") else None)
    case (r @ Sugg(_, k), Terms(got)) =>
      val want = ranked(r).toOption.get.take(k)
      if (got == want) None else Some(s"suggest ${got.take(3)}…, want ${want.take(3)}…")
    case _ => Some(s"answer shape ${ans.getClass.getSimpleName} for ${req.family}")
  }

  private def sameHits(got: IndexedSeq[(String, Float)],
                       want: Seq[(Int, Long, String, Float)]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} hits, want ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((u, s), w), i)
          if u != w._3 || java.lang.Float.floatToIntBits(s) != java.lang.Float.floatToIntBits(w._4) =>
        s"rank ${i + 1}: ($u, $s), want (${w._3}, ${w._4})"
    }

  /** Exact per-term df over the generated text (for the build check). */
  def df(term: String): Long = oracle.df(term)
  def docCount: Long = oracle.docCount
  def sumTotalTermFreq: Long = oracle.sumTotalTermFreq
}
