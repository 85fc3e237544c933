package graft.search

import graft.SparkSpec
import graft.SparkEntry
import graft.index.CheckIndex
import graft.model.Corpus

/** Rank- AND float32-score-identity of the distributed scorer path
  * against the SpecOracle on the sf0.001 corpus, for the full reference
  * query set (FIXTURES.md §4); per-term df/ttf and collection-stats
  * equality (BASELINE.json north_star pass/fail criteria); agreement of
  * the relational path's ranks with the scorer path. */
class SearchSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val idx = SparkEntry.index(spark, sfDir)
  private lazy val searcher = new Searcher(idx)
  private lazy val oracle = new SpecOracle(
    Corpus.pages(spark, sfDir).collect().toSeq.map(p => (p.url, p.text, p.lang)))

  /** The reference query set (FIXTURES.md §4). */
  private val querySet: Seq[(String, Query)] = Seq(
    "q01 term spark" -> TermQ("spark"),
    "q02 term the (hot)" -> TermQ("the"),
    "q03 term absent" -> TermQ("zzz_absent"),
    "q04 and spark join" -> Query.and("spark", "join"),
    "q05 and spark the merge" -> Query.and("spark", "the", "merge"),
    "q06 or window batch" -> Query.or("window", "batch"),
    "q07 or-mm2 sort merge window" -> Query.orMM(2, "sort", "merge", "window"),
    "q08 spark -merge" -> Query.not("spark", "merge"),
    "q09 spark filter lang:en" -> BoolQ(must = Seq(TermQ("spark")),
      filter = Seq(AttrQ("lang", "en"))),
    "q10 phrase 'batch batch'" -> PhraseQ(Seq("batch", "batch")),
    "q11 prefix s*" -> PrefixQ("s"),
    "q12 range [batch,data]" -> TermRangeQ("batch", "data"),
    "q13 fuzzy spork~1" -> FuzzyQ("spork", 1),
    "q14 dismax spark|merge tie .3" -> DisMaxQ(Seq(TermQ("spark"), TermQ("merge")), 0.3f),
    "q15 boost spark^2 merge" -> BoolQ(should =
      Seq(BoostQ(TermQ("spark"), 2f), TermQ("merge"))),
    "q16 wildcard *dow" -> WildcardQ("*dow"),
    "q17 const-score and" -> ConstScoreQ(Query.and("spark", "join"), 1.5f),
    "q18 termset" -> TermSetQ(Seq("dup", "window")),
    "q19 match-all" -> MatchAllQ,
    "q20 match-all minus spark" -> BoolQ(must = Seq(MatchAllQ),
      mustNot = Seq(TermQ("spark"))),
    // attr-only required part + optional term clause (mm=0): segments
    // with no postings for the term must STILL emit their attr matches
    "q21 attr-must + optional absent term" -> BoolQ(
      must = Seq(AttrQ("lang", "en")),
      should = Seq(TermQ("zzz_absent"), TermQ("spark"))),
    "q22 url-range filter" -> BoolQ(must = Seq(TermQ("the")),
      filter = Seq(AttrRangeQ("url",
        Some("https://example.com/a"), Some("https://example.com/d")))),
    "q23 span-near ordered" -> SpanNearQ(Seq("spark", "merge"), 3, inOrder = true),
    "q24 span-near unordered" -> SpanNearQ(Seq("sort", "window"), 2, inOrder = false),
    "q25 span-near 3-term" -> SpanNearQ(Seq("the", "spark", "join"), 4, inOrder = false))

  test("rank + exact float32 score identity vs SpecOracle, k=10") {
    querySet.foreach { case (name, q) =>
      val engine = searcher.topK(q, 10).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getFloat(3))).toSeq
      val expected = oracle.topK(q, 10)
      assert(engine === expected, s"mismatch on $name")
    }
  }

  test("relational path ranks == scorer path ranks (url keys)") {
    val rel = new RelationalPath(idx)
    val urlOf = idx.docs.collect().map(d => d.docId -> d.url).toMap
    // compare via doc_id: map scorer docId → doc_id via url suffix
    def scorerDocIds(q: Query): Seq[Long] =
      searcher.topK(q, 10).collect().map(_.getLong(1))
        .map(d => urlOf(d).substring(urlOf(d).lastIndexOf('/') + 1).toLong).toSeq
    def relDocIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(1)).toSeq

    assert(scorerDocIds(TermQ("spark")) === relDocIds(rel.termTopK("spark", 10)))
    assert(scorerDocIds(TermQ("the")) === relDocIds(rel.termTopK("the", 10)))
    assert(scorerDocIds(Query.and("spark", "join")) ===
      relDocIds(rel.andTopK(Seq("spark", "join"), 10)))
    assert(scorerDocIds(Query.and("spark", "the", "merge")) ===
      relDocIds(rel.andTopK(Seq("spark", "the", "merge"), 10)))
    assert(scorerDocIds(Query.or("window", "batch")) ===
      relDocIds(rel.orTopK(Seq("window", "batch"), 1, 10)))
    assert(scorerDocIds(Query.orMM(2, "sort", "merge", "window")) ===
      relDocIds(rel.orTopK(Seq("sort", "merge", "window"), 2, 10)))
    assert(scorerDocIds(Query.not("spark", "merge")) ===
      relDocIds(rel.notTopK("spark", "merge", 10)))
    assert(scorerDocIds(BoolQ(must = Seq(TermQ("spark")),
      filter = Seq(AttrQ("lang", "en")))) ===
      relDocIds(rel.filterTopK("spark", "en", 10)))
  }

  test("filterCache: warm serving path (broadcast bitmap) == SpecOracle on attr filters") {
    // warming enables the Solr-filterCache analogue: cached predicate
    // bitmaps replace the per-query docs cogroup — results must stay
    // float32-identical to the oracle, and a second run (cache hit)
    // must agree with the first
    val warmIdx = SparkEntry.index(spark, sfDir).warm()
    assert(warmIdx.filterCacheEnabled)
    val s2 = new Searcher(warmIdx)
    val filtered = Seq(
      BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en"))),
      BoolQ(must = Seq(TermQ("the")), mustNot = Seq(TermQ("merge")),
        filter = Seq(AttrQ("lang", "de"))),
      BoolQ(should = Seq(TermQ("window"), TermQ("batch")),
        filter = Seq(AttrQ("lang", "en"))),
      // attr-ANCHORED (terms only under mustNot / optional should):
      // must NOT take the cache fast path — segments without the terms
      // still hold candidates (regression: warmed shared index broke
      // QueryParserSpec's `+lang:en -spark`)
      BoolQ(must = Seq(AttrQ("lang", "en")), mustNot = Seq(TermQ("spark"))),
      BoolQ(should = Seq(TermQ("window")), filter = Seq(AttrQ("lang", "de"))))
    filtered.foreach { q =>
      val run1 = s2.topK(q, 10).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getFloat(3))).toSeq
      val run2 = s2.topK(q, 10).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getFloat(3))).toSeq
      assert(run1 === oracle.topK(q, 10), s"warm filter mismatch on $q")
      assert(run1 === run2, s"cache hit diverged on $q")
    }
  }

  test("warm dictionary expands fuzzy and prefix exactly as the termStats scan, with no job") {
    val copy = indexCopy(idx.dir)
    val cold = graft.index.InvertedIndex.open(spark, idx.dir)
    val warm = graft.index.InvertedIndex.open(spark, copy).warm()
    val dict = warm.termDfMap().get.keys.toSeq.sorted
    assert(cold.sortedTermsIfLoaded.isEmpty && warm.sortedTermsIfLoaded.isDefined)
    val coldDict = new IndexTermDict(cold)
    val warmDict = new IndexTermDict(warm)
    val prefixes = ("" +: "zzz_absent" +: dict.map(_.take(1)).distinct) ++
      dict.filter(_.length >= 3).map(_.take(3)).distinct.take(20)
    prefixes.foreach(p => assert(warmDict.prefix(p) === coldDict.prefix(p), s"prefix '$p'"))
    val words = Seq("spork", "zzz_absent", "a") ++ dict.grouped(math.max(1, dict.size / 12)).map(_.head)
    for (w <- words; e <- 0 to 2)
      assert(warmDict.fuzzy(w, e) === coldDict.fuzzy(w, e), s"fuzzy '$w'~$e")
    // the maxExpansions cap trips on both
    Seq(cold, warm).foreach { r =>
      intercept[IllegalArgumentException](new IndexTermDict(r, maxExpansions = 2).prefix(""))
    }
    val c = org.apache.spark.JobCounts.of(spark.sparkContext) {
      warmDict.prefix("s"); warmDict.fuzzy("spork", 1)
    }
    assert(c.jobs === 0)
  }

  test("FilterBits: executor-side bitmap == row collect; O(partitions) blobs only") {
    import org.apache.spark.sql.functions._
    val matching = idx.docs
      .filter(coalesce(col("lang") === "en", lit(false))).select("docId")
    val (bits, blobCount) = FilterBits.build(matching)
    // the driver never receives more than one blob per partition — the
    // bounded-collect contract (a dense filter ships bitmap bytes, not
    // O(matchingRows) row objects)
    assert(blobCount <= matching.rdd.getNumPartitions)
    val naive = new java.util.BitSet()
    matching.collect().foreach(r => naive.set(r.getLong(0).toInt))
    assert(bits === naive)
  }

  test("searchAfter page 2 of MatchAll is not hidden by the dense-prefix cutoff") {
    // MatchAll scores are constant ⇒ rank is docId order; page 2 must be
    // docIds k..2k-1, which live PAST the first-k-per-segment cutoff the
    // k>0 match-all fast path applies — the cutoff must disable itself
    // for cursored reads
    val k = 10
    val p1 = searcher.topK(MatchAllQ, k).collect()
      .map(r => (r.getLong(1), r.getFloat(3))).toSeq
    val (lastDoc, lastScore) = (p1.last._1, p1.last._2)
    val p2 = searcher.topKAfter(MatchAllQ, k, lastScore, lastDoc).collect()
      .map(_.getLong(1)).toSeq
    val allLive = idx.docs.collect().map(_.docId).sorted.toSeq
    assert(p1.map(_._1) === allLive.take(k))
    assert(p2 === allLive.slice(k, 2 * k))
  }

  test("reranking: base top-N rescored, engine == oracle float-exactly") {
    val cases = Seq(
      (TermQ("the"), Query.and("spark", "join"), 20, 2.0f),
      (Query.or("window", "batch"), PhraseQ(Seq("batch", "batch")), 15, 3.0f),
      (MatchAllQ: Query, TermQ("spark"), 25, 1.5f))
    cases.foreach { case (base, rq, n, w) =>
      val got = searcher.rerank(base, rq, n, w, 10).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getFloat(3))).toSeq
      val expected = oracle.rerankTopK(base, rq, n, w, 10)
      assert(got === expected, s"rerank($base, $rq, $n, $w)")
    }
  }

  test("per-term df/ttf equality vs SpecOracle for EVERY term") {
    import idx.spark.implicits._
    val stats = idx.termStats.select("term", "df", "ttf")
      .as[(String, Long, Long)].collect()
    assert(stats.nonEmpty)
    stats.foreach { case (t, df, ttf) =>
      assert(df === oracle.df(t), s"df($t)")
      assert(ttf === oracle.ttf(t), s"ttf($t)")
    }
    assert(stats.map(_._1).toSet === oracle.postings.keySet)
  }

  test("collection stats equality") {
    assert(idx.stats.docCount === oracle.docCount)
    assert(idx.stats.sumTotalTermFreq === oracle.sumTotalTermFreq)
  }

  test("phrase matching docs identical to oracle") {
    val engine = searcher.scoredHits(PhraseQ(Seq("batch", "batch")), -1)
      .collect().map(_._1).sorted.toSeq
    assert(engine === oracle.matching(PhraseQ(Seq("batch", "batch"))))
  }

  test("exhaustive disjunction hits == oracle matching set") {
    val q = Query.or("window", "batch")
    val engine = searcher.scoredHits(q, -1).collect().toMap
    val expected = oracle.matching(q)
    assert(engine.keySet === expected.toSet)
    expected.foreach { d =>
      assert(engine(d) === oracle.scoreDoc(q, d).get, s"score of doc $d")
    }
  }

  test("geo filter: scorer-path GeoFiltQ bitset == relational haversine filter") {
    import org.apache.spark.sql.functions._
    // lat/lon synthesized from the url-embedded corpus id (the docs
    // table carries no doc_id column — the predicate must compile over
    // the docs row, like any attribute filter)
    val latSql = "cast(cast(element_at(split(url, '/'), -1) as bigint) % 120 as double) - 59.5"
    val lonSql = "cast((cast(element_at(split(url, '/'), -1) as bigint) * 7) % 360 as double) - 179.5"
    val geo = GeoFiltQ(latSql, lonSql, 10.0, 20.0, 5000.0)
    val got = searcher.topK(BoolQ(must = Seq(TermQ("the")),
        filter = Seq(geo)), 10)
      .collect().map(_.getLong(1)).toSeq
    // reference: same term hits, docs filtered by the same Column
    // predicate evaluated relationally
    val pred = RelationalPath.attrPredColumn(idx.docs.schema, geo)
    val inGeo = idx.docs.filter(pred).collect().map(_.docId).toSet
    val want = searcher.topK(TermQ("the"), 1000).collect()
      .map(r => (r.getLong(1), r.getFloat(3)))
      .filter { case (d, _) => inGeo(d) }
      .sortBy { case (d, s) => (-s, d) }
      .take(10).map(_._1).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("cross-index join: to-index scores, from-index membership") {
    import org.apache.spark.sql.functions._
    val urlIdx = SparkEntry.urlIndex(spark, sfDir)
    val rel = new RelationalPath(idx)
    val got = rel.joinFromIndexTopK(urlIdx, "src3", "spark", 10)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // reference: spark hits on the body index, kept iff the doc's url
    // field (source segment) tokenizes to src3
    val inFrom = idx.docs
      .filter(col("url").contains("/src3/")).collect().map(_.docId).toSet
    // scorer output keys are engine docIds; map to corpus doc_id via
    // the url's trailing id segment for comparison with the relational
    // (rank, doc_id) face
    val want = searcher.topK(TermQ("spark"), 1000).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getFloat(3)))
      .filter { case (d, _, _) => inFrom(d) }
      .sortBy { case (d, _, s) => (-s, d) }
      .take(10).zipWithIndex
      .map { case ((_, url, _), i) => (i + 1, url.split('/').last.toLong) }.toSeq
    // scorer path float32 vs relational double ranks: compare doc sets
    // and both orders where scores are non-tied (the gate hash-verifies
    // the exact relational order against DuckDB; here membership)
    assert(got.map(_._2).toSet === want.map(_._2).toSet)
    assert(got.nonEmpty)
  }

  test("interval containing: kernel decision == brute positions per doc") {
    val rel = new RelationalPath(idx)
    val got = rel.intervalContainingDocs(Seq("spark", "merge"), 10, "join")
      .collect().map(_.getLong(0)).toSeq
    // brute force straight from the raw documents table
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split(' ')
      def ps(t: String) = toks.indices.filter(toks(_) == t).toArray
      val iv = Spans.maxgaps(Spans.orderedIntervals(
        IndexedSeq(ps("spark"), ps("merge"))), 2, 10)
      val small = ps("join").map(p => (p, p))
      if (Spans.containing(iv, small).nonEmpty) Some(id) else None
    }.sorted.toSeq
    assert(got === want)
  }

  test("position-verified serving one-pass ≡ general two-phase") {
    // a plain IndexView delegate forces the general plan (candidate
    // pre-intersection + docsWithId join); the warm InvertedIndex takes
    // the one-pass serving shape — both must return the same doc_ids
    val general: graft.index.IndexView = new graft.index.IndexView {
      def spark = idx.spark
      def stats = idx.stats
      def postings = idx.postings
      def docs = idx.docs
      def termStats = idx.termStats
    }
    val servingRel = new RelationalPath(idx)
    val generalRel = new RelationalPath(general)
    def both(f: RelationalPath => org.apache.spark.sql.DataFrame,
             shape: String): Unit =
      assert(f(servingRel).collect().toSeq === f(generalRel).collect().toSeq,
        s"shape: $shape")
    both(_.spanNearDocs(Seq("spark", "merge"), 3, inOrder = true), "spannear")
    both(_.spanNearDocs(Seq("merge", "spark"), 5, inOrder = false), "spannear unord")
    both(_.intervalContainingDocs(Seq("spark", "merge"), 10, "join"), "containing")
    both(_.intervalSourceDocs(Spans.INotContaining(
      Spans.IMaxgaps(10, Spans.IOrdered(Seq(Spans.ITerm("spark"),
        Spans.ITerm("merge")))), Spans.ITerm("join"))), "not_containing")
    both(_.spanNearDocs(Seq("spark", "zzzabsent"), 3, inOrder = true), "absent term")
  }

  test("CheckIndex audit clean on sf0.001") {
    assert(CheckIndex.audit(idx).isEmpty)
  }
}
