package graft.search

import graft.SparkSpec
import graft.SparkEntry
import org.apache.spark.sql.functions.col

import graft.index.{CheckIndex, SegmentDocs}
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
        .map(d => RelationalPath.docIdOfUrl(urlOf(d))).toSeq
    val shapes: Seq[Query] = Seq(
      TermQ("spark"),
      TermQ("the"),
      Query.and("spark", "join"),
      Query.and("spark", "the", "merge"),
      Query.or("window", "batch"),
      Query.orMM(2, "sort", "merge", "window"),
      Query.not("spark", "merge"),
      BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en"))),
      DisMaxQ(Seq(TermQ("spark"), TermQ("merge")), 0.3f),
      BoolQ(should = Seq(BoostQ(TermQ("spark"), 2f), TermQ("merge"))),
      BoolQ(must = Seq(BoostQ(TermQ("spark"), 3f), TermQ("join"))),
      PrefixQ("s"),
      TermRangeQ("batch", "data"),
      FuzzyQ("spork", 1),
      BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrRangeQ("ts",
        Some("2025-10-24 00:02:00"), Some("2025-10-24 00:06:00")))))
    shapes.foreach { q =>
      val relDocIds = rel.forParsed(q, 10).collect().map(_.getLong(1)).toSeq
      assert(relDocIds.nonEmpty, s"no hits for $q")
      assert(scorerDocIds(q) === relDocIds, s"ranks differ on $q")
    }
  }

  test("relational path rejects a term FILTER clause before running a Spark job") {
    val rel = new RelationalPath(idx)
    val q = BoolQ(must = Seq(TermQ("spark")), filter = Seq(TermQ("merge")))
    val c = org.apache.spark.JobCounts.of(spark.sparkContext) {
      intercept[IllegalArgumentException](rel.forParsed(q, 10))
    }
    assert(c.jobs === 0 && c.sqlExecutions === 0, c)
  }

  test("per-segment filter bits: a warm reader answers attribute filters as SpecOracle and a cold reader do") {
    // a warm query evaluates its predicates on each resident segment's
    // doc columns; the answers must be float32-identical to the oracle
    // and to a cold reader's docs cogroup, and a second run (the bound
    // predicate reused) must agree with the first
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val warmS = new Searcher(warm)
    val coldS = new Searcher(graft.index.InvertedIndex.open(spark, idx.dir))
    // the SpecOracle has no ts or doc_id attribute: it reads those
    // predicates as the doc set they select on the raw corpus
    val corpus = Corpus.pages(spark, sfDir).toDF()
      .select(col("url"), col("warc_ts").as("ts"), SegmentDocs.DocNumColumn.as("doc_id"))
    val oracleDocId = corpus.select("url").collect().map(_.getString(0)).sorted.zipWithIndex
      .map { case (u, i) => u -> i.toLong }.toMap
    def docSet(p: Query): Query = DocIdSetQ(corpus.filter(RelationalPath.attrPredColumn(corpus.schema, p))
      .select("url").collect().map(r => oracleDocId(r.getString(0))).sorted.toSeq)
    val ts = AttrRangeQ("ts", Some("2025-10-24 00:02:00"), Some("2025-10-24 00:06:00"))
    val geo = GeoFiltQ("cast(doc_id % 120 as double) - 59.5",
      "cast((doc_id * 7) % 360 as double) - 179.5", 10.0, 20.0, 5000.0)
    val url = AttrRangeQ("url", Some("https://example.com/src1"), Some("https://example.com/src3"))
    // (query, the oracle's query, whether the warm reader runs it on its
    // resident segments)
    val cases: Seq[(Query, Query, Boolean)] = Seq(
      BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en"))),
      BoolQ(must = Seq(TermQ("the")), mustNot = Seq(TermQ("merge")),
        filter = Seq(AttrQ("lang", "de"))),
      BoolQ(should = Seq(TermQ("window"), TermQ("batch")),
        filter = Seq(AttrQ("lang", "en"))),
      // attr-ANCHORED (terms only under mustNot): segments without the
      // terms still hold candidates
      BoolQ(must = Seq(AttrQ("lang", "en")), mustNot = Seq(TermQ("spark"))),
      BoolQ(should = Seq(TermQ("window")), filter = Seq(AttrQ("lang", "de"))),
      MatchAllQ).map(q => (q, q, true)) ++ Seq(
      (BoolQ(must = Seq(TermQ("spark")), filter = Seq(ts)),
        BoolQ(must = Seq(TermQ("spark")), filter = Seq(docSet(ts))), true),
      (BoolQ(must = Seq(TermQ("the")), filter = Seq(geo)),
        BoolQ(must = Seq(TermQ("the")), filter = Seq(docSet(geo))), true),
      // the resident docs lack `url`: the docs cogroup answers
      (BoolQ(must = Seq(TermQ("the")), filter = Seq(url)),
        BoolQ(must = Seq(TermQ("the")), filter = Seq(url)), false))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), java.lang.Float.floatToRawIntBits(r.getFloat(3))))
    def oracleRows(hits: Seq[(Int, Long, String, Float)]) =
      hits.map { case (i, d, u, sc) => (i, d, u, java.lang.Float.floatToRawIntBits(sc)) }
    cases.foreach { case (q, oracleQ, onResident) =>
      assert(warmS.evaluate(q, 10, None).exists(_.isLeft) === onResident, s"plan of $q")
      val run1 = rows(warmS.topK(q, 10))
      assert(run1.nonEmpty, s"no hits for $q")
      assert(run1 === oracleRows(oracle.topK(oracleQ, 10)), s"warm filter mismatch on $q")
      assert(run1 === rows(warmS.topK(q, 10)), s"second run diverged on $q")
      assert(run1 === rows(coldS.topK(q, 10)), s"warm != cold on $q")
    }
    // match-all page 2: the ten docs after page 1's last
    val p1 = rows(warmS.topK(MatchAllQ, 10))
    val p2 = rows(warmS.topKAfter(MatchAllQ, 10, java.lang.Float.intBitsToFloat(p1.last._4), p1.last._2))
    assert(p2 === oracleRows(oracle.topK(MatchAllQ, 20).drop(10)).map(r => r.copy(_1 = r._1 - 10)))
    assert(p2 === rows(coldS.topKAfter(MatchAllQ, 10, java.lang.Float.intBitsToFloat(p1.last._4), p1.last._2)))
    warm.close()
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

  test("suggest from the loaded dictionary == the termstats plan, for every 1- and 2-char prefix") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    // a view that is no InvertedIndex answers with the termstats plan
    val planned = new graft.index.IndexView {
      def spark = warm.spark
      def stats = warm.stats
      def postings = warm.postings
      def docs = warm.docs
      def termStats = warm.termStats
    }
    def rows(v: graft.index.IndexView, p: String, k: Int) =
      Suggest.suggest(v, p, k).collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    val dict = warm.termDfMap().get.keys.toSeq
    val prefixes = ("" +: "zzz_absent" +: dict.map(_.take(1))) ++ dict.filter(_.length >= 2).map(_.take(2))
    prefixes.distinct.foreach { p =>
      Seq(1, 10, 1000).foreach(k => assert(rows(warm, p, k) === rows(planned, p, k), s"prefix '$p' k=$k"))
    }
    assert(Suggest.suggest(warm, "s", 10).schema === Suggest.suggest(planned, "s", 10).schema)
    val c = org.apache.spark.JobCounts.of(spark.sparkContext)(rows(warm, "sp", 10))
    assert(c.jobs === 0, c)
    warm.close()
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

  test("a lost resident partition recomputes from parquet") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val s = new Searcher(warm)
    val rel = new RelationalPath(warm)
    def answers() = (s.topK(Query.or("spark", "merge"), 10).collect().toSeq,
      EDisMax.topK(Seq(warm -> 1.0), EDisMax.parse("spark merge window", "50%"), 10).collect().toSeq,
      rel.spanNearDocs(Seq("spark", "merge"), 3, inOrder = true).collect().toSeq,
      rel.geoTopK("cast(doc_id % 120 as double)", "0.0", 30.0, 0.0, 500.0, 10).collect().toSeq,
      SortedRead.earlyTopK(warm, 10).collect().toSeq,
      s.topK(BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en"))), 10).collect().toSeq)
    val before = answers()
    val seam = warm.resident.get
    val resident = seam.persisted
    import org.apache.spark.LoseBlocks
    // one lost segment: the first job finds block 2 missing and reruns
    // once over the persisted RDD, which rebuilds that segment alone
    // and caches it again
    val rebuilds = seam.rebuilds
    LoseBlocks.of(resident, Seq(2))
    assert(LoseBlocks.cached(resident) === Seq(0, 1, 3))
    assert(answers() === before)
    assert(seam.rebuilds === rebuilds + 1)
    assert(LoseBlocks.cached(resident) === Seq(0, 1, 2, 3))
    // every segment lost
    LoseBlocks.of(resident)
    assert(spark.sparkContext.getRDDStorageInfo.forall(i =>
      i.id != resident.id || i.numCachedPartitions == 0))
    assert(answers() === before)
    assert(seam.rebuilds === rebuilds + 2)
    assert(spark.sparkContext.getPersistentRDDs.contains(resident.id))
    // a job that outlives close() still answers, from parquet
    warm.close()
    assert(seam.run(seg => Iterator(seg.docs.size.toLong)).sum === warm.stats.docCount)
  }

  test("a filter query that outlives close() still answers, from parquet") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val s = new Searcher(warm)
    val q = BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en")))
    val before = s.scoredHits(q, 10).collect().sorted.toSeq
    assert(before.nonEmpty)
    // planned on the warm reader, run after close() has unpersisted its
    // segments: the job recomputes them from parquet
    val (segs, score) = s.evaluate(q, 10, None) match {
      case Some(Left(plan)) => plan
      case other => fail(s"warm filter plan: $other")
    }
    warm.close()
    assert(!spark.sparkContext.getPersistentRDDs.contains(segs.persisted.id))
    assert(segs.run(score).sorted.toSeq === before)
  }

  test("4 threads of mixed queries on one warm reader answer as a serial caller does") {
    // each query's context and bound predicates ride its own task
    // closure, and each segment builds its filter bits per query, so
    // threads sharing a reader (and racing to bind new predicates) must
    // get exactly a lone caller's answers
    def queries(r: graft.index.InvertedIndex): Seq[() => Seq[Seq[Any]]] = {
      val s = new Searcher(r)
      def hits(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.map(row => Seq(row.getInt(0), row.getLong(1), row.getString(2),
          java.lang.Float.floatToRawIntBits(row.getFloat(3))))
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.map(row => Seq(row.getInt(0), row.getLong(1)))
      val langs = r.docs.select("lang").distinct().collect()
        .flatMap(row => Option(row.getString(0))).sorted.toSeq
      assert(langs.size > 1, langs)
      Seq[() => Seq[Seq[Any]]](
        () => hits(s.topK(TermQ("spark"), 10)),
        () => hits(s.topK(Query.or("merge", "window"), 20)),
        () => hits(s.topK(Query.and("spark", "join"), 10)),
        () => hits(s.topK(PhraseQ(Seq("batch", "batch")), 10)),
        () => hits(s.topKAfter(Query.or("spark", "merge"), 5, 2.0f, 3L)),
        () => ids(EDisMax.topK(Seq(r -> 1.0), EDisMax.parse("spark merge window", "50%"), 10)),
        () => ids(EDisMax.topK(Seq(r -> 1.0), EDisMax.parse("+spark -join data", "0"), 10,
          pf2 = Seq(r -> 0.4))),
        () => hits(s.topK(MatchAllQ, 10))) ++
        langs.map(l => () => hits(s.topK(BoolQ(must = Seq(TermQ("spark")),
          filter = Seq(AttrQ("lang", l))), 10)))
    }
    val serial = queries(graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()).map(_())
    assert(serial.exists(_.nonEmpty))
    // a fresh reader, whose dictionary loads under concurrency
    val shared = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val qs = queries(shared)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        for (round <- 0 until 3; i <- qs.indices) {
          val q = (i + t * 3 + round) % qs.length
          try {
            val got = qs(q)()
            if (got != serial(q)) failures.add(s"thread $t round $round query $q: $got != ${serial(q)}")
          } catch { case e: Throwable => failures.add(s"thread $t query $q: $e") }
        })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    shared.close()
  }

  test("CheckIndex audit clean on sf0.001") {
    assert(CheckIndex.audit(idx).isEmpty)
  }
}
