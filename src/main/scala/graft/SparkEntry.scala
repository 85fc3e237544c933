package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexConfig, InvertedIndex}
import graft.model.Corpus
import graft.pipeline.{Ann, Components, Dedup, TextStats}
import graft.search.{AttrQ, AttrRangeQ, BoolQ, BoostQ, DisMaxQ, FuzzyQ, GraphStreams, PrefixQ, Query,
  RelationalPath, Searcher, TermQ, TermRangeQ}

/** Driver contract — see SURVEY.md §7.
  *
  * Every entry in `queries` with an `oracleSql` twin is hash-compared by
  * the driver against DuckDB running that SQL on the same parquet
  * tables; column names/types and determinism are part of the contract
  * (ranked outputs expose (rank, id) with double-precision tie-robust
  * ranking; float32-exact scoring is asserted in `sbt test` against the
  * SpecOracle instead, see SURVEY.md §5.2).
  */
object SparkEntry {

  /** Bump when the on-disk index format changes (stale caches rebuild). */
  private val FormatVersion = "v8" // v8: suggest gram table carries edge flag + infix meta; v7: suggest gram table carries (weight, glen, gmask); v6: _gram_meta.json sidecar on the suggest ngram table; v5: stored text column in docs (staged sorted corpus); v4: termstats (tlen, cmask)

  /** The cached index dir of testdata dir `sfDir`, plus `suffix`, under
    * `target/gindex/<FormatVersion>` of the working directory: each
    * checkout builds and reuses its own. */
  private def cacheDir(sfDir: String, suffix: String = ""): String =
    java.nio.file.Paths.get("target", "gindex", FormatVersion,
      sfDir.replaceAll("[^A-Za-z0-9.]+", "_") + suffix).toAbsolutePath.toString

  /** Polygon for the ir_q53 gate — .25 offsets keep every synthesized
    * (x.5-grid) point off the edges and vertices. */
  private val GatePolygon: Seq[(Double, Double)] =
    Seq((0.25, 99.25), (40.25, 160.25), (-20.25, 170.25))

  /** The ir_q53 oracle twin's ray-cast restated edge-by-edge from the
    * SAME polygon literal (generated, so engine and twin can never
    * disagree on the vertices or the op sequence). */
  private def polygonCrossingSql(poly: Seq[(Double, Double)]): String =
    poly.indices.map { i =>
      val (y1, x1) = poly(i)
      val (y2, x2) = poly((i + 1) % poly.length)
      s"(CASE WHEN (($y1 > lat) <> ($y2 > lat)) AND " +
        s"(lon < ($x2 - $x1) * (lat - $y1) / ($y2 - $y1) + $x1) " +
        "THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", s") % 2 = 1")

  private val indexes = new ConcurrentHashMap[String, InvertedIndex]()

  /** Build-or-open the cached index for a testdata dir. */
  def index(spark: SparkSession, sfDir: String): InvertedIndex =
    indexes.computeIfAbsent(sfDir, { _ =>
      val dir = cacheDir(sfDir)
      IndexBuilder.build(spark, Corpus.pages(spark, sfDir), dir,
        IndexConfig(numPartitions = 8, partsPerSegment = 2,
          hotTermDf = 300, numSalts = 4, hotSampleRate = 1.0))
    })

  /** Build-or-open an index-time-SORTED index (sort key = descending
    * text length, url tie-break) for the early-termination gate. */
  def sortedIndex(spark: SparkSession, sfDir: String): InvertedIndex =
    indexes.computeIfAbsent(sfDir + "#sorted", { _ =>
      val dir = cacheDir(sfDir, "-sorted")
      IndexBuilder.build(spark, Corpus.pages(spark, sfDir), dir,
        IndexConfig(numPartitions = 8, partsPerSegment = 2,
          hotTermDf = 300, numSalts = 4, hotSampleRate = 1.0,
          sortKeySql =
            Some("lpad(cast(100000000 - length(text) as string), 9, '0')")))
    })

  /** Build-or-open the url-FIELD index: the same corpus in the same url
    * order (docIds line up with the body index), with the field's own
    * analysis chain — punct→space mapping char filter, then the
    * standard tokenizer (Solr per-field fieldType analyzers). */
  def urlIndex(spark: SparkSession, sfDir: String): InvertedIndex =
    indexes.computeIfAbsent(sfDir + "#url", { _ =>
      val dir = cacheDir(sfDir, "-url")
      import spark.implicits._
      val pages = Corpus.pages(spark, sfDir).toDF()
        .withColumn("text", lower(translate(col("url"), ":/.-", "    ")))
        .as[graft.model.Page]
      IndexBuilder.build(spark, pages, dir,
        IndexConfig(numPartitions = 8, partsPerSegment = 2,
          hotTermDf = 300, numSalts = 4, hotSampleRate = 1.0))
    })

  private def rel(spark: SparkSession, sfDir: String): RelationalPath =
    new RelationalPath(index(spark, sfDir))

  private def docsTable(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def tpch(spark: SparkSession, sfDir: String, t: String): DataFrame =
    spark.read.parquet(s"$sfDir/$t.parquet")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: build the
    * inverted index and run the flagship BM25 top-10 through the real
    * scorer path (WAND + block-max). */
  def entry(spark: SparkSession): DataFrame = {
    val idx = index(spark, "/root/testdata/sf0.001")
    new Searcher(idx).topK(Query.and("spark", "join"), 10)
  }

  // ---------------------------------------------------------------- //
  //  queries: one per implemented operator (SURVEY.md §2)            //
  // ---------------------------------------------------------------- //

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- IR core: docs/norms, stats (§2.3, §2.6) ----
    "ir_doclen" -> ((s, d) => rel(s, d).docsWithId
      .select(col("doc_id"), col("dl").cast("long").as("dl"),
        col("dlq").cast("long").as("dlq"))
      .orderBy("doc_id")),
    "ir_termstats" -> ((s, d) => index(s, d).termStats
      .select(col("term"), col("df").cast("long").as("df"),
        col("ttf").cast("long").as("ttf"))
      .orderBy("term")),
    "ir_collstats" -> ((s, d) => {
      val st = index(s, d).stats
      s.range(1).select(lit(st.docCount).as("doc_count"),
        lit(st.sumTotalTermFreq).as("sum_ttf"))
    }),
    // ---- IR queries (§2.4, §2.7): (rank, doc_id) top-10 ----
    "ir_q01_term" -> ((s, d) => rel(s, d).forParsed(TermQ("spark"), 10)),
    "ir_q02_term_hot" -> ((s, d) => rel(s, d).forParsed(TermQ("the"), 10)),
    "ir_q03_term_absent" -> ((s, d) => rel(s, d).forParsed(TermQ("zzzmissing"), 10)),
    "ir_q04_and" -> ((s, d) => rel(s, d).forParsed(Query.and("spark", "join"), 10)),
    "ir_q05_and3" -> ((s, d) => rel(s, d).forParsed(Query.and("spark", "the", "merge"), 10)),
    "ir_q06_or" -> ((s, d) => rel(s, d).forParsed(Query.or("window", "batch"), 10)),
    "ir_q07_or_mm2" -> ((s, d) => rel(s, d).forParsed(Query.orMM(2, "sort", "merge", "window"), 10)),
    "ir_q08_not" -> ((s, d) => rel(s, d).forParsed(Query.not("spark", "merge"), 10)),
    "ir_q09_filter" -> ((s, d) => rel(s, d).forParsed(
      BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en"))), 10)),
    "ir_q10_phrase" -> ((s, d) => rel(s, d).phraseDocs(Seq("batch", "batch"))),
    "ir_q11_prefix" -> ((s, d) => rel(s, d).forParsed(PrefixQ("s"), 10)),
    "ir_q12_range" -> ((s, d) => rel(s, d).forParsed(TermRangeQ("batch", "data"), 10)),
    "ir_q13_fuzzy" -> ((s, d) => rel(s, d).forParsed(FuzzyQ("spork", 1), 10)),
    "ir_q14_dismax" -> ((s, d) => rel(s, d).forParsed(
      DisMaxQ(Seq(TermQ("spark"), TermQ("merge")), 0.3f), 10)),
    "ir_q15_boost" -> ((s, d) => rel(s, d).forParsed(
      BoolQ(should = Seq(BoostQ(TermQ("spark"), 2f), TermQ("merge"))), 10)),
    // searchAfter paging: ranks 11..20 of the top 20
    "ir_q16_page2" -> ((s, d) =>
      rel(s, d).forParsed(TermQ("spark"), 20).filter(col("rank") >= 11)),
    "ir_q17_collapse" -> ((s, d) => rel(s, d).collapseByLang("spark")),
    "ir_q18_facet" -> ((s, d) => rel(s, d).facetByLang("spark")),
    "ir_q19_matchall" -> ((s, d) => rel(s, d).matchAllTopK(10)),
    "ir_q20_tsrange" -> ((s, d) => rel(s, d).forParsed(BoolQ(must = Seq(TermQ("spark")),
      filter = Seq(AttrRangeQ("ts", Some("2025-10-24 00:02:00"), Some("2025-10-24 00:06:00")))), 10)),
    // query-STRING entry point: lucene-dialect parse → relational exec
    "ir_q21_qstring" -> ((s, d) =>
      rel(s, d).forParsed(graft.search.QueryParser.parse("spark AND join"), 10)),
    "ir_q22_qstring_attr" -> ((s, d) =>
      rel(s, d).forParsed(graft.search.QueryParser.parse("+spark -merge +lang:en"), 10)),
    "ir_q23_expand" -> ((s, d) => rel(s, d).expandByLang("spark", 3)),
    // required-attr anchor + optional SHOULD term (Lucene occur
    // semantics: mm stays 0 because a required clause exists; anchor
    // docs with no should match surface with score 0)
    "ir_q28_attr_should" -> ((s, d) =>
      rel(s, d).forParsed(graft.search.QueryParser.parse("+lang:en spark"), 10)),
    // index-time sort (desc text length) + early-terminating sorted
    // read: k docs per segment via pushed docId ranges, never a corpus
    // scan — the TopFieldCollector early-termination analogue
    "ir_q29_sorted" -> ((s, d) =>
      graft.search.SortedRead.earlyTopK(sortedIndex(s, d), 10)),
    // edismax: qf = text^2 url^1, mm = 50% — per-term DisMax across the
    // two single-field indexes (docId-aligned), Boolean over terms
    "ir_q30_edismax" -> ((s, d) => {
      val p = graft.search.EDisMax.parse("spark src3", "50%")
      graft.search.EDisMax.topK(
        Seq(index(s, d) -> 2.0, urlIndex(s, d) -> 1.0), p, 10)
    }),
    // [explain] DocTransformer (§2.11): per-(hit, term) BM25 breakdown
    // — tf/df/dlq are the complete INTEGER inputs of each contribution
    "ir_q31_explain" -> ((s, d) => {
      val hits = rel(s, d).forParsed(Query.or("spark", "merge"), 10)
      graft.search.DocTransformers.explainRows(
        index(s, d), hits, Seq("spark", "merge"))
    }),
    // ngram-INDEXED suggester (AnalyzingInfixSuggester shape): lookup is
    // an equality on the materialized gram table, not a dictionary scan
    "ir_q32_suggest_ngram" -> ((s, d) => {
      val dir = cacheDir(d, "-suggest")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
        graft.search.Suggest.buildNgramIndex(index(s, d), dir)
      graft.search.Suggest.suggestNgram(s, dir, "sp", 10)
    }),
    // term vectors (P2): per-doc mini-index from stored fields
    "ir_q33_termvectors" -> ((s, d) => {
      val docPred = element_at(split(col("url"), "/"), -1).cast("long") < 5
      graft.search.TermVectors.forDocs(index(s, d), docPred)
        .withColumn("doc_id", element_at(split(col("url"), "/"), -1).cast("long"))
        .select("doc_id", "term", "tf", "first_pos", "last_pos")
        .orderBy("doc_id", "term")
    }),
    // LTR linear re-rank (P2): top-30 base candidates rescored by
    // w·(base score, dl, dlq) in documented IEEE fold order
    "ir_q34_ltr" -> ((s, d) => {
      val model = graft.search.Ltr.LinearModel(
        Seq("base" -> col("s"), "dl" -> col("dl").cast("double"),
          "dlq" -> col("dlq").cast("double")),
        Seq(1.0, 0.001, -0.0005))
      graft.search.Ltr.rescore(index(s, d), Seq("spark", "merge"), 30, 10, model)
    }),
    // tree-ensemble LTR (MultipleAdditiveTreesModel): two additive
    // regression trees over (base score, dl, dlq) as nested
    // when/otherwise Columns — same bounded candidate frame as ir_q34
    "ir_q54_ltr_trees" -> ((s, d) => {
      import graft.search.Ltr._
      val model = TreesModel(
        Seq("s" -> col("s"), "dl" -> col("dl").cast("double"),
          "dlq" -> col("dlq").cast("double")),
        Seq(1.0 -> Branch("dl", 40.0, Leaf(0.2),
              Branch("s", 1.5, Leaf(0.05), Leaf(0.5))),
          0.5 -> Branch("dlq", 35.0, Leaf(0.1), Leaf(-0.3))))
      graft.search.Ltr.rescore(index(s, d), Seq("spark", "merge"), 30, 10, model)
    }),
    // edismax tie + bf: dismax tiebreak folds the losing field in at
    // 0.3, and an additive ln(dl+1) boost function over the primary
    // field's docs row (the Solr `tie`/`bf` params)
    "ir_q35_edismax_tiebf" -> ((s, d) => {
      val p = graft.search.EDisMax.parse("spark src3", "50%")
      graft.search.EDisMax.topK(
        Seq(index(s, d) -> 2.0, urlIndex(s, d) -> 1.0), p, 10,
        tie = 0.3, bf = Some(log(col("dl") + lit(1L))))
    }),
    // edismax pf: docs where the raw positive token sequence occurs as
    // an exact phrase gain 0.5 · BM25-phrase-score (the Solr `pf`
    // param; a pure boost — hit set unchanged)
    "ir_q36_edismax_pf" -> ((s, d) => {
      val p = graft.search.EDisMax.parse("batch batch", "0")
      graft.search.EDisMax.topK(Seq(index(s, d) -> 1.0), p, 10,
        pf = Seq(index(s, d) -> 0.5))
    }),
    // MoreLikeThis (§2.12): doc 42's top tf·idf terms become an OR
    // query; ranked like any disjunction. The seed-doc lookup is a
    // driver-side single-row fetch (the reference's MLT reads the
    // source doc the same way)
    "ir_q37_mlt" -> ((s, d) => {
      val text = s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") === 42L).head().getAs[String]("text")
      // maxTerms = 2: a two-element float sum is order-exact in IEEE,
      // so the gate is immune to aggregation-order noise (5-term sums
      // flipped near-tied ranks between runs on BOTH engines)
      rel(s, d).forParsed(graft.search.MoreLikeThis.fromText(index(s, d), text, maxTerms = 2), 10)
    }),
    // query elevation (QueryElevationComponent): docs 7 then 3 pinned
    // to the top in that order, doc 42 excluded, organic spark hits
    // follow with relative order preserved; overfetch 13 → page of 10
    // so exclusion backfills from deeper hits (the reference applies
    // exclusion before its rows cutoff)
    "ir_q42_elevate" -> ((s, d) => graft.search.Elevation.elevate(
      rel(s, d).forParsed(TermQ("spark"), 13), Seq(7L, 3L), Seq(42L), k = 10)),
    // edismax bq: additive boost query — hits of `spark` gain
    // 1.5 × BM25(merge) where merge also matches (hit set unchanged)
    "ir_q41_edismax_bq" -> ((s, d) => {
      val p = graft.search.EDisMax.parse("spark", "0")
      graft.search.EDisMax.topK(Seq(index(s, d) -> 1.0), p, 10,
        bq = Seq("merge" -> 1.5))
    }),
    // function-range query ({!frange}): docs whose function-query value
    // (mod(dl, 7) here — a ValueSources Column) lies in [2, 4];
    // constant score ⇒ url-rank order
    "ir_q40_frange" -> ((s, d) => rel(s, d).frangeTopK(
      graft.functions.ValueSources.fn("mod", col("dl"), lit(7)), 2, 4, 10)),
    // edismax pf2: every adjacent bigram of the positional order is
    // phrase-boosted (Solr pf2 shingles); 3-term query → 2 bigrams
    "ir_q39_edismax_pf2" -> ((s, d) => {
      val p = graft.search.EDisMax.parse("batch batch merge", "0")
      graft.search.EDisMax.topK(Seq(index(s, d) -> 1.0), p, 10,
        pf2 = Seq(index(s, d) -> 0.4))
    }),
    // highlighting (§2.12, UnifiedHighlighter role): best 8-token
    // window by query-term match count (earliest tie), matches wrapped
    // in <em> — per doc over the whole corpus
    "ir_q38_highlight" -> ((s, d) =>
      docsTable(s, d).select(col("doc_id"),
        graft.search.Highlighter.highlightCol(
          col("text"), Seq("spark", "merge"), window = 8).as("snippet"))
        .orderBy("doc_id")),
    // geo distance filter + sort-by-distance ({!geofilt} + geodist()
    // asc): lat/lon synthesized deterministically from doc_id (the
    // corpus carries no coordinates), haversine ≤ 2000 km of (10, 20),
    // nearest-first
    "ir_q43_geofilt" -> ((s, d) => rel(s, d).geoTopK(
      "cast(doc_id % 120 as double) - 59.5",
      "cast((doc_id * 7) % 360 as double) - 179.5",
      10.0, 20.0, 2000.0, 10)),
    // {!bbox}: two pure range predicates on the synthesized lat/lon
    // (LatLonPoint#newBoxQuery) — constant score ⇒ url-rank order
    "ir_q51_bbox" -> ((s, d) => rel(s, d).bboxTopK(
      "cast(doc_id % 120 as double) - 59.5",
      "cast((doc_id * 7) % 360 as double) - 179.5",
      0.0, 30.0, 100.0, 170.0, 10)),
    // polygon containment (LatLonPoint#newPolygonQuery): even-odd ray
    // cast as a Column fold over the triangle's edges
    "ir_q53_polygon" -> ((s, d) => rel(s, d).polygonTopK(
      "cast(doc_id % 120 as double) - 59.5",
      "cast((doc_id * 7) % 360 as double) - 179.5",
      GatePolygon, 10)),
    // cross-index join ({!join fromIndex=url}src3 ∧ body:spark): body
    // BM25 hits semi-joined to url-field matches — docId-aligned
    // indexes make the join key docId itself
    "ir_q44_join" -> ((s, d) =>
      rel(s, d).joinFromIndexTopK(urlIndex(s, d), "src3", "spark", 10)),
    // interval combinators: maxgaps(10, ordered(spark, merge))
    // CONTAINING join — minimal ordered intervals via the shared
    // Spans kernel
    "ir_q45_intervals" -> ((s, d) =>
      rel(s, d).intervalContainingDocs(Seq("spark", "merge"), 10, "join")),
    // interval algebra remainder: extend(unordered(sort, window), 1, 1)
    // OVERLAPPING batch — unordered as a combinable SOURCE, widened by
    // one position each side, kept where it overlaps a batch occurrence
    "ir_q52_intervals_un" -> ((s, d) => {
      import graft.search.Spans._
      rel(s, d).intervalSourceDocs(IOverlapping(
        IExtend(IUnordered(Seq(ITerm("sort"), ITerm("window"))), 1, 1),
        ITerm("batch")))
    }),
    // edismax stepped mm ("2<67%": >2 optional clauses → 67% of 3 = 2
    // required) — the Solr conditional minimum-should-match spec
    "ir_q46_edismax_mm" -> ((s, d) => {
      val p = graft.search.EDisMax.parse("sort merge window", "2<67%")
      graft.search.EDisMax.topK(Seq(index(s, d) -> 1.0), p, 10)
    }),
    // span/interval proximity (§2.4 P2 row): ordered + unordered near
    "ir_q26_spannear" -> ((s, d) =>
      rel(s, d).spanNearDocs(Seq("spark", "merge"), slop = 3, inOrder = true)),
    "ir_q27_spannear_unord" -> ((s, d) =>
      rel(s, d).spanNearDocs(Seq("sort", "window"), slop = 2, inOrder = false)),
    // spellcheck / suggest over the term dictionary (§2.12)
    "ir_q24_suggest" -> ((s, d) =>
      graft.search.Suggest.suggest(index(s, d), "s", 10)),
    "ir_q25_spellcheck" -> ((s, d) =>
      graft.search.Suggest.spellcheck(index(s, d), "spark", 1, 10)),
    // ---- parent/child block join over nested doc blocks (§2.5) ----
    "sx_blockjoin_parent" -> ((s, d) => {
      val nested = graft.search.BlockJoin.nest(
        tpch(s, d, "orders"), tpch(s, d, "lineitem"), "o_orderkey", "l_orderkey")
      graft.search.BlockJoin.parentsOfChildren(nested,
          c => c.getField("l_quantity") >= 49)
        .select("o_orderkey").orderBy("o_orderkey")
    }),
    "sx_blockjoin_child" -> ((s, d) => {
      val nested = graft.search.BlockJoin.nest(
        tpch(s, d, "orders"), tpch(s, d, "lineitem"), "o_orderkey", "l_orderkey")
      graft.search.BlockJoin.childrenOfParents(nested, col("o_totalprice") > 400000)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // ---- training-data pipeline: dedup (§prompt) ----
    "dd_exact" -> ((s, d) => Dedup.exactGroups(docsTable(s, d)).orderBy("keep_id")),
    "dd_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docsTable(s, d), n = 3, threshold = 0.12)),
    "dd_minhash_lsh" -> ((s, d) =>
      Dedup.minhashNearDups(docsTable(s, d), threshold = 0.12)),
    // maxDist=3 matches the 4-band pigeonhole recall guarantee (wider
    // distances need multi-table SimHash — see Dedup.simhashNearDups)
    "dd_simhash" -> ((s, d) => Dedup.simhashNearDups(docsTable(s, d), maxDist = 3)),
    // wide-distance SimHash: multi-table permuted (C(10,2)=45 tables),
    // recall guaranteed at maxDist=8 — the full pair set is exact
    "dd_simhash_wide" -> ((s, d) =>
      Dedup.simhashNearDupsWide(docsTable(s, d), maxDist = 8, numBlocks = 10)),
    // transitive near-dup CLUSTERS over the pair set (large-star /
    // small-star, Kiveris et al. SoCC'14): one component id per doc;
    // the pipeline keeps doc_id == component and drops the rest
    "dd_components" -> ((s, d) =>
      Components.nearDupComponents(docsTable(s, d), n = 3, threshold = 0.12)
        .orderBy("doc_id")),
    // ---- text analysis ----
    "tx_counts" -> ((s, d) => TextStats.countingStats(docsTable(s, d)).orderBy("doc_id")),
    "tx_quality" -> ((s, d) => TextStats.qualityPpm(docsTable(s, d)).orderBy("doc_id")),
    "tx_langid" -> ((s, d) => TextStats.langId(docsTable(s, d)).orderBy("doc_id")),
    "tx_fp_md5" -> ((s, d) => TextStats.md5Fingerprint(docsTable(s, d)).orderBy("doc_id")),
    "tx_fp_rolling" -> ((s, d) => TextStats.rollingFingerprint(docsTable(s, d)).orderBy("doc_id")),
    // edge / char n-gram token filters (§2.2): per-doc gram counts —
    // the DuckDB twin verifies via the counting identity over token
    // lengths (edge grams = min(max,len)-min+1, char grams = len-n+1)
    "tx_ngrams" -> ((s, d) => {
      val toks = split(col("text"), " ")
      docsTable(s, d).select(col("doc_id"),
        size(graft.analysis.Analysis.edgeNgramsCol(toks, 2, 4)).cast("long").as("n_edge"),
        size(graft.analysis.Analysis.charNgramsCol(toks, 3, 3)).cast("long").as("n_char3"))
        .orderBy("doc_id")
    }),
    // ---- similarity search over embeddings ----
    "ann_brute" -> ((s, d) => {
      val emb = tpch(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      Ann.bruteTopK(emb, q, 5)
    }),
    // kmeans() streaming-ML expression: deterministic fixed-point
    // clustering (k=4, one refinement round from the vec_id seed)
    "sx_kmeans" -> ((s, d) =>
      graft.pipeline.KMeans.fit(tpch(s, d, "embeddings"), 4, 1)._1),
    // knn() streaming expression: neighbors of one doc's own embedding
    "sx_knn" -> ((s, d) => {
      val emb = tpch(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.knnForDoc(emb, 3L, 5)
    }),
    "ann_lsh" -> ((s, d) => {
      val emb = tpch(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      Ann.lshTopK(emb, q, 5, dim = 64, numPlanes = 6)
    }),
    // IVF-Flat ANN: fixed-point k-means coarse quantizer (nList=4, one
    // refinement round), nProbe=2 probed clusters per query, exact
    // in-cluster cosine re-rank — the second scale path beside SRP-LSH
    "ann_ivf" -> ((s, d) => {
      val emb = tpch(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
      Ann.ivfTopK(emb, q, 5, nList = 4, nProbe = 2, iters = 1)
    }),
    // ---- reference streaming-expression / facet analogues (§2.5-2.7) ----
    "sx_facet_field" -> ((s, d) => docsTable(s, d)
      .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")),
    // facet.prefix [U solr FacetField prefix]: the bucket enumeration
    // is pruned by a pushdown-able prefix predicate BEFORE the count
    "sx_facet_prefix" -> ((s, d) => docsTable(s, d)
      .filter(col("source").startsWith("src1"))
      .groupBy("source").agg(count(lit(1)).as("n")).orderBy("source")),
    // interval facets [U solr IntervalFacets]: arbitrary open/closed
    // per-interval bounds as one CASE column — single pass, no shuffle
    // beyond the count agg (intervals may overlap in Solr; these don't,
    // so one CASE suffices; overlapping sets would be one filter+agg
    // per interval unioned)
    "sx_facet_interval" -> ((s, d) => docsTable(s, d)
      .withColumn("interval",
        when(col("n_chars") <= 150, "[*,150]")
          .when(col("n_chars") <= 300, "(150,300]")
          .otherwise("(300,*]"))
      .groupBy("interval").agg(count(lit(1)).as("n")).orderBy("interval")),
    "sx_facet_range" -> ((s, d) => tpch(s, d, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")).orderBy("day")),
    "sx_rollup" -> ((s, d) => tpch(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")),
    "sx_hashjoin" -> ((s, d) => tpch(s, d, "orders")
      .join(broadcast(tpch(s, d, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")),
    "sx_mergejoin" -> ((s, d) => tpch(s, d, "lineitem")
      .join(tpch(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")),
    // TermsComponent role [U solr/core/.../handler/component/
    // TermsComponent.java]: raw term enumeration from the dictionary —
    // prefix-bounded, df-ranked with counts (no search, no scoring)
    "sx_terms" -> ((s, d) =>
      index(s, d).termStats
        .filter(col("term").startsWith("s"))
        .select(col("term"), col("df").cast("long").as("df"),
          col("ttf").cast("long").as("ttf"))
        .orderBy(desc("df"), asc("term"))
        .limit(15)),
    // /export handler role [U solr/core/.../handler/export/]: the FULL
    // filtered result set in stable multi-field sort order (what
    // streaming expressions consume) — no top-k cutoff
    "sx_export" -> ((s, d) => docsTable(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(desc("source"), asc("doc_id"))),
    // RankStream: TakeOrderedAndProject bounds to ≤10 rows, ranks
    // stamped on the driver (no Window, no single-partition exchange)
    "sx_rank" -> ((s, d) => {
      import s.implicits._
      val top = tpch(s, d, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey").cast("long"), col("o_totalprice").cast("double"))
        .as[(Long, Double)].collect()
        .sortBy { case (key, price) => (-price, key) }
      top.toSeq.zipWithIndex
        .map { case ((key, _), i) => (i + 1, key) }
        .toDF("rank", "o_orderkey")
    }),
    "sx_unique" -> ((s, d) => tpch(s, d, "events")
      .select("event_type").distinct().orderBy("event_type")),
    // collapse via max_by hash agg (argmax over the total order
    // (o_totalprice desc, o_orderkey asc)) — map-side partials keep
    // per-task input bounded even when one customer holds most of the
    // orders; the Window.partitionBy form would move whole groups into
    // single tasks (mirrors RelationalPath.collapseByLang)
    "sx_collapse" -> ((s, d) => tpch(s, d, "orders")
      .groupBy("o_custkey")
      .agg(max_by(col("o_orderkey"),
        struct(col("o_totalprice"), (-col("o_orderkey")).as("no"))).as("o_orderkey"))
      .select("o_custkey", "o_orderkey")
      .orderBy("o_custkey")),
    "sx_stats" -> ((s, d) => tpch(s, d, "lineitem")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        min(col("l_quantity")).cast("double").as("min_qty"),
        max(col("l_quantity")).cast("double").as("max_qty"))),
    "sx_pivot" -> ((s, d) => docsTable(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .orderBy("lang", "source")),
    // JSON facet with per-bucket stat subaggregations (json.facet
    // {type:terms, facet:{...}} [U solr/core/.../search/facet/FacetField
    // .java]): count + min/max/sum per bucket; integer stats so the
    // hash compare is exact regardless of aggregation order
    "sx_facet_stats" -> ((s, d) => docsTable(s, d)
      .groupBy("lang").agg(
        count(lit(1)).as("n"),
        min(col("n_chars")).cast("long").as("min_chars"),
        max(col("n_chars")).cast("long").as("max_chars"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")),
    "sx_distinct" -> ((s, d) => tpch(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_parts"))
      .orderBy("l_returnflag")),
    "sx_significant" -> ((s, d) =>
      graft.search.SignificantTerms.forTerm(index(s, d), "dup", minFgDf = 2, limit = 10)
        .select("term", "fg_df", "bg_df")),
    // ---- query facet: counts per arbitrary predicate (§2.6) ----
    "sx_facet_query" -> ((s, d) => tpch(s, d, "lineitem")
      .agg(
        sum(when(col("l_quantity") >= 45, 1).otherwise(0)).cast("long").as("n_heavy"),
        sum(when(col("l_discount") >= 0.05, 1).otherwise(0)).cast("long").as("n_disc"))),
    // ---- hll / percentile aggregations (§2.6) — the driver gate
    // hash-checks the exact value plus an in-plan tolerance verdict on
    // the approximate sketch (HLL++ / percentile_approx) ----
    "sx_hll" -> ((s, d) => tpch(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_exact"),
        approx_count_distinct("l_partkey").as("n_approx"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.05)
          .as("ok"))
      .orderBy("l_returnflag")),
    "sx_percentile" -> ((s, d) => tpch(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(100000)).as("p50a"))
      .select(col("l_returnflag"), col("p50"),
        (abs(col("p50a") - col("p50")) / col("p50") <= 0.01).as("ok"))
      .orderBy("l_returnflag")),
    // heatmap facet: counts per 2-D grid cell (§2.6 P2 row —
    // [U solr/core/.../handler/component/SpatialHeatmapFacets.java];
    // grid derived from numeric columns, the same groupBy shape)
    "sx_heatmap" -> ((s, d) => tpch(s, d, "events")
      .groupBy(floor(col("value") / 50).cast("long").as("gx"),
        (col("user_id") % 10).as("gy"))
      .agg(count(lit(1)).as("n"))
      .orderBy("gx", "gy")),
    // ---- set-operation streams (§2.8) ----
    "sx_union" -> ((s, d) => tpch(s, d, "events").filter(col("value") > 400)
      .select("event_id")
      .union(tpch(s, d, "events").filter(col("event_type") === "click")
        .select("event_id"))
      .orderBy("event_id")),
    "sx_intersect" -> ((s, d) => tpch(s, d, "events").filter(col("value") > 250)
      .select("event_id")
      .intersect(tpch(s, d, "events").filter(col("event_type") === "click")
        .select("event_id"))
      .orderBy("event_id")),
    "sx_except" -> ((s, d) => tpch(s, d, "events").filter(col("value") > 250)
      .select("event_id")
      .except(tpch(s, d, "events").filter(col("event_type") === "click")
        .select("event_id"))
      .orderBy("event_id")),
    // ---- graph traversal streams (§2 P2 — GatherNodesStream /
    // ShortestPathStream analogues; nested hop joins + bounded BFS) ----
    "sx_graph_gather" -> ((s, d) => {
      // nodes(nodes(customers<4 → orders) → parts) with the count(*)
      // gather metric: walks = lineitem rows of the seeds' orders
      val e1 = tpch(s, d, "orders").select(
        col("o_custkey").cast("string").as("src"),
        col("o_orderkey").cast("string").as("dst"))
      val e2 = tpch(s, d, "lineitem").select(
        col("l_orderkey").cast("string").as("src"),
        col("l_partkey").cast("string").as("dst"))
      val s0 = GraphStreams.seeds(
        tpch(s, d, "customer").filter(col("c_custkey") < 4),
        col("c_custkey").cast("string"))
      GraphStreams.gatherNodes(e2, GraphStreams.gatherNodes(e1, s0))
        .select(col("node").cast("bigint").as("part"), col("paths"))
        .orderBy("part")
    }),
    "sx_graph_spath" -> ((s, d) => {
      // BFS min-distances ≤ 3 from customer 1 over the undirected
      // customer↔order↔part graph (distinct order↔part edges)
      val o = tpch(s, d, "orders")
      val li = tpch(s, d, "lineitem")
      val co = o.select(concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("o:"), col("o_orderkey")).as("dst"))
      val oc = o.select(concat(lit("o:"), col("o_orderkey")).as("src"),
        concat(lit("c:"), col("o_custkey")).as("dst"))
      val op = li.select(concat(lit("o:"), col("l_orderkey")).as("src"),
        concat(lit("p:"), col("l_partkey")).as("dst")).distinct()
      val po = li.select(concat(lit("p:"), col("l_partkey")).as("src"),
        concat(lit("o:"), col("l_orderkey")).as("dst")).distinct()
      GraphStreams.shortestDistances(co.union(oc).union(op).union(po), "c:1", 3)
        .select(col("node"), col("dist").cast("int").as("dist"))
        .orderBy("node")
    }),
    // ---- update-request-processor chain (§2 extension surface:
    // pre-index document pipeline — clone/regex/default/signature-
    // dedupe/truncate/trim as composed Column transforms) ----
    "sx_urp" -> ((s, d) => {
      import graft.pipeline.Urp
      val chain = Urp.chain(
        Urp.cloneField("source", "src_norm"),
        Urp.regexReplace("src_norm", "^src", "source-"),
        Urp.defaultValue("lang", "und"),
        Urp.signatureDedup(Seq("text"), "doc_id"),
        Urp.truncate("text", 40),
        Urp.trimFields("text"))
      chain(docsTable(s, d))
        .select(col("doc_id"), col("src_norm"), col("lang"),
          length(col("text")).cast("long").as("snip_len"))
        .orderBy("doc_id")
    }),
    // query($q) + boost function query (§2.10): subquery BM25 score as
    // a left-joined default-0 column inside ValueSources arithmetic
    "ir_q47_boostfn" -> ((s, d) => rel(s, d).boostFnTopK("spark", "merge", 10)),
    // relevance value-sources: termfreq/docfreq/ttf/idf/numdocs/
    // sumtotaltermfreq/norm as columns (driver-scalar stats + one
    // left-joined tf frame — no corpus jobs)
    "fn_relevance" -> ((s, d) => rel(s, d).relevanceFrame("spark")),
    // ord/rord (dictionary-ranked, never a corpus Window) + scale
    // (global min-max rescale) over the documents table
    "fn_ordscale" -> ((s, d) => {
      import graft.functions.{ValueSources => V}
      val docs = docsTable(s, d)
      val mm = docs.agg(min(col("n_chars")).cast("double"),
        max(col("n_chars")).cast("double")).head()
      V.rord(docs, "lang")
        .select(col("doc_id"),
          col("lang_ord").cast("long").as("f_ord"),
          col("lang_rord").cast("long").as("f_rord"),
          floor(V.scale(col("n_chars").cast("double"),
            mm.getDouble(0), mm.getDouble(1), 0, 100) * lit(1e6))
            .cast("long").as("f_scale_q"))
        .orderBy("doc_id")
    }),
    // fuzzy-prefix suggester (FuzzySuggester): glen/gmask-pruned gram
    // scan, banded levenshtein, weight-ranked
    "ir_q48_suggest_fuzzy" -> ((s, d) => {
      val dir = cacheDir(d, "-suggest")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
        graft.search.Suggest.buildNgramIndex(index(s, d), dir)
      graft.search.Suggest.suggestFuzzy(s, dir, "spar", 1, 10)
    }),
    // arbitrary-weight suggester (weightField): weight = Σ n_chars of
    // the docs containing the term, supplied by the caller at build
    "ir_q49_suggest_weighted" -> ((s, d) => {
      val dir = cacheDir(d, "-suggestw")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
        val entries = docsTable(s, d)
          .select(col("n_chars"), explode(array_distinct(
            graft.analysis.Analysis.analyzeCol(
              col("text"), Nil, stem = false, Map.empty))).as("term"))
          .groupBy("term").agg(sum("n_chars").cast("long").as("weight"))
        graft.search.Suggest.buildSuggestIndex(entries, dir)
      }
      graft.search.Suggest.suggestWeighted(s, dir, "sp", 10)
    }),
    // TRUE infix suggester (AnalyzingInfixSuggester): all-position
    // grams — "ark" surfaces "spark"; prefix matches rank ahead of
    // infix matches (the blended sort), then weight desc
    "ir_q50_suggest_infix" -> ((s, d) => {
      val dir = cacheDir(d, "-suggesti")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
        graft.search.Suggest.buildSuggestIndex(
          index(s, d).termStats
            .select(col("term"), col("df").cast("long").as("weight")),
          dir, infix = true)
      graft.search.Suggest.suggestInfix(s, dir, "ark", 10)
        .select(col("term"), col("weight"), col("edge").cast("long").as("edge"))
    }),
    // ---- function-query registry (§2.10) ----
    "fn_valuesources" -> ((s, d) => {
      import graft.functions.{ValueSources => V}
      docsTable(s, d).select(col("doc_id"),
        V.fn("abs", col("n_chars") - 500).cast("long").as("f_abs"),
        V.fn("mod", col("n_chars"), lit(7)).cast("long").as("f_mod"),
        V.fn("min", col("n_chars"), lit(300)).cast("long").as("f_min"),
        V.fn("max", col("n_chars"), lit(300)).cast("long").as("f_max"),
        V.fn("if", col("lang") === "en", lit(1), lit(0)).cast("long").as("f_if"),
        V.fn("def", col("lang"), lit("und")).as("f_def"),
        V.fn("concat", col("lang"), lit("_"), col("source")).as("f_concat"),
        V.fn("sum", col("n_chars"), col("doc_id")).cast("long").as("f_sum"),
        // batch 3: multi-valued selectors / payload map / currency
        V.fieldSelect(array(col("n_chars").cast("long"), col("doc_id"),
          lit(100L)), "min").cast("long").as("f_fmin"),
        V.fieldSelect(array(col("n_chars").cast("long"), col("doc_id"),
          lit(100L)), "max").cast("long").as("f_fmax"),
        V.fieldSelect(array(col("n_chars").cast("long"), col("doc_id"),
          lit(100L)), "first").cast("long").as("f_ffirst"),
        V.fieldSelect(array(col("n_chars").cast("long"), col("doc_id"),
          lit(100L)), "last").cast("long").as("f_flast"),
        V.fn("payload", map(lit("a"), col("n_chars").cast("long")),
          lit("a"), lit(-1L)).cast("long").as("f_payload"),
        V.fn("payload", map(lit("a"), col("n_chars").cast("long")),
          lit("b"), lit(-1L)).cast("long").as("f_payload_miss"),
        V.currency(col("n_chars").cast("double"),
          when(col("lang") === "en", "USD").otherwise("EUR"), "USD",
          Map("EUR" -> 1.25)).cast("double").as("f_currency"),
        // batch 4: registry remainder — aliases, boolean literals, hsin
        V.fn("add", col("n_chars"), col("doc_id"), lit(3)).cast("long").as("f_add"),
        V.fn("mul", col("n_chars"), lit(2)).cast("long").as("f_mul"),
        V.fn("if", V.fn("true"), lit(1L), lit(0L)).cast("long").as("f_true"),
        V.fn("if", V.fn("false"), lit(1L), lit(0L)).cast("long").as("f_false"),
        // hsin over radians inputs, floor-quantized to survive the
        // engines' op-order ulps (same trick as f_idf_q)
        floor(V.fn("hsin", lit(6371.0087714),
          radians(lit(10.0)), radians(lit(20.0)),
          radians(V.fn("mod", col("doc_id"), lit(120)) - lit(59.5)),
          radians(V.fn("mod", col("doc_id") * lit(7), lit(360)) - lit(179.5)))
          * lit(1e3)).cast("long").as("f_hsin_q"))
        .orderBy("doc_id")
    })
  )

  // ---------------------------------------------------------------- //
  //  oracleSql: DuckDB twins (omitted → rows-only check)             //
  // ---------------------------------------------------------------- //

  /** Shared CTE prefix: tokenization (the corpus is single-space
    * separated [a-z0-9]+ words, where UAX#29 == string_split), quantized
    * doc lengths (SmallFloat intToByte4∘byte4ToInt in integer SQL), df
    * and double-precision BM25 — textually the same arithmetic as
    * RelationalPath so rank comparisons are robust. */
  private val bm25Cte: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
      |dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      |dlq AS (SELECT doc_id, (CASE WHEN dl < 8 THEN dl ELSE ((((dl >> (CAST(floor(log2(dl)) AS INT) - 3)) & 7) | 8) << (CAST(floor(log2(dl)) AS INT) - 3)) END)::BIGINT AS dlq FROM dl),
      |cs AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
      |scored AS (SELECT t.term, t.doc_id, ln(1.0 + (cs.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + 1.2 * (0.25 + 0.75 * q.dlq / cs.avgdl))) AS score FROM tf t JOIN dfs d USING (term) JOIN dlq q USING (doc_id), cs)"""
      .stripMargin

  /** Tie-break = url order = (source, doc_id) order — identical to the
    * engine's docId (url-rank) tie-break, see FIXTURES.md §1/§3. */
  /** Constant-score term-set query: any matching term, rank = url order. */
  private def constSetSql(termPred: String): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |sel AS (SELECT DISTINCT t.doc_id FROM tok t WHERE $termPred)
       |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
       |  SELECT row_number() OVER (ORDER BY d.source ASC, sel.doc_id ASC) AS rank, sel.doc_id
       |  FROM sel JOIN documents d USING (doc_id)) WHERE rank <= 10 ORDER BY rank""".stripMargin

  private def topkSql(body: String): String =
    s"$bm25Cte, sel AS ($body) SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id))) WHERE rank <= 10 ORDER BY rank"

  def oracleSql: Map[String, String] = Map(
    "ir_doclen" ->
      """WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents)
        |SELECT doc_id, dl::BIGINT AS dl,
        |  (CASE WHEN dl < 8 THEN dl ELSE ((((dl >> (CAST(floor(log2(dl)) AS INT) - 3)) & 7) | 8) << (CAST(floor(log2(dl)) AS INT) - 3)) END)::BIGINT AS dlq
        |FROM dl ORDER BY doc_id""".stripMargin,
    "ir_termstats" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS ttf
        |FROM tok GROUP BY term ORDER BY term""".stripMargin,
    "ir_collstats" ->
      """SELECT count(*)::BIGINT AS doc_count,
        |  sum(len(string_split(text, ' ')))::BIGINT AS sum_ttf FROM documents""".stripMargin,
    "ir_q01_term" -> topkSql(
      "SELECT doc_id, score AS s FROM scored WHERE term = 'spark'"),
    "ir_q02_term_hot" -> topkSql(
      "SELECT doc_id, score AS s FROM scored WHERE term = 'the'"),
    "ir_q03_term_absent" -> topkSql(
      "SELECT doc_id, score AS s FROM scored WHERE term = 'zzzmissing'"),
    "ir_q04_and" -> topkSql(
      "SELECT doc_id, sum(score) AS s FROM scored WHERE term IN ('spark','join') GROUP BY doc_id HAVING count(*) = 2"),
    "ir_q05_and3" -> topkSql(
      "SELECT doc_id, sum(score) AS s FROM scored WHERE term IN ('spark','the','merge') GROUP BY doc_id HAVING count(*) = 3"),
    "ir_q06_or" -> topkSql(
      "SELECT doc_id, sum(score) AS s FROM scored WHERE term IN ('window','batch') GROUP BY doc_id HAVING count(*) >= 1"),
    "ir_q07_or_mm2" -> topkSql(
      "SELECT doc_id, sum(score) AS s FROM scored WHERE term IN ('sort','merge','window') GROUP BY doc_id HAVING count(*) >= 2"),
    "ir_q08_not" -> topkSql(
      "SELECT s1.doc_id, s1.score AS s FROM scored s1 WHERE s1.term = 'spark' AND NOT EXISTS (SELECT 1 FROM scored s2 WHERE s2.term = 'merge' AND s2.doc_id = s1.doc_id)"),
    "ir_q09_filter" -> topkSql(
      "SELECT s1.doc_id, s1.score AS s FROM scored s1 WHERE s1.term = 'spark' AND s1.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"),
    "ir_q10_phrase" ->
      "SELECT doc_id FROM documents WHERE ' ' || text || ' ' LIKE '% batch batch %' ORDER BY doc_id",
    "ir_q11_prefix" -> constSetSql("t.term LIKE 's%'"),
    "ir_q12_range" -> constSetSql("t.term >= 'batch' AND t.term <= 'data'"),
    "ir_q13_fuzzy" -> constSetSql("levenshtein(t.term, 'spork') <= 1"),
    "ir_q14_dismax" -> topkSql(
      "SELECT doc_id, max(score) + 0.3 * (sum(score) - max(score)) AS s FROM scored WHERE term IN ('spark','merge') GROUP BY doc_id"),
    "ir_q15_boost" -> topkSql(
      "SELECT doc_id, sum(score * (CASE term WHEN 'spark' THEN 2.0 ELSE 1.0 END)) AS s FROM scored WHERE term IN ('spark','merge') GROUP BY doc_id"),
    "ir_q16_page2" ->
      s"""$bm25Cte, sel AS (SELECT doc_id, score AS s FROM scored WHERE term = 'spark')
         |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
         |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
         |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
         |WHERE rank BETWEEN 11 AND 20 ORDER BY rank""".stripMargin,
    "ir_q17_collapse" ->
      s"""$bm25Cte, sel AS (SELECT s1.doc_id, s1.score AS s, d.lang, d.source AS src
         |  FROM scored s1 JOIN documents d USING (doc_id) WHERE s1.term = 'spark')
         |SELECT lang, doc_id FROM (
         |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY s DESC, src ASC, doc_id ASC) AS rn
         |  FROM sel) WHERE rn = 1 ORDER BY lang""".stripMargin,
    "ir_q18_facet" ->
      s"""$bm25Cte
         |SELECT d.lang, count(*)::BIGINT AS n FROM scored s1
         |JOIN documents d USING (doc_id) WHERE s1.term = 'spark'
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "ir_q19_matchall" ->
      """SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
        |  SELECT row_number() OVER (ORDER BY source ASC, doc_id ASC) AS rank, doc_id
        |  FROM documents) WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "ir_q20_tsrange" -> topkSql(
      "SELECT s1.doc_id, s1.score AS s FROM scored s1 WHERE s1.term = 'spark' AND s1.doc_id IN (SELECT doc_id FROM documents WHERE TIMESTAMP '2025-10-24 00:00:00' + to_seconds(doc_id) BETWEEN TIMESTAMP '2025-10-24 00:02:00' AND TIMESTAMP '2025-10-24 00:06:00')"),
    "ir_q21_qstring" -> topkSql(
      "SELECT doc_id, sum(score) AS s FROM scored WHERE term IN ('spark','join') GROUP BY doc_id HAVING count(*) = 2"),
    "ir_q22_qstring_attr" -> topkSql(
      "SELECT s1.doc_id, s1.score AS s FROM scored s1 WHERE s1.term = 'spark' AND NOT EXISTS (SELECT 1 FROM scored s2 WHERE s2.term = 'merge' AND s2.doc_id = s1.doc_id) AND s1.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"),
    "ir_q28_attr_should" -> topkSql(
      "SELECT d0.doc_id, coalesce(s1.score, 0.0) AS s FROM documents d0 LEFT JOIN (SELECT doc_id, score FROM scored WHERE term = 'spark') s1 USING (doc_id) WHERE d0.lang = 'en'"),
    "ir_q29_sorted" ->
      """SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
        |  SELECT row_number() OVER (ORDER BY length(text) DESC, source ASC, doc_id ASC) AS rank, doc_id
        |  FROM documents) WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // edismax twin: url-field BM25 restated over the five url tokens
    // (https example com <source> <12-digit id> — dl = 5 exactly, so
    // avgdl = 5.0 and dlq = 5), DisMax per (doc, term) across fields
    // with boosts 2/1, sum over terms, mm = 1
    "ir_q30_edismax" ->
      (bm25Cte +
        """, utok AS (SELECT doc_id, unnest(['https','example','com', source,
          |    lpad(CAST(doc_id AS VARCHAR), 12, '0')]) AS term FROM documents),
          |utf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM utok GROUP BY 1, 2),
          |udfs AS (SELECT term, count(*)::BIGINT AS df FROM utf GROUP BY 1),
          |ucs AS (SELECT count(*)::BIGINT AS n, 5.0::DOUBLE AS avgdl FROM documents),
          |uscored AS (SELECT t.term, t.doc_id,
          |    ln(1.0 + (ucs.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + 1.2 * (0.25 + 0.75 * 5 / ucs.avgdl))) AS score
          |  FROM utf t JOIN udfs d USING (term), ucs),
          |allf AS (
          |  SELECT doc_id, term, 2.0 * score AS ws FROM scored WHERE term IN ('spark','src3')
          |  UNION ALL
          |  SELECT doc_id, term, 1.0 * score AS ws FROM uscored WHERE term IN ('spark','src3')),
          |dmx AS (SELECT doc_id, term, max(ws) AS ts FROM allf GROUP BY 1, 2),
          |sel AS (SELECT doc_id, sum(ts) AS s FROM dmx GROUP BY 1 HAVING count(*) >= 1)
          |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
          |WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // edismax tie+bf twin: dmx folds the losing field in at 0.3; the
    // additive boost ln(dl+1) lands AFTER the per-doc sum(ts), matching
    // the engine's fold order exactly
    "ir_q35_edismax_tiebf" ->
      (bm25Cte +
        """, utok AS (SELECT doc_id, unnest(['https','example','com', source,
          |    lpad(CAST(doc_id AS VARCHAR), 12, '0')]) AS term FROM documents),
          |utf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM utok GROUP BY 1, 2),
          |udfs AS (SELECT term, count(*)::BIGINT AS df FROM utf GROUP BY 1),
          |ucs AS (SELECT count(*)::BIGINT AS n, 5.0::DOUBLE AS avgdl FROM documents),
          |uscored AS (SELECT t.term, t.doc_id,
          |    ln(1.0 + (ucs.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + 1.2 * (0.25 + 0.75 * 5 / ucs.avgdl))) AS score
          |  FROM utf t JOIN udfs d USING (term), ucs),
          |allf AS (
          |  SELECT doc_id, term, 2.0 * score AS ws FROM scored WHERE term IN ('spark','src3')
          |  UNION ALL
          |  SELECT doc_id, term, 1.0 * score AS ws FROM uscored WHERE term IN ('spark','src3')),
          |dmx AS (SELECT doc_id, term,
          |    max(ws) + 0.3 * (sum(ws) - max(ws)) AS ts FROM allf GROUP BY 1, 2),
          |sel0 AS (SELECT doc_id, sum(ts) AS s0 FROM dmx GROUP BY 1 HAVING count(*) >= 1),
          |sel AS (SELECT sel0.doc_id, s0 + ln(l.dl + 1) AS s
          |  FROM sel0 JOIN dl l USING (doc_id))
          |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
          |WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // edismax pf twin: phrase tf via adjacent-pair list comprehension,
    // phrase idf = 2·idf(batch) (a+a is exact in IEEE, so it equals the
    // engine's phrase-order idf fold), boost added AFTER the base score
    "ir_q36_edismax_pf" ->
      (bm25Cte +
        """, toklist AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |ph AS (SELECT doc_id, len([i FOR i IN range(1, len(t))
          |    IF t[i] = 'batch' AND t[i+1] = 'batch'])::DOUBLE AS ptf FROM toklist),
          |pidf AS (SELECT 2 * ln(1.0 + (cs.n - d.df + 0.5) / (d.df + 0.5)) AS sumidf
          |  FROM dfs d, cs WHERE d.term = 'batch'),
          |psc AS (SELECT p.doc_id,
          |    pidf.sumidf * (p.ptf / (p.ptf + 1.2 * (0.25 + 0.75 * q.dlq / cs.avgdl))) AS ps
          |  FROM ph p JOIN dlq q USING (doc_id), pidf, cs WHERE p.ptf > 0),
          |sel AS (SELECT s0.doc_id, s0.s + 0.5 * coalesce(psc.ps, 0.0) AS s
          |  FROM (SELECT doc_id, score AS s FROM scored WHERE term = 'batch') s0
          |  LEFT JOIN psc USING (doc_id))
          |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
          |WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // elevation twin: pinned rows 1-2 literal, organic top-10 spark
    // hits minus pinned/excluded re-ranked +2 in original rank order
    "ir_q42_elevate" ->
      (bm25Cte +
        """, sel AS (SELECT doc_id, score AS s FROM scored WHERE term = 'spark'),
          |top AS (SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
          |  WHERE rank <= 13)
          |SELECT rank, doc_id FROM (
          |  SELECT CAST(1 AS INTEGER) AS rank, CAST(7 AS BIGINT) AS doc_id
          |  UNION ALL SELECT CAST(2 AS INTEGER), CAST(3 AS BIGINT)
          |  UNION ALL
          |  SELECT CAST(row_number() OVER (ORDER BY rank) + 2 AS INTEGER) AS rank, doc_id
          |  FROM top WHERE doc_id NOT IN (7, 3, 42))
          |WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // bq twin: base score left-joined with the boost query's scores,
    // combine order matching the engine (s + 1.5·coalesce)
    "ir_q41_edismax_bq" ->
      (bm25Cte +
        """, sel AS (SELECT s0.doc_id, s0.s + 1.5 * coalesce(b.s, 0.0) AS s
          |  FROM (SELECT doc_id, score AS s FROM scored WHERE term = 'spark') s0
          |  LEFT JOIN (SELECT doc_id, score AS s FROM scored WHERE term = 'merge') b
          |  USING (doc_id))
          |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
          |WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // frange twin: the engine's dl (analyzer token count) = split
    // length on the fixture corpus; constant-score rank = url order
    "ir_q40_frange" ->
      """WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |sel AS (SELECT doc_id FROM dl WHERE dl % 7 BETWEEN 2 AND 4)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
        |  SELECT row_number() OVER (ORDER BY d.source ASC, sel.doc_id ASC) AS rank, sel.doc_id
        |  FROM sel JOIN documents d USING (doc_id)) WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // pf2 twin: per-bigram phrase tf via adjacent-pair comprehension,
    // idf sums written as explicit two-operand adds in phrase order,
    // boosts nested in gram order after the base sum (engine fold)
    "ir_q39_edismax_pf2" ->
      (bm25Cte +
        """, toklist AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |idf AS (SELECT term, ln(1.0 + (cs.n - df + 0.5) / (df + 0.5)) AS v FROM dfs, cs),
          |ph1 AS (SELECT doc_id, len([i FOR i IN range(1, len(t))
          |    IF t[i] = 'batch' AND t[i+1] = 'batch'])::DOUBLE AS ptf FROM toklist),
          |ph2 AS (SELECT doc_id, len([i FOR i IN range(1, len(t))
          |    IF t[i] = 'batch' AND t[i+1] = 'merge'])::DOUBLE AS ptf FROM toklist),
          |ps1 AS (SELECT p.doc_id,
          |    ((SELECT v FROM idf WHERE term = 'batch') + (SELECT v FROM idf WHERE term = 'batch'))
          |      * (p.ptf / (p.ptf + 1.2 * (0.25 + 0.75 * q.dlq / cs.avgdl))) AS ps
          |  FROM ph1 p JOIN dlq q USING (doc_id), cs WHERE p.ptf > 0),
          |ps2 AS (SELECT p.doc_id,
          |    ((SELECT v FROM idf WHERE term = 'batch') + (SELECT v FROM idf WHERE term = 'merge'))
          |      * (p.ptf / (p.ptf + 1.2 * (0.25 + 0.75 * q.dlq / cs.avgdl))) AS ps
          |  FROM ph2 p JOIN dlq q USING (doc_id), cs WHERE p.ptf > 0),
          |sel AS (SELECT s0.doc_id,
          |    (s0.s + 0.4 * coalesce(ps1.ps, 0.0)) + 0.4 * coalesce(ps2.ps, 0.0) AS s
          |  FROM (SELECT doc_id, sum(score) AS s FROM scored
          |        WHERE term IN ('batch','merge') GROUP BY doc_id) s0
          |  LEFT JOIN ps1 USING (doc_id) LEFT JOIN ps2 USING (doc_id))
          |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
          |WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // highlight twin: the whole best-window algorithm in list SQL —
    // match bitmap, sliding-window sums, list_position = earliest-max
    // (the engine's tie rule), <em>-wrap + single-space rejoin (the
    // fixture separator, same assumption as every tokenizing oracle)
    "ir_q38_highlight" ->
      """WITH hl AS (SELECT doc_id, string_split(text, ' ') AS t,
        |    LEAST(8, len(string_split(text, ' '))) AS w,
        |    list_transform(string_split(text, ' '),
        |      x -> CASE WHEN x IN ('spark', 'merge') THEN 1 ELSE 0 END) AS m
        |  FROM documents),
        |sc AS (SELECT doc_id, t, m, w,
        |    [list_sum(m[i:i+w-1]) FOR i IN range(1, len(t) - w + 2)] AS scores
        |  FROM hl),
        |b AS (SELECT doc_id, t, m, w,
        |    list_aggregate(scores, 'max') AS bc,
        |    list_position(scores, list_aggregate(scores, 'max')) AS bi
        |  FROM sc)
        |SELECT doc_id,
        |  CASE WHEN bc IS NULL OR bc <= 0 THEN ''
        |    ELSE array_to_string(
        |      [CASE WHEN m[j] = 1 THEN '<em>' || t[j] || '</em>' ELSE t[j] END
        |       FOR j IN range(bi, bi + w)], ' ')
        |  END AS snippet
        |FROM b ORDER BY doc_id""".stripMargin,
    // MLT twin: the seed doc's per-term tf from its own token list,
    // tf·idf ranked (score DESC, term ASC), top 2 OR-ed through the
    // standard BM25 rank — every arithmetic op mirrored (2-element
    // sums are IEEE-order-exact; see the engine-side comment)
    "ir_q37_mlt" ->
      (bm25Cte +
        """, seedtok AS (SELECT unnest(string_split(text, ' ')) AS term
          |    FROM documents WHERE doc_id = 42),
          |seedtf AS (SELECT term, count(*)::BIGINT AS ftf FROM seedtok GROUP BY 1),
          |mlt AS (SELECT s.term,
          |    s.ftf * ln(1.0 + (cs.n - d.df + 0.5) / (d.df + 0.5)) AS ms
          |  FROM seedtf s JOIN dfs d USING (term), cs),
          |top2 AS (SELECT term FROM (
          |    SELECT term, row_number() OVER (ORDER BY ms DESC, term ASC) AS rn
          |    FROM mlt) WHERE rn <= 2),
          |sel AS (SELECT doc_id, sum(score) AS s FROM scored
          |  WHERE term IN (SELECT term FROM top2) GROUP BY doc_id)
          |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
          |WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // [explain] twin: the top-10 OR hits, one row per (hit, matched
    // term) with the integer explanation payload (tf, df, dlq)
    "ir_q31_explain" ->
      (bm25Cte +
        """, sel AS (SELECT doc_id, sum(score) AS s FROM scored
          |    WHERE term IN ('spark','merge') GROUP BY doc_id HAVING count(*) >= 1),
          |top AS (SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY s DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM (SELECT sel.doc_id, sel.s, d.source AS src FROM sel JOIN documents d USING (doc_id)))
          |  WHERE rank <= 10)
          |SELECT top.rank, top.doc_id, t.term, t.tf, f.df, q.dlq
          |FROM top JOIN tf t USING (doc_id) JOIN dfs f USING (term)
          |  JOIN dlq q ON q.doc_id = top.doc_id
          |WHERE t.term IN ('spark','merge')
          |ORDER BY rank, term""".stripMargin),
    // ngram-suggester twin: the suggestions must equal the plain
    // dictionary prefix scan (the materialized gram table is an index,
    // not a semantic change)
    "ir_q32_suggest_ngram" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1)
        |SELECT term, df FROM dfs WHERE term LIKE 'sp%'
        |ORDER BY df DESC, term ASC LIMIT 10""".stripMargin,
    // term-vectors twin: per-(doc, term) tf + 0-based position span
    "ir_q33_termvectors" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents WHERE doc_id < 5)
        |SELECT doc_id, term, count(*)::BIGINT AS tf,
        |  (min(pos) - 1)::BIGINT AS first_pos, (max(pos) - 1)::BIGINT AS last_pos
        |FROM tok GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin,
    // LTR twin: top-30 OR candidates (engine tie-break), linear model
    // 1.0·s + 0.001·dl + (−0.0005)·dlq in the same left-fold order
    "ir_q34_ltr" ->
      (bm25Cte +
        """, sel AS (SELECT doc_id, sum(score) AS s FROM scored
          |    WHERE term IN ('spark','merge') GROUP BY doc_id),
          |cand AS (SELECT doc_id, s, src FROM (
          |  SELECT sel.doc_id, sel.s, d.source AS src,
          |    row_number() OVER (ORDER BY sel.s DESC, d.source ASC, sel.doc_id ASC) AS rn
          |  FROM sel JOIN documents d USING (doc_id)) WHERE rn <= 30),
          |feat AS (SELECT c.doc_id, c.src,
          |    1.0 * c.s + 0.001 * l.dl + -0.0005 * q.dlq AS ltr
          |  FROM cand c JOIN dl l USING (doc_id) JOIN dlq q ON q.doc_id = c.doc_id)
          |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY ltr DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM feat) WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // tree-ensemble twin: the same two trees restated as nested CASEs,
    // weight fold in declaration order (1.0·T1 + 0.5·T2)
    "ir_q54_ltr_trees" ->
      (bm25Cte +
        """, sel AS (SELECT doc_id, sum(score) AS s FROM scored
          |    WHERE term IN ('spark','merge') GROUP BY doc_id),
          |cand AS (SELECT doc_id, s, src FROM (
          |  SELECT sel.doc_id, sel.s, d.source AS src,
          |    row_number() OVER (ORDER BY sel.s DESC, d.source ASC, sel.doc_id ASC) AS rn
          |  FROM sel JOIN documents d USING (doc_id)) WHERE rn <= 30),
          |feat AS (SELECT c.doc_id, c.src,
          |    1.0 * (CASE WHEN l.dl <= 40.0 THEN 0.2
          |           ELSE (CASE WHEN c.s <= 1.5 THEN 0.05 ELSE 0.5 END) END)
          |  + 0.5 * (CASE WHEN q.dlq <= 35.0 THEN 0.1 ELSE -0.3 END) AS ltr
          |  FROM cand c JOIN dl l USING (doc_id) JOIN dlq q ON q.doc_id = c.doc_id)
          |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
          |  SELECT row_number() OVER (ORDER BY ltr DESC, src ASC, doc_id ASC) AS rank, doc_id
          |  FROM feat) WHERE rank <= 10 ORDER BY rank""".stripMargin),
    "dd_exact" ->
      """SELECT min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_docs
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "dd_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END AS gs
        |  FROM toks), unnest(gs) AS u(g)),
        |sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS i
        |  FROM sh l JOIN sh r ON l.g = r.g AND l.doc_id < r.doc_id GROUP BY 1, 2)
        |SELECT a, b FROM inter
        |JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.12
        |ORDER BY a, b""".stripMargin,
    // exact-Jaccard pair set ≥ threshold — the LSH gate's verification
    // step makes its output deterministic and SQL-checkable (recall at
    // the planted similarities ≥ 0.9 is 1 − (1−s⁴)¹⁶ ≈ 1)
    "dd_minhash_lsh" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END AS gs
        |  FROM toks), unnest(gs) AS u(g)),
        |sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS i
        |  FROM sh l JOIN sh r ON l.g = r.g AND l.doc_id < r.doc_id GROUP BY 1, 2)
        |SELECT a, b, i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard FROM inter
        |JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.12
        |ORDER BY a, b""".stripMargin,
    // transitive closure of the exact-Jaccard pair set via recursive
    // CTE (min reachable id = component) — the large-star/small-star
    // result restated declaratively
    "dd_components" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |    ELSE [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] END AS gs
        |  FROM toks), unnest(gs) AS u(g)),
        |sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
        |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*)::BIGINT AS i
        |  FROM sh l JOIN sh r ON l.g = r.g AND l.doc_id < r.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a, b FROM inter
        |  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        |  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.12),
        |undirected AS (SELECT a AS u, b AS v FROM pairs
        |  UNION SELECT b AS u, a AS v FROM pairs),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.id, e.v FROM reach JOIN undirected e ON reach.r = e.u)
        |SELECT id::BIGINT AS doc_id, min(r)::BIGINT AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // full SimHash restated in mod-2^64 HUGEINT SQL: FNV-1a per token,
    // ±1 bit voting, pairwise popcount ≤ maxDist — exact because the
    // band bucketing guarantees recall at maxDist=3
    "dd_simhash" ->
      """WITH tokh AS (SELECT doc_id, list_transform(string_split(text,' '), t ->
        |    list_reduce(list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(string_split(t,''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS hs
        |  FROM documents),
        |bits AS (SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
        |  FROM tokh, unnest(hs) AS u(h), generate_series(0,63) g(b) GROUP BY doc_id, b),
        |shh AS (SELECT doc_id, sum(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS h
        |  FROM bits GROUP BY doc_id),
        |shs AS (SELECT doc_id,
        |    (CASE WHEN h >= 9223372036854775808::HUGEINT THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS sh
        |  FROM shh)
        |SELECT l.doc_id AS a, r.doc_id AS b, CAST(bit_count(xor(l.sh, r.sh)) AS INTEGER) AS dist
        |FROM shs l JOIN shs r ON l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.sh, r.sh)) <= 3 ORDER BY a, b""".stripMargin,
    // same SimHash-in-SQL oracle at the wide distance: the multi-table
    // permuted candidate generation has guaranteed recall at maxDist=8,
    // so the engine's output equals the brute-force pair set
    "dd_simhash_wide" ->
      """WITH tokh AS (SELECT doc_id, list_transform(string_split(text,' '), t ->
        |    list_reduce(list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(string_split(t,''), c -> ord(c)::HUGEINT)),
        |      (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS hs
        |  FROM documents),
        |bits AS (SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
        |  FROM tokh, unnest(hs) AS u(h), generate_series(0,63) g(b) GROUP BY doc_id, b),
        |shh AS (SELECT doc_id, sum(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS h
        |  FROM bits GROUP BY doc_id),
        |shs AS (SELECT doc_id,
        |    (CASE WHEN h >= 9223372036854775808::HUGEINT THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS sh
        |  FROM shh)
        |SELECT l.doc_id AS a, r.doc_id AS b, CAST(bit_count(xor(l.sh, r.sh)) AS INTEGER) AS dist
        |FROM shs l JOIN shs r ON l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.sh, r.sh)) <= 8 ORDER BY a, b""".stripMargin,
    "tx_counts" ->
      """SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  length(text)::BIGINT AS n_chars,
        |  len(list_filter(string_split(text, ' '), x -> x IN
        |    ('a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with')))::BIGINT AS n_stop
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx_fp_md5" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
    "tx_ngrams" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |SELECT doc_id,
        |  sum(CASE WHEN length(t) >= 2 THEN least(4, length(t)) - 1 ELSE 0 END)::BIGINT AS n_edge,
        |  sum(CASE WHEN length(t) >= 3 THEN length(t) - 2 ELSE 0 END)::BIGINT AS n_char3
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // quality blend re-stated in SQL with the identical IEEE-double op
    // sequence; integer ppm output makes the hash comparison exact
    "tx_quality" ->
      """WITH c AS (SELECT doc_id,
        |  len(string_split(text,' '))::BIGINT AS n_tokens,
        |  length(text)::BIGINT AS n_chars,
        |  len(list_filter(string_split(text,' '), x -> x IN
        |    ('a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with')))::BIGINT AS n_stop
        | FROM documents),
        |q AS (SELECT doc_id,
        |  least(n_tokens / 32.0, 1.0) * 0.5
        |  + least((n_stop / CAST(n_tokens AS DOUBLE)) * 5.0, 1.0) * 0.25
        |  + (CASE WHEN ((n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE)) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.25 AS raw
        | FROM c)
        |SELECT doc_id, round(raw * 1000000)::BIGINT AS quality_ppm FROM q ORDER BY doc_id""".stripMargin,
    // n-gram profile counting via non-overlapping replace() — exact for
    // these profiles (no gram can self-overlap); tie-break (score desc,
    // lang asc) mirrors TextStats.langIdOf
    "tx_langid" ->
      """WITH grams(lang, g) AS (VALUES
        | ('en',' th'),('en','the'),('en','he '),('en',' an'),('en','and'),('en','nd '),('en',' of'),('en','of '),('en','ing'),('en',' to'),
        | ('de','der'),('de','ie '),('de',' de'),('de','ein'),('de','sch'),('de','ich'),('de','nde'),('de','die'),('de','und'),('de',' un'),
        | ('fr',' de'),('fr','de '),('fr',' le'),('fr','es '),('fr','le '),('fr','ent'),('fr',' la'),('fr','tio'),('fr','on '),('fr','que'),
        | ('es',' de'),('es','de '),('es','os '),('es',' la'),('es','la '),('es','el '),('es',' el'),('es','que'),('es',' qu'),('es','ión'),
        | ('zh','的'),('zh','了'),('zh','是'),('zh','在'),('zh','我'),('zh','有'),('zh','他'),('zh','这'),('zh','中'),('zh','大')),
        |t AS (SELECT doc_id, lower(text) AS t FROM documents),
        |cnt AS (SELECT doc_id, lang,
        |    sum((length(t) - length(replace(t, g, ''))) // length(g))::BIGINT AS s
        |  FROM t CROSS JOIN grams GROUP BY doc_id, lang),
        |best AS (SELECT doc_id, lang, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang ASC) AS rn
        |  FROM cnt)
        |SELECT doc_id, CASE WHEN s = 0 THEN 'und' ELSE lang END AS lang_pred
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // FNV-1a + Karp-Rabin in mod-2^64 HUGEINT arithmetic (sequential
    // list_reduce folds = the same wraparound Long ops as the engine)
    "tx_fp_rolling" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |fp AS (SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::HUGEINT, list_transform(ts, t ->
        |      list_reduce(
        |        list_prepend(14695981039346656037::HUGEINT,
        |                     list_transform(string_split(t,''), c -> ord(c)::HUGEINT)),
        |        (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT))),
        |    (acc, th) -> (acc * 1000003::HUGEINT + th) % 18446744073709551616::HUGEINT) AS h
        | FROM toks)
        |SELECT doc_id,
        |  (CASE WHEN h >= 9223372036854775808::HUGEINT THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS fp64
        |FROM fp ORDER BY doc_id""".stripMargin,
    // exact cosine top-k; sequential list_reduce folds reproduce the
    // engine's aggregate() left-fold bit-for-bit, so ranks are exact
    "ann_brute" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        |pairs AS (SELECT q.q_id, e.vec_id,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(e.embedding)),
        |      i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)), (a,x) -> a + x)
        |  / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(e.embedding)),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), (a,x) -> a + x))
        |     * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(q.qe)),
        |      i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE)), (a,x) -> a + x))) AS cos
        | FROM e CROSS JOIN q),
        |r AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank FROM pairs)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // kmeans twin: the whole fixed-point algorithm restated in SQL —
    // integer distances/sums are order-free, so Spark partitioning
    // cannot perturb the result (floor(s/n) exact: |s| < 2^31 ≪ 2^53)
    "sx_kmeans" ->
      """WITH fx AS (SELECT vec_id, list_transform(embedding, v -> CAST(round(v::DOUBLE * 1048576) AS BIGINT)) AS fx FROM embeddings),
        |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS c, fx FROM (SELECT vec_id, fx FROM fx ORDER BY vec_id LIMIT 4)),
        |a1 AS (SELECT f.vec_id,
        |  (SELECT c FROM (
        |     SELECT c0.c AS c, list_reduce(list_prepend(0::BIGINT,
        |       list_transform(generate_series(1, len(f.fx)), i -> (f.fx[i] - c0.fx[i]) * (f.fx[i] - c0.fx[i]))),
        |       (a,x) -> a + x) AS d
        |     FROM c0) ORDER BY d, c LIMIT 1) AS cluster
        |  FROM fx f),
        |sums AS (SELECT a1.cluster AS c, g.i AS pos, sum(f.fx[g.i]) AS s, count(*) AS n
        |  FROM a1 JOIN fx f USING (vec_id) CROSS JOIN generate_series(1, 64) g(i)
        |  GROUP BY 1, 2),
        |c1 AS (SELECT c0.c, coalesce(u.fx2, c0.fx) AS fx
        |  FROM c0 LEFT JOIN (
        |    SELECT c, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY pos) AS fx2 FROM sums GROUP BY c) u
        |  USING (c)),
        |a2 AS (SELECT f.vec_id,
        |  (SELECT c FROM (
        |     SELECT c1.c AS c, list_reduce(list_prepend(0::BIGINT,
        |       list_transform(generate_series(1, len(f.fx)), i -> (f.fx[i] - c1.fx[i]) * (f.fx[i] - c1.fx[i]))),
        |       (a,x) -> a + x) AS d
        |     FROM c1) ORDER BY d, c LIMIT 1) AS cluster
        |  FROM fx f)
        |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM a2 ORDER BY vec_id""".stripMargin,
    // IVF twin: the ENTIRE pipeline restated — fixed-point k-means
    // (shared with sx_kmeans), integer centroid-distance probe ranking
    // (d, c) ties-to-lowest like the engine's sorted structs, candidate
    // clusters, then the bit-identical fold-order cosine re-rank
    "ann_ivf" ->
      """WITH fx AS (SELECT vec_id, list_transform(embedding, v -> CAST(round(v::DOUBLE * 1048576) AS BIGINT)) AS fx FROM embeddings),
        |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS c, fx FROM (SELECT vec_id, fx FROM fx ORDER BY vec_id LIMIT 4)),
        |a1 AS (SELECT f.vec_id,
        |  (SELECT c FROM (
        |     SELECT c0.c AS c, list_reduce(list_prepend(0::BIGINT,
        |       list_transform(generate_series(1, len(f.fx)), i -> (f.fx[i] - c0.fx[i]) * (f.fx[i] - c0.fx[i]))),
        |       (a,x) -> a + x) AS d
        |     FROM c0) ORDER BY d, c LIMIT 1) AS cluster
        |  FROM fx f),
        |sums AS (SELECT a1.cluster AS c, g.i AS pos, sum(f.fx[g.i]) AS s, count(*) AS n
        |  FROM a1 JOIN fx f USING (vec_id) CROSS JOIN generate_series(1, 64) g(i)
        |  GROUP BY 1, 2),
        |c1 AS (SELECT c0.c, coalesce(u.fx2, c0.fx) AS fx
        |  FROM c0 LEFT JOIN (
        |    SELECT c, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY pos) AS fx2 FROM sums GROUP BY c) u
        |  USING (c)),
        |a2 AS (SELECT f.vec_id,
        |  (SELECT c FROM (
        |     SELECT c1.c AS c, list_reduce(list_prepend(0::BIGINT,
        |       list_transform(generate_series(1, len(f.fx)), i -> (f.fx[i] - c1.fx[i]) * (f.fx[i] - c1.fx[i]))),
        |       (a,x) -> a + x) AS d
        |     FROM c1) ORDER BY d, c LIMIT 1) AS cluster
        |  FROM fx f),
        |qfx AS (SELECT vec_id AS q_id, fx FROM fx WHERE vec_id < 8),
        |qd AS (SELECT q.q_id, c1.c,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(generate_series(1, len(q.fx)), i -> (q.fx[i] - c1.fx[i]) * (q.fx[i] - c1.fx[i]))),
        |      (a,x) -> a + x) AS d
        |  FROM qfx q CROSS JOIN c1),
        |probe AS (SELECT q_id, c AS cluster FROM (
        |    SELECT q_id, c, row_number() OVER (PARTITION BY q_id ORDER BY d, c) AS rn FROM qd)
        |  WHERE rn <= 2),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        |cand AS (SELECT p.q_id, a2.vec_id FROM probe p JOIN a2 ON a2.cluster = p.cluster),
        |pairs AS (SELECT cd.q_id, cd.vec_id,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(e.embedding)),
        |      i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)), (a,x) -> a + x)
        |  / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(e.embedding)),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), (a,x) -> a + x))
        |     * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(q.qe)),
        |      i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE)), (a,x) -> a + x))) AS cos
        | FROM cand cd JOIN e ON e.vec_id = cd.vec_id JOIN q ON q.q_id = cd.q_id),
        |r AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank FROM pairs)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "sx_knn" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 3),
        |q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id = 3),
        |pairs AS (SELECT q.q_id, e.vec_id,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(e.embedding)),
        |      i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)), (a,x) -> a + x)
        |  / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(e.embedding)),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), (a,x) -> a + x))
        |     * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(q.qe)),
        |      i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE)), (a,x) -> a + x))) AS cos
        | FROM e CROSS JOIN q),
        |r AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank FROM pairs)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // full SRP-LSH restated in SQL: the deterministic hyperplane hash
    // (splitmix-style finalizer in mod-2^64 HUGEINT arithmetic, 32-bit
    // split modmul), bucket assignment, in-bucket exact cosine re-rank
    "ann_lsh" ->
      """WITH w AS (
        |  SELECT p, d,
        |    (CASE WHEN h4 >= 9223372036854775808::HUGEINT THEN h4 - 18446744073709551616::HUGEINT ELSE h4 END)::DOUBLE
        |      / CAST(9223372036854775807 AS DOUBLE) AS wt
        |  FROM (
        |    SELECT p, d, xor(h3, h3 >> 33) AS h4 FROM (
        |      SELECT p, d,
        |        (((h2 >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |         + (h2 % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT) % 18446744073709551616::HUGEINT AS h3
        |      FROM (
        |        SELECT p, d, xor(h1, h1 >> 33) AS h2 FROM (
        |          SELECT p, d, (11400714819323198485::HUGEINT * (p*257 + d + 1)) % 18446744073709551616::HUGEINT AS h1
        |          FROM generate_series(0,5) s1(p), generate_series(0,63) s2(d)) a) a2) b) c),
        |wl AS (SELECT p, list(wt ORDER BY d) AS ws FROM w GROUP BY p),
        |bk AS (SELECT e.vec_id, sum(CASE WHEN
        |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1,64),
        |      i -> e.embedding[i]::DOUBLE * wl.ws[i])), (a,x) -> a + x) >= 0
        |    THEN (1::BIGINT << wl.p) ELSE 0 END)::BIGINT AS bucket
        |  FROM embeddings e CROSS JOIN wl GROUP BY e.vec_id),
        |q AS (SELECT e.vec_id AS q_id, e.embedding AS qe, bk.bucket
        |      FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id WHERE e.vec_id < 8),
        |cand AS (SELECT q.q_id, e.vec_id, q.qe, e.embedding AS ee
        |  FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id JOIN q ON bk.bucket = q.bucket),
        |pairs AS (SELECT q_id, vec_id,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(ee)),
        |      i -> ee[i]::DOUBLE * qe[i]::DOUBLE)), (a,x) -> a + x)
        |  / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(ee)),
        |      i -> ee[i]::DOUBLE * ee[i]::DOUBLE)), (a,x) -> a + x))
        |     * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len(qe)),
        |      i -> qe[i]::DOUBLE * qe[i]::DOUBLE)), (a,x) -> a + x))) AS cos
        | FROM cand),
        |r AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank FROM pairs)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "sx_facet_field" ->
      "SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang ORDER BY lang",
    "sx_facet_prefix" ->
      """SELECT source, count(*)::BIGINT AS n FROM documents
        |WHERE source LIKE 'src1%' GROUP BY source ORDER BY source""".stripMargin,
    "sx_facet_interval" ->
      """SELECT CASE WHEN n_chars <= 150 THEN '[*,150]'
        |  WHEN n_chars <= 300 THEN '(150,300]' ELSE '(300,*]' END AS interval,
        |count(*)::BIGINT AS n FROM documents GROUP BY 1 ORDER BY interval""".stripMargin,
    "sx_facet_range" ->
      "SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n FROM events GROUP BY 1 ORDER BY day",
    "sx_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity)::DOUBLE AS sum_qty,
        |count(*)::BIGINT AS n FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sx_hashjoin" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders FROM orders
        |JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1""".stripMargin,
    "sx_mergejoin" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1""".stripMargin,
    "sx_facet_stats" ->
      """SELECT lang, count(*)::BIGINT AS n,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "sx_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |st AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS ttf
        |  FROM tok GROUP BY 1)
        |SELECT term, df, ttf FROM st WHERE term LIKE 's%'
        |ORDER BY df DESC, term ASC LIMIT 15""".stripMargin,
    "sx_export" ->
      """SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en'
        |ORDER BY source DESC, doc_id ASC""".stripMargin,
    "sx_rank" ->
      """SELECT CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank,
        |o_orderkey FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "sx_unique" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "sx_collapse" ->
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "sx_stats" ->
      """SELECT count(*)::BIGINT AS n, sum(l_quantity)::DOUBLE AS sum_qty,
        |min(l_quantity)::DOUBLE AS min_qty, max(l_quantity)::DOUBLE AS max_qty
        |FROM lineitem""".stripMargin,
    "sx_pivot" ->
      "SELECT lang, source, count(*)::BIGINT AS n FROM documents GROUP BY 1, 2 ORDER BY 1, 2",
    "sx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // bbox twin: two range predicates; constant score ⇒ url-rank order
    "ir_q51_bbox" ->
      """WITH g AS (SELECT doc_id,
        |    CAST(doc_id % 120 AS DOUBLE) - 59.5 AS lat,
        |    CAST((doc_id * 7) % 360 AS DOUBLE) - 179.5 AS lon FROM documents),
        |sel AS (SELECT doc_id FROM g
        |  WHERE lat >= 0.0 AND lat <= 30.0 AND lon >= 100.0 AND lon <= 170.0)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
        |  SELECT row_number() OVER (ORDER BY d.source ASC, sel.doc_id ASC) AS rank, sel.doc_id
        |  FROM sel JOIN documents d USING (doc_id)) WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // polygon twin: the identical even-odd ray cast, generated from the
    // same polygon literal as the engine's Column fold
    "ir_q53_polygon" ->
      (s"""WITH g AS (SELECT doc_id,
        |    CAST(doc_id % 120 AS DOUBLE) - 59.5 AS lat,
        |    CAST((doc_id * 7) % 360 AS DOUBLE) - 179.5 AS lon FROM documents),
        |sel AS (SELECT doc_id FROM g WHERE ${polygonCrossingSql(GatePolygon)})
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
        |  SELECT row_number() OVER (ORDER BY d.source ASC, sel.doc_id ASC) AS rank, sel.doc_id
        |  FROM sel JOIN documents d USING (doc_id)) WHERE rank <= 10 ORDER BY rank""").stripMargin,
    // geofilt twin: the IDENTICAL haversine op sequence (dLat/dLon
    // halved inside, pow(sin,2), cos·cos·pow grouping, 2·R·asin(sqrt))
    // — FP multiply is commutative bit-for-bit, so operand order in the
    // cos product is free; rank = (dist, url-order) like the engine
    "ir_q43_geofilt" ->
      """WITH g AS (SELECT doc_id,
        |    CAST(doc_id % 120 AS DOUBLE) - 59.5 AS lat,
        |    CAST((doc_id * 7) % 360 AS DOUBLE) - 179.5 AS lon FROM documents),
        |sel AS (SELECT doc_id,
        |    2.0 * 6371.0087714 * asin(sqrt(pow(sin(radians(10.0 - lat) / 2.0), 2.0) +
        |      cos(radians(lat)) * cos(radians(10.0)) * pow(sin(radians(20.0 - lon) / 2.0), 2.0))) AS dist
        |  FROM g)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id FROM (
        |  SELECT row_number() OVER (ORDER BY dist ASC, src ASC, doc_id ASC) AS rank, doc_id
        |  FROM (SELECT sel.doc_id, sel.dist, d.source AS src
        |        FROM sel JOIN documents d USING (doc_id) WHERE sel.dist <= 2000.0))
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // cross-index join twin: url-field term 'src3' ⇔ source = 'src3'
    // (the url tokens are https/example/com/<source>/<id>)
    "ir_q44_join" -> topkSql(
      "SELECT s1.doc_id, s1.score AS s FROM scored s1 WHERE s1.term = 'spark' AND s1.doc_id IN (SELECT doc_id FROM documents WHERE source = 'src3')"),
    // intervals twin: minimal ordered intervals = (max start per end)
    // — greedy ends are non-decreasing over ascending anchors, so
    // containment only occurs between equal-end intervals; gaps =
    // e − s − 1 for a 2-clause source; CONTAINING 'join' = a join
    // position inside [s, e]
    "ir_q45_intervals" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, u.s.p AS p, u.s.tm AS tm FROM (
        |  SELECT doc_id, [{'p': i, 'tm': t[i]} FOR i IN generate_series(1, len(t))] AS ps FROM toks), unnest(ps) AS u(s)),
        |ai AS (SELECT doc_id, p FROM pos WHERE tm = 'spark'),
        |bi AS (SELECT doc_id, p FROM pos WHERE tm = 'merge'),
        |ci AS (SELECT doc_id, p FROM pos WHERE tm = 'join'),
        |iv AS (SELECT ai.doc_id, ai.p AS s, min(bi.p) AS e FROM ai
        |  JOIN bi ON ai.doc_id = bi.doc_id AND bi.p > ai.p GROUP BY ai.doc_id, ai.p),
        |miv AS (SELECT doc_id, max(s) AS s, e FROM iv GROUP BY doc_id, e)
        |SELECT DISTINCT miv.doc_id AS doc_id FROM miv JOIN ci ON ci.doc_id = miv.doc_id
        |WHERE miv.e - miv.s - 1 <= 10 AND ci.p BETWEEN miv.s AND miv.e
        |ORDER BY miv.doc_id""".stripMargin,
    // unordered/extend/overlapping twin: minimal covering windows of
    // {sort, window} from ALL pairs (containment-filtered — the true
    // minimal set), each widened ±1 (start clipped at the first
    // position), kept where it overlaps a batch position. Positions are
    // 1-based here vs the engine's 0-based — differences and the clip
    // boundary translate exactly.
    "ir_q52_intervals_un" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, u.s.p AS p, u.s.tm AS tm FROM (
        |  SELECT doc_id, [{'p': i, 'tm': t[i]} FOR i IN generate_series(1, len(t))] AS ps FROM toks), unnest(ps) AS u(s)),
        |ai AS (SELECT doc_id, p FROM pos WHERE tm = 'sort'),
        |bi AS (SELECT doc_id, p FROM pos WHERE tm = 'window'),
        |ci AS (SELECT doc_id, p FROM pos WHERE tm = 'batch'),
        |win AS (SELECT DISTINCT a.doc_id, least(a.p, b.p) AS s, greatest(a.p, b.p) AS e
        |  FROM ai a JOIN bi b USING (doc_id)),
        |miv AS (SELECT w.doc_id, w.s, w.e FROM win w WHERE NOT EXISTS (
        |  SELECT 1 FROM win w2 WHERE w2.doc_id = w.doc_id
        |    AND (w2.s <> w.s OR w2.e <> w.e) AND w.s <= w2.s AND w2.e <= w.e)),
        |ext AS (SELECT doc_id, greatest(s - 1, 1) AS s, e + 1 AS e FROM miv)
        |SELECT DISTINCT ext.doc_id AS doc_id FROM ext JOIN ci USING (doc_id)
        |WHERE ext.s <= ci.p AND ci.p <= ext.e
        |ORDER BY doc_id""".stripMargin,
    // stepped-mm twin: "2<67%" at 3 optional clauses → 2 required
    "ir_q46_edismax_mm" -> topkSql(
      "SELECT doc_id, sum(score) AS s FROM scored WHERE term IN ('sort','merge','window') GROUP BY doc_id HAVING count(*) >= 2"),
    // 2-term span-near existence: span = |pa−pb|+1 ≤ 2+slop, inOrder ⇒
    // pa < pb (equivalent to the engine's greedy/minimal-window match)
    "ir_q26_spannear" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, u.s.p AS p, u.s.tm AS tm FROM (
        |  SELECT doc_id, [{'p': i, 'tm': t[i]} FOR i IN generate_series(1, len(t))] AS ps FROM toks), unnest(ps) AS u(s))
        |SELECT DISTINCT a.doc_id FROM pos a JOIN pos b ON a.doc_id = b.doc_id
        |WHERE a.tm = 'spark' AND b.tm = 'merge' AND b.p > a.p AND b.p - a.p <= 4
        |ORDER BY a.doc_id""".stripMargin,
    "ir_q27_spannear_unord" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, u.s.p AS p, u.s.tm AS tm FROM (
        |  SELECT doc_id, [{'p': i, 'tm': t[i]} FOR i IN generate_series(1, len(t))] AS ps FROM toks), unnest(ps) AS u(s))
        |SELECT DISTINCT a.doc_id FROM pos a JOIN pos b ON a.doc_id = b.doc_id
        |WHERE a.tm = 'sort' AND b.tm = 'window' AND abs(b.p - a.p) <= 3
        |ORDER BY a.doc_id""".stripMargin,
    "ir_q24_suggest" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1)
        |SELECT term, df FROM dfs WHERE term LIKE 's%'
        |ORDER BY df DESC, term ASC LIMIT 10""".stripMargin,
    "ir_q25_spellcheck" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1)
        |SELECT term, df FROM dfs
        |WHERE levenshtein(term, 'spark') <= 1 AND term <> 'spark'
        |ORDER BY df DESC, term ASC LIMIT 10""".stripMargin,
    "ir_q23_expand" ->
      s"""$bm25Cte
         |SELECT lang, CAST(rn AS INTEGER) AS rank, doc_id FROM (
         |  SELECT d.lang, s1.doc_id,
         |    row_number() OVER (PARTITION BY d.lang ORDER BY s1.score DESC, d.source ASC, s1.doc_id ASC) AS rn
         |  FROM scored s1 JOIN documents d USING (doc_id) WHERE s1.term = 'spark')
         |WHERE rn BETWEEN 2 AND 4 ORDER BY lang, rank""".stripMargin,
    "sx_blockjoin_parent" ->
      """SELECT o_orderkey FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,
    "sx_blockjoin_child" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey WHERE o_totalprice > 400000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "sx_facet_query" ->
      """SELECT sum(CASE WHEN l_quantity >= 45 THEN 1 ELSE 0 END)::BIGINT AS n_heavy,
        |sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_disc
        |FROM lineitem""".stripMargin,
    "sx_hll" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS n_exact, true AS ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "sx_percentile" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50, true AS ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "sx_heatmap" ->
      """SELECT CAST(floor(value / 50) AS BIGINT) AS gx, user_id % 10 AS gy,
        |count(*)::BIGINT AS n FROM events GROUP BY 1, 2 ORDER BY gx, gy""".stripMargin,
    "sx_union" ->
      """SELECT event_id FROM events WHERE value > 400
        |UNION ALL SELECT event_id FROM events WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "sx_intersect" ->
      """SELECT event_id FROM events WHERE value > 250
        |INTERSECT SELECT event_id FROM events WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "sx_except" ->
      """SELECT event_id FROM events WHERE value > 250
        |EXCEPT SELECT event_id FROM events WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "sx_urp" ->
      """SELECT doc_id,
        |  regexp_replace(source, '^src', 'source-') AS src_norm,
        |  coalesce(lang, 'und') AS lang,
        |  CAST(length(trim(substr(text, 1, 40))) AS BIGINT) AS snip_len
        |FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents
        |  GROUP BY md5(coalesce(CAST(text AS VARCHAR), '')))
        |ORDER BY doc_id""".stripMargin,
    "sx_graph_gather" ->
      """SELECT l_partkey AS part, count(*)::BIGINT AS paths
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_custkey < 4 GROUP BY 1 ORDER BY 1""".stripMargin,
    // bounded BFS as a depth-capped recursive walk: min walk length ==
    // BFS level for every node reachable within the cap
    "sx_graph_spath" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS src, 'o:' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
        |  UNION ALL SELECT 'o:' || CAST(o_orderkey AS VARCHAR), 'c:' || CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT DISTINCT 'o:' || CAST(l_orderkey AS VARCHAR), 'p:' || CAST(l_partkey AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT DISTINCT 'p:' || CAST(l_partkey AS VARCHAR), 'o:' || CAST(l_orderkey AS VARCHAR) FROM lineitem
        |), walk(node, dist) AS (
        |  SELECT 'c:1', 0
        |  UNION ALL
        |  SELECT e.dst, w.dist + 1 FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.dist < 3
        |)
        |SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,
    // query($q)+boost twin: anchor BM25 + 0.5·subquery (default 0),
    // times recip(abs(dl−100),1,1000,1) — same double arithmetic order
    "ir_q47_boostfn" -> topkSql(
      """SELECT s.doc_id,
        |  (s.score + 0.5 * coalesce(q.qsub, 0)) * (1000 / (1 * abs(l.dl - 100) + 1)) AS s
        |FROM scored s
        |LEFT JOIN (SELECT doc_id, sum(score) AS qsub FROM scored
        |           WHERE term = 'merge' GROUP BY 1) q USING (doc_id)
        |JOIN dl l USING (doc_id)
        |WHERE s.term = 'spark'""".stripMargin),
    // relevance value-sources twin (termfreq/docfreq/ttf/idf/numdocs/
    // sumttf/norm) from the shared tokenization CTEs
    "fn_relevance" ->
      (bm25Cte +
        """, tfq AS (SELECT doc_id, tf FROM tf WHERE term = 'spark'),
          |st AS (SELECT coalesce((SELECT df FROM dfs WHERE term = 'spark'), 0)::BIGINT AS df,
          |       coalesce((SELECT sum(tf) FROM tf WHERE term = 'spark'), 0)::BIGINT AS ttf)
          |SELECT d.doc_id,
          |  coalesce(t.tf, 0)::BIGINT AS f_termfreq,
          |  st.df AS f_docfreq,
          |  st.ttf AS f_ttf,
          |  floor(ln(1.0 + (cs.n - st.df + 0.5) / (st.df + 0.5)) * 1e6)::BIGINT AS f_idf_q,
          |  cs.n::BIGINT AS f_numdocs,
          |  (SELECT sum(dl)::BIGINT FROM dl) AS f_sumttf,
          |  q.dlq::BIGINT AS f_norm
          |FROM documents d LEFT JOIN tfq t USING (doc_id)
          |  JOIN dlq q USING (doc_id), st, cs
          |ORDER BY doc_id""".stripMargin),
    // ord/rord = dictionary ordinal (dense_rank over the value order);
    // scale = global min-max rescale to [0,100], floor-quantized
    "fn_ordscale" ->
      """WITH mm AS (SELECT min(n_chars)::DOUBLE AS mn, max(n_chars)::DOUBLE AS mx FROM documents),
        |card AS (SELECT count(DISTINCT lang)::BIGINT AS c FROM documents)
        |SELECT doc_id,
        |  (dense_rank() OVER (ORDER BY lang))::BIGINT AS f_ord,
        |  (card.c + 1 - dense_rank() OVER (ORDER BY lang))::BIGINT AS f_rord,
        |  floor(((n_chars - mm.mn) / (mm.mx - mm.mn) * 100 + 0) * 1e6)::BIGINT AS f_scale_q
        |FROM documents, mm, card ORDER BY doc_id""".stripMargin,
    // fuzzy-suggester twin: a term matches when ANY of its edge grams
    // (lengths |p|±1) is within 1 edit of the prefix; weight = df
    "ir_q48_suggest_fuzzy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1),
        |grams AS (SELECT term, df, substr(term, 1, g) AS gram
        |  FROM dfs, generate_series(1, 8) t(g) WHERE g <= len(term)),
        |cand AS (SELECT term, max(df) AS weight FROM grams
        |  WHERE len(gram) BETWEEN 3 AND 5 AND levenshtein(gram, 'spar') <= 1
        |  GROUP BY term)
        |SELECT term, weight::BIGINT AS weight FROM cand
        |ORDER BY weight DESC, term ASC LIMIT 10""".stripMargin,
    // weighted-suggester twin: weight = Σ n_chars over docs containing
    // the term (the arbitrary weightField), prefix lookup
    "ir_q49_suggest_weighted" ->
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |w AS (SELECT t.term, sum(d.n_chars)::BIGINT AS weight
        |  FROM tok t JOIN documents d USING (doc_id) GROUP BY 1)
        |SELECT term, weight FROM w WHERE term LIKE 'sp%'
        |ORDER BY weight DESC, term ASC LIMIT 10""".stripMargin,
    // infix-suggester twin: substring containment anywhere in the term
    // (the gram table is an index, not a semantic change); prefix
    // matches first — the blended sort
    "ir_q50_suggest_infix" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dfs AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1)
        |SELECT term, df AS weight,
        |  (CASE WHEN starts_with(term, 'ark') THEN 1 ELSE 0 END)::BIGINT AS edge
        |FROM dfs WHERE contains(term, 'ark')
        |ORDER BY edge DESC, weight DESC, term ASC LIMIT 10""".stripMargin,
    "fn_valuesources" ->
      """SELECT doc_id,
        |abs(n_chars - 500)::BIGINT AS f_abs,
        |(n_chars % 7)::BIGINT AS f_mod,
        |least(n_chars, 300)::BIGINT AS f_min,
        |greatest(n_chars, 300)::BIGINT AS f_max,
        |(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS f_if,
        |coalesce(lang, 'und') AS f_def,
        |lang || '_' || source AS f_concat,
        |(n_chars + doc_id)::BIGINT AS f_sum,
        |least(n_chars, doc_id, 100)::BIGINT AS f_fmin,
        |greatest(n_chars, doc_id, 100)::BIGINT AS f_fmax,
        |n_chars::BIGINT AS f_ffirst,
        |CAST(100 AS BIGINT) AS f_flast,
        |n_chars::BIGINT AS f_payload,
        |CAST(-1 AS BIGINT) AS f_payload_miss,
        |(n_chars::DOUBLE * (CASE WHEN lang = 'en' THEN 1.0 ELSE 1.25 END))::DOUBLE AS f_currency,
        |(n_chars + doc_id + 3)::BIGINT AS f_add,
        |(n_chars * 2)::BIGINT AS f_mul,
        |CAST(1 AS BIGINT) AS f_true,
        |CAST(0 AS BIGINT) AS f_false,
        |CAST(floor(2.0 * 6371.0087714 * asin(sqrt(
        |  pow(sin((radians(CAST(doc_id % 120 AS DOUBLE) - 59.5) - radians(10.0)) / 2.0), 2.0) +
        |  cos(radians(10.0)) * cos(radians(CAST(doc_id % 120 AS DOUBLE) - 59.5)) *
        |  pow(sin((radians(CAST((doc_id * 7) % 360 AS DOUBLE) - 179.5) - radians(20.0)) / 2.0), 2.0)
        |)) * 1e3) AS BIGINT) AS f_hsin_q
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sx_significant" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |fgdocs AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'dup'),
        |fgc AS (SELECT count(*)::BIGINT AS c FROM fgdocs),
        |n AS (SELECT count(*)::BIGINT AS c FROM documents),
        |fg AS (SELECT t.term, count(DISTINCT t.doc_id)::BIGINT AS fg_df
        |  FROM tok t JOIN fgdocs USING (doc_id) GROUP BY 1 HAVING count(DISTINCT t.doc_id) >= 2),
        |bg AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS bg_df FROM tok GROUP BY 1)
        |SELECT term, fg_df, bg_df FROM fg JOIN bg USING (term), fgc, n
        |ORDER BY (fg_df / CAST(fgc.c AS DOUBLE)) / (bg_df / CAST(n.c AS DOUBLE)) DESC, term
        |LIMIT 10""".stripMargin
  )
}
