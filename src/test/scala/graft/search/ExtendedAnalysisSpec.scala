package graft.search

import java.nio.file.Files

import graft.SparkSpec
import graft.analysis.{Analysis, PorterStemmer}
import graft.index.{IndexBuilder, IndexConfig}
import graft.model.Page

import org.apache.spark.sql.Dataset

/** Porter stemming, synonym canonicalization, sloppy phrase, SQL face,
  * significant terms. */
class ExtendedAnalysisSpec extends SparkSpec {

  test("Porter stemmer: published-spec examples") {
    val cases = Map(
      "caresses" -> "caress", "ponies" -> "poni", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "motoring" -> "motor",
      "sing" -> "sing", "happy" -> "happi", "relational" -> "relat",
      "conditional" -> "condit", "running" -> "run", "flies" -> "fli",
      // Lucene DEPARTUREs from the published rules (bli→ble, logi→log;
      // both still gated on measure(stem) > 0, hence biology→biologi):
      "possibly" -> "possibl", "analogies" -> "analog",
      "biology" -> "biologi", "logical" -> "logic")
    cases.foreach { case (in, out) =>
      assert(PorterStemmer.stem(in) === out, s"stem($in)")
    }
  }

  test("analyzer chain with stemming + synonyms") {
    val syn = Map("quick" -> "fast", "rapid" -> "fast")
    val out = Analysis.analyze("The quick foxes were running rapidly",
      Analysis.EnglishStopWords.toSet, stem = true, synonyms = syn).toSeq
    assert(out === Seq("fast", "fox", "were", "run", "rapidli"))
  }

  private def mkPages(texts: Seq[String]): Dataset[Page] = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      Page(f"https://x/$i%04d", java.sql.Timestamp.valueOf("2025-10-24 00:00:00"),
        s"<p>$t</p>".getBytes, t, "en")
    }.toDS()
  }

  test("stemmed index end-to-end: engine == SpecOracle with same config") {
    val texts = Seq(
      "running faster than runners run", "the runner runs daily",
      "walking walks walked", "joins joined joining tables")
    val cfg = IndexConfig(numPartitions = 2, partsPerSegment = 1, stem = true)
    val idx = IndexBuilder.build(spark, mkPages(texts),
      Files.createTempDirectory("graft-stem").toString, cfg)
    val oracle = new SpecOracle(
      texts.zipWithIndex.map { case (t, i) => (f"https://x/$i%04d", t, "en") },
      stem = true)
    // "running"/"runs"/"run" all stem to "run"
    val got = new Searcher(idx).topK(TermQ("run"), 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getFloat(3))).toSeq
    assert(got === oracle.topK(TermQ("run"), 10))
    assert(got.size >= 2)
  }

  test("multi-word synonym graph: contraction + e2e engine == oracle") {
    val syn = Map("machine learning" -> "ml", "new york" -> "nyc", "nn" -> "ml")
    assert(Analysis.analyze("machine learning in new york", synonyms = syn).toSeq
      === Seq("ml", "in", "nyc"))
    // longest-first: a 2-token rule wins over its 1-token prefix rule
    val syn2 = Map("big" -> "large", "big data" -> "bigdata")
    assert(Analysis.analyze("big data and big ideas", synonyms = syn2).toSeq
      === Seq("bigdata", "and", "large", "ideas"))

    val texts = Seq(
      "machine learning models win", "we use nn models daily",
      "plain statistics here", "new york machine learning meetup")
    val cfg = IndexConfig(numPartitions = 2, partsPerSegment = 1, synonyms = syn)
    val idx = IndexBuilder.build(spark, mkPages(texts),
      Files.createTempDirectory("graft-syn").toString, cfg)
    val oracle = new SpecOracle(
      texts.zipWithIndex.map { case (t, i) => (f"https://x/$i%04d", t, "en") },
      synonyms = syn)
    val got = new Searcher(idx).topK(TermQ("ml"), 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getFloat(3))).toSeq
    assert(got === oracle.topK(TermQ("ml"), 10))
    assert(got.size === 3) // docs 0, 1, 3
    // phrase across the contraction: "ml models" matches doc0 and doc1
    assert(new Searcher(idx)
      .scoredHits(PhraseQ(Seq("ml", "models")), -1).collect().map(_._1).sorted
      === oracle.matching(PhraseQ(Seq("ml", "models"))).toArray)
  }

  test("edge / char n-gram filters: goldens + Column ≡ Scala mirror") {
    import graft.analysis.Analysis
    assert(Analysis.edgeNgrams("spark", 2, 4) === Seq("sp", "spa", "spar"))
    assert(Analysis.edgeNgrams("a", 2, 4) === Seq.empty)
    assert(Analysis.edgeNgrams("ab", 2, 4) === Seq("ab"))
    assert(Analysis.charNgrams("spark", 3, 3) === Seq("spa", "par", "ark"))
    assert(Analysis.charNgrams("ab", 3, 3) === Seq.empty)
    assert(Analysis.charNgrams("abcd", 2, 3) ===
      Seq("ab", "bc", "cd", "abc", "bcd"))
    // the codegen'd Column form agrees with the Scala mirror
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("spark merge a window").toDF("text")
      .select(split(col("text"), " ").as("toks"))
    val gotEdge = df.select(Analysis.edgeNgramsCol(col("toks"), 2, 4))
      .as[Seq[String]].head()
    val gotChar = df.select(Analysis.charNgramsCol(col("toks"), 3, 3))
      .as[Seq[String]].head()
    val toks = Seq("spark", "merge", "a", "window")
    assert(gotEdge === toks.flatMap(Analysis.edgeNgrams(_, 2, 4)))
    assert(gotChar === toks.flatMap(Analysis.charNgrams(_, 3, 3)))
  }

  test("char-normalization filters: asciiFold, mapping, patternReplace") {
    assert(Analysis.asciiFold("Café Münchén") === "Cafe Munchen")
    assert(Analysis.asciiFold("œuvre straße Łódź") === "oeuvre strasse Lodz")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq("café №1 &amp; friends").toDF("t")
    val folded = df.select(
      Analysis.asciiFoldCol(Analysis.tokenize(col("t"))).as("toks"),
      Analysis.mappingCharFilter(col("t"), Seq("&amp;" -> "&", "№" -> "no")).as("mapped"),
      Analysis.patternReplace(col("t"), "№\\d+", "").as("repl")).head()
    assert(folded.getSeq[String](0).contains("cafe"))
    assert(folded.getString(1) === "café no1 & friends")
    assert(folded.getString(2) === "café  &amp; friends")
  }

  test("sloppy phrase matches within slop, engine == oracle") {
    val texts = Seq(
      "spark join now",          // exact "spark join"
      "spark fast join",         // 1 apart -> slop 1
      "spark a b join",          // 2 apart -> slop 2
      "join spark")              // reversed
    val idx = IndexBuilder.build(spark, mkPages(texts),
      Files.createTempDirectory("graft-slop").toString,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val oracle = new SpecOracle(
      texts.zipWithIndex.map { case (t, i) => (f"https://x/$i%04d", t, "en") })
    val searcher = new Searcher(idx)
    Seq(0, 1, 2).foreach { slop =>
      val q = PhraseQ(Seq("spark", "join"), slop)
      val got = searcher.scoredHits(q, -1).collect().toMap
      val exp = oracle.matching(q).map(d =>
        d -> oracle.scoreDoc(oracle.rewrite(q), d).get).toMap
      assert(got === exp, s"slop=$slop")
    }
    // doc set grows with slop
    assert(searcher.scoredHits(PhraseQ(Seq("spark", "join"), 0), -1).count() === 1)
    assert(searcher.scoredHits(PhraseQ(Seq("spark", "join"), 1), -1).count() >= 2)
  }

  test("SQL face: spark.sql over registered views answers ranked retrieval") {
    val idx = graft.SparkEntry.index(spark, "/root/testdata/sf0.001")
    val out = GraftSql.sql(idx,
      """SELECT d.url, s.score FROM graft_scored s
        |JOIN graft_docs d ON s.docId = d.docId
        |WHERE s.term = 'spark'
        |ORDER BY s.score DESC, s.docId ASC LIMIT 5""".stripMargin).collect()
    assert(out.length === 5)
    // agrees with the relational path's ranking
    val rel = new RelationalPath(idx).forParsed(TermQ("spark"), 5).collect()
    val urls = rel.map(_.getLong(1)).map(id => f"$id%012d")
    out.map(_.getString(0)).zip(urls).foreach { case (u, suffix) =>
      assert(u.endsWith(suffix))
    }
  }

  test("significant terms: co-occurring term outranks background") {
    val texts =
      (1 to 20).map(i => s"common filler$i") ++
        (1 to 5).map(i => s"common special rare$i")
    val idx = IndexBuilder.build(spark, mkPages(texts),
      Files.createTempDirectory("graft-sig").toString,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val sig = SignificantTerms.forTerm(idx, "special", minFgDf = 2)
      .collect().map(_.getString(0)).toSeq
    // "special" itself tops; "common" has ratio 1 (everywhere)
    assert(sig.head === "special")
  }
}
