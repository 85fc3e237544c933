package graft.search

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkEntry
import graft.analysis.Analysis
import graft.model.Corpus

/** DocTransformers, ngram suggester, term vectors, LTR re-rank. */
class TransformSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val idx = SparkEntry.index(spark, sfDir)
  private lazy val rel = new RelationalPath(idx)

  test("parseFl: fields + all transformer shapes") {
    import DocTransformers._
    val specs = parseFl("url,score,[docid],answer:[value v=42],len:tlen(dl),[explain]")
    assert(specs === Seq(Field("url"), Field("score"), DocIdT,
      ValueT("answer", "42"), FnT("len", "tlen", Seq("dl")), ExplainT))
  }

  test("[explain] rows: tf/df/dlq match a driver recount; contributions sum to the hit score") {
    val terms = Seq("spark", "merge")
    val hits = rel.forParsed(BoolQ(should = terms.map(TermQ.apply)), 10)
    val rows = DocTransformers.explainRows(idx, hits, terms).collect()
    assert(rows.nonEmpty)
    // driver oracle from raw corpus text
    val pages = Corpus.pages(spark, sfDir).collect()
    val tok = pages.map(p => (p.url.split("/").last.toLong,
      Analysis.analyze(p.text).toSeq)).toMap
    val dfOf = terms.map(t => t -> tok.values.count(_.contains(t)).toLong).toMap
    rows.foreach { r =>
      val d = r.getLong(r.fieldIndex("doc_id"))
      val t = r.getString(r.fieldIndex("term"))
      assert(r.getLong(r.fieldIndex("tf")) === tok(d).count(_ == t).toLong,
        s"tf mismatch doc=$d term=$t")
      assert(r.getLong(r.fieldIndex("df")) === dfOf(t))
    }
    // nested form: per-hit score sum == relational OR score (double alg)
    val nested = DocTransformers.explainNested(rel, hits, terms)
      .withColumn("sumc", aggregate(col("explain"), lit(0.0),
        (acc, x) => acc + x.getField("score")))
      .select("doc_id", "sumc").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val orScores = rel.scoredTf(terms).groupBy("doc_id")
      .agg(sum("score").as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    nested.foreach { case (d, s) =>
      assert(math.abs(s - orScores(d)) < 1e-12, s"score sum mismatch doc=$d")
    }
  }

  test("fl pipeline: [docid], [value], fn-computed field") {
    val hits = rel.forParsed(TermQ("spark"), 5)
    val out = DocTransformers.apply(idx, hits, TermQ("spark"),
      DocTransformers.parseFl("rank,doc_id,[docid],answer:[value v=42]"))
      .collect()
    assert(out.length === 5)
    assert(out.head.schema.fieldNames.toSet ===
      Set("rank", "doc_id", "docId", "answer"))
    assert(out.forall(_.getString(3) === "42"))
  }

  test("[child] attach: filtered + limited children, no join") {
    import spark.implicits._
    val parents = Seq((1, "p1"), (2, "p2")).toDF("pk", "pname")
    val children = Seq((1, 10), (1, 20), (1, 30), (2, 5)).toDF("fk", "v")
    val nested = BlockJoin.nest(parents, children, "pk", "fk")
    val out = DocTransformers.childAttach(nested,
      c => c.getField("v") >= 10, limit = 2)
      .select(col("pk"), size(col("children")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out === Map(1 -> 2, 2 -> 0)) // 3 match for p1, sliced to 2
  }

  test("phonetic sounds-like: same-soundex dictionary terms, self excluded") {
    // spork and spark share Soundex S162
    val hits = Suggest.soundsLike(idx, "spork", 5)
      .collect().map(_.getString(0)).toSeq
    assert(hits.contains("spark"))
    // query term itself never suggested
    assert(!Suggest.soundsLike(idx, "spark", 5)
      .collect().map(_.getString(0)).contains("spark"))
    // no cross-first-letter codes (prefix prune is semantics-preserving
    // because Soundex keeps the first letter)
    hits.foreach(t => assert(t.startsWith("s")))
  }

  test("ngram suggester reads gram bounds from the table's own metadata") {
    // build with narrow bounds; lookups must honor THEM (a caller-side
    // maxGram guess used to silently return empty past the built grams)
    val dir = s"/tmp/graft-test-suggest-meta-${System.nanoTime()}"
    Suggest.buildNgramIndex(idx, dir, minGram = 2, maxGram = 3)
    try {
      Seq("s", "sp", "spa", "spar", "spark").foreach { p =>
        val viaNgram = Suggest.suggestNgram(spark, dir, p, 10)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        // expected: live scan restricted to indexable terms (≥ minGram)
        val expected = idx.termStats
          .filter(col("term").startsWith(p) && length(col("term")) >= 2)
          .select(col("term"), col("df").cast("long").as("df"))
          .orderBy(desc("df"), asc("term")).limit(10)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(viaNgram === expected, s"prefix '$p'")
      }
    } finally {
      import java.nio.file.{Files, Paths}
      Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }

  test("ngram suggester == live prefix scan for many prefixes") {
    val dir = s"/tmp/graft-test-suggest-${System.nanoTime()}"
    Suggest.buildNgramIndex(idx, dir, minGram = 1, maxGram = 4)
    try {
      Seq("s", "sp", "spa", "spar", "spark", "wind").foreach { p =>
        val viaNgram = Suggest.suggestNgram(spark, dir, p, 10)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val viaScan = Suggest.suggest(idx, p, 10)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(viaNgram === viaScan, s"prefix '$p'")
      }
    } finally {
      import java.nio.file.{Files, Paths}
      val p = Paths.get(dir)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
    }
  }

  test("infix suggester: containment matches, blended edge-first sort, long-query residual") {
    val spark2 = spark
    import spark2.implicits._
    val dir = s"/tmp/graft-test-suggest-infix-${System.nanoTime()}"
    val entries = Seq(
      ("sparkline", 50L), ("sparklinq_sparkline", 99L), ("brightspark", 80L),
      ("spark", 70L), ("park", 10L), ("lines", 5L))
      .toDF("term", "weight")
    Suggest.buildSuggestIndex(entries, dir, minGram = 2, maxGram = 4,
      infix = true)
    try {
      def lookup(q: String) = Suggest.suggestInfix(spark, dir, q, 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
      // oracle over the raw entries: containment + blended sort
      def oracle(q: String) = Seq(
        ("sparkline", 50L), ("sparklinq_sparkline", 99L), ("brightspark", 80L),
        ("spark", 70L), ("park", 10L), ("lines", 5L))
        .filter(_._1.contains(q))
        .map { case (t, w) => (t, w, t.startsWith(q)) }
        .sortBy { case (t, w, e) => (!e, -w, t) }
      for (q <- Seq("pa", "park", "spark", "line",
                    "sparkline", "sparklinq_s")) // last two exceed maxGram=4
        assert(lookup(q) === oracle(q), s"q='$q'")
      // the residual case the gate can't see: a term starting with q's
      // first maxGram chars but containing q only later must NOT carry
      // the edge flag ("sparklinq_sparkline" vs q="sparkline")
      val res = lookup("sparkline").map { case (t, _, e) => t -> e }.toMap
      assert(res("sparkline") && !res("sparklinq_sparkline"))
    } finally {
      import java.nio.file.{Files, Paths}
      Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }

  test("term vectors match a driver re-analysis of stored text") {
    val pred = element_at(split(col("url"), "/"), -1).cast("long") < 5
    val tv = TermVectors.forDocs(idx, pred).collect()
      .map(r => ((r.getLong(0), r.getString(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val pages = Corpus.pages(spark, sfDir).collect()
      .filter(_.url.split("/").last.toLong < 5)
    assert(pages.nonEmpty)
    val docIdOfUrl = rel.docsWithId.select("url", "docId").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var checked = 0
    pages.foreach { p =>
      val docId = docIdOfUrl(p.url)
      Analysis.analyze(p.text).zipWithIndex.groupBy(_._1)
        .foreach { case (t, occ) =>
          val (tf, fp, lp) = tv((docId, t))
          assert(tf === occ.length.toLong, s"tf of $t")
          assert(fp === occ.map(_._2).min.toLong, s"first_pos of $t")
          assert(lp === occ.map(_._2).max.toLong, s"last_pos of $t")
          checked += 1
        }
    }
    assert(checked > 0)
    assert(tv.size === checked, "no extra (doc, term) rows")
  }

  test("function queries: geodist haversine, linear, recip") {
    import spark.implicits._
    import graft.functions.ValueSources.fn
    // London (51.5074, -0.1278) ↔ Paris (48.8566, 2.3522) ≈ 343.5 km
    val df = Seq((51.5074, -0.1278, 48.8566, 2.3522))
      .toDF("lat1", "lon1", "lat2", "lon2")
    val km = df.select(fn("geodist",
      col("lat1"), col("lon1"), col("lat2"), col("lon2")).as("d"))
      .head().getDouble(0)
    assert(math.abs(km - 343.5) < 1.5, s"geodist London-Paris was $km")
    val zero = df.select(fn("geodist",
      col("lat1"), col("lon1"), col("lat1"), col("lon1")).as("d"))
      .head().getDouble(0)
    assert(zero === 0.0)
    val lr = Seq((4.0)).toDF("x")
      .select(fn("linear", col("x"), lit(2.0), lit(1.0)).as("l"),
        fn("recip", col("x"), lit(1.0), lit(1.0), lit(1.0)).as("r"))
      .head()
    assert(lr.getDouble(0) === 9.0)
    assert(lr.getDouble(1) === 0.2)
  }

  test("LTR linear re-rank == driver oracle with identical fold order") {
    val terms = Seq("spark", "merge")
    val model = Ltr.LinearModel(
      Seq("base" -> col("s"), "dl" -> col("dl").cast("double"),
        "dlq" -> col("dlq").cast("double")),
      Seq(1.0, 0.001, -0.0005))
    val got = Ltr.rescore(idx, terms, 30, 10, model).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // driver oracle: same candidates, same fold
    val scored = rel.scoredTf(terms)
      .groupBy("docId", "doc_id").agg(sum("score").as("s"))
      .join(rel.docsWithId.select("docId", "dl", "dlq"), "docId")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("docId")), r.getLong(r.fieldIndex("doc_id")),
        r.getDouble(r.fieldIndex("s")), r.getInt(r.fieldIndex("dl")),
        r.getInt(r.fieldIndex("dlq"))))
    val cand = scored.sortBy { case (docId, _, s, _, _) => (-s, docId) }.take(30)
    val expected = cand
      .map { case (docId, docPub, s, dl, dlq) =>
        (docId, docPub, 1.0 * s + 0.001 * dl.toDouble + -0.0005 * dlq.toDouble)
      }
      .sortBy { case (docId, _, ltr) => (-ltr, docId) }
      .take(10).zipWithIndex
      .map { case ((_, docPub, _), i) => (i + 1, docPub) }.toSeq
    assert(got === expected)
    // weight (1,0,0) degenerates to the base ranking
    val baseModel = Ltr.LinearModel(Seq("base" -> col("s")), Seq(1.0))
    val baseGot = Ltr.rescore(idx, terms, 30, 10, baseModel).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val baseExp = rel.forParsed(BoolQ(should = terms.map(TermQ.apply)), 10).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(baseGot === baseExp)
  }

  test("LTR tree-ensemble re-rank == driver tree-walk oracle") {
    import Ltr.{Branch, Leaf, TreesModel}
    val terms = Seq("spark", "merge")
    val model = TreesModel(
      Seq("base" -> col("s"), "dl" -> col("dl").cast("double")),
      Seq(
        0.7 -> Branch("dl", 40.0,
          Leaf(1.5), Branch("base", 2.0, Leaf(-0.5), Leaf(2.0))),
        0.3 -> Branch("base", 1.0, Leaf(0.0), Leaf(4.0))))
    val got = Ltr.rescore(idx, terms, 30, 10, model).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // driver oracle: same candidates, same branch rule (≤ goes left),
    // same Σ weight·leaf fold order
    def walk(n: Ltr.TreeNode, f: Map[String, Double]): Double = n match {
      case Leaf(v) => v
      case Branch(ft, t, l, r) => if (f(ft) <= t) walk(l, f) else walk(r, f)
    }
    val scored = rel.scoredTf(terms)
      .groupBy("docId", "doc_id").agg(sum("score").as("s"))
      .join(rel.docsWithId.select("docId", "dl"), "docId")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("docId")),
        r.getLong(r.fieldIndex("doc_id")),
        r.getDouble(r.fieldIndex("s")), r.getInt(r.fieldIndex("dl"))))
    val cand = scored.sortBy { case (docId, _, s, _) => (-s, docId) }.take(30)
    val expected = cand
      .map { case (docId, docPub, s, dl) =>
        val f = Map("base" -> s, "dl" -> dl.toDouble)
        (docId, docPub,
          model.trees.map { case (w, root) => w * walk(root, f) }
            .reduceLeft(_ + _))
      }
      .sortBy { case (docId, _, v) => (-v, docId) }
      .take(10).zipWithIndex
      .map { case ((_, docPub, _), i) => (i + 1, docPub) }.toSeq
    assert(got === expected)
    // a single all-leaf "tree" degenerates to a constant score — all
    // candidates tie, so ranks fall back to docId-ascending order
    val constModel = TreesModel(Seq("base" -> col("s")),
      Seq(1.0 -> Leaf(3.0)))
    val constGot = Ltr.rescore(idx, terms, 30, 10, constModel).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val constExp = cand.sortBy(_._1).take(10).zipWithIndex
      .map { case ((_, docPub, _, _), i) => (i + 1, docPub) }.toSeq
    assert(constGot === constExp)
  }
}
