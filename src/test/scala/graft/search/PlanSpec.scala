package graft.search

import graft.SparkSpec
import graft.SparkEntry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Physical-plan assertions (the `.explain("formatted")` discipline):
  * predicate pushdown reaches the parquet scans, small sides broadcast,
  * aggregations are partial+final, projections prune columns. These
  * are the properties that keep the plans viable at 100 TB. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val idx = SparkEntry.index(spark, sfDir)

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The formatted plans of the SQL queries `body` runs, as executed
    * (captured by a QueryExecutionListener; JobCounts drains the
    * listener bus before the listener is removed). */
  private def executedPlans(body: => Any): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit =
        plans.add(qe.explainString(ExplainMode.fromString("formatted")))
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    // registered once JobCounts has drained the bus, so a query that
    // ran before `body` cannot deliver its plan here
    try org.apache.spark.JobCounts.of(spark.sparkContext) {
      spark.listenerManager.register(listener)
      body
    }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
  }

  test("term predicate is pushed into the postings parquet scan") {
    val p = plan(idx.postings.filter(col("term") === "spark").toDF())
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("EqualTo(term,spark)"), p.take(2000))
  }

  test("term-dictionary prefix lookup pushes StringStartsWith") {
    val p = plan(idx.termStats.filter(col("term").startsWith("sp")))
    assert(p.contains("StringStartsWith(term,sp)"), p.take(2000))
  }

  test("stored-fields fetch pushes docId IN-filter into the docs scan") {
    val p = plan(idx.docs.filter(col("docId").isin(1L, 2L, 3L)).toDF())
    assert(p.contains("In(docId"), p.take(2000))
  }

  test("scoring join broadcasts the tiny stats side") {
    val rel = new RelationalPath(idx)
    val p = plan(rel.scoredTf(Seq("spark")))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
  }

  test("facet aggregation is partial+final hash aggregate") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val p = plan(df)
    // two HashAggregate operators (partial on map side, final after
    // exchange) — map-side combine is what keeps 100 TB groupBys viable
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
    // partial agg BELOW the exchange (map-side combine), final above
    val ix = p.indexOf("Exchange")
    assert(ix > 0 && p.take(ix).contains("HashAggregate") &&
      p.drop(ix).contains("HashAggregate"), p.take(3000))
  }

  test("relational top-k winners frame: TakeOrderedAndProject, ZERO Window") {
    val rel = new RelationalPath(idx)
    // the lazy frame rankTopK collects for forParsed(TermQ("spark")) —
    // ranks are stamped driver-side over the ≤k winners, so the executed
    // plan has no Window at all
    val perTerm = rel.scoredTf(Seq("spark"))
      .select(col("docId"), col("doc_id"), col("term"), col("score").as("ts"))
    val p = plan(rel.topKWinnersFrame(
      rel.boolPerDoc(perTerm, Seq("spark"), Nil, None, None, 0), 10))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Window"),
      s"rank tails are driver-stamped — no Window operator\n${p.take(3000)}")
    // one term is one row per doc already: no group-by, so no shuffle
    assert(!p.contains("HashAggregate"), p.take(3000))
    assert("(?<!Broadcast)Exchange".r.findFirstIn(p).isEmpty, p.take(3000))
  }

  test("generic boolPerDoc winners: TakeOrdered + broadcast stats + anti join, ZERO Window") {
    val rel = new RelationalPath(idx)
    val perTerm = rel.scoredTf(Seq("spark", "join"))
      .select(col("docId"), col("doc_id"), col("term"), col("score").as("ts"))
    val merge = rel.tfTable(Seq("merge")).toDF("term", "docId", "tf").select("docId")
    val df = rel.topKWinnersFrame(
      rel.boolPerDoc(perTerm, Seq("spark"), Seq("join"), Some(merge), None, 0), 10)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000)) // mustNot
    assert(!p.contains("Window"), p.take(3000))
  }

  test("edismax bf feature scan: candidate ids pushed into the docs scan") {
    val p = plan(EDisMax.bfFeatures(idx, log(col("dl") + lit(1L)),
      Some(Seq(1L, 2L, 3L))))
    assert(p.contains("In(docId"), p.take(3000))
  }

  test("fl pipeline: driver-local hit ids prune the docs feature scan") {
    val spark2 = spark
    import spark2.implicits._
    // hits carrying the native docId (Searcher.topK shape): the isin
    // reaches the parquet scan as PushedFilters
    val hits = Seq((1, 5L, 7L), (2, 6L, 8L)).toDF("rank", "docId", "doc_id")
    val out = DocTransformers.apply(idx, hits, TermQ("spark"),
      DocTransformers.parseFl("doc_id,len:ln(dl)"))
    val p = plan(out)
    assert(p.contains("In(docId"), p.take(4000))
    // doc_id-only hits (relational rank-tail shape): plan-level prune
    // via the derived column — the full-corpus join is still gone
    val hits2 = Seq((1, 7L)).toDF("rank", "doc_id")
    val p2 = plan(DocTransformers.apply(idx, hits2, TermQ("spark"),
      DocTransformers.parseFl("doc_id,[docid]")))
    // Catalyst collapses the derived-column isin into a Filter directly
    // above the scan (single id → equality on the url-derived doc_id)
    assert(p2.contains("element_at(split(url") &&
      (p2.contains("= 7)") || p2.contains("IN (7")), p2.take(4000))
  }

  test("attr-range predicate pushes into the docs parquet scan") {
    val pred = RelationalPath.attrPredColumn(idx.docs.schema,
      AttrRangeQ("ts", Some("2025-10-24 00:02:00"),
        Some("2025-10-24 00:06:00"), includeLo = true, includeHi = true))
    val p = plan(idx.docs.filter(pred).toDF())
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(ts") || p.contains("GreaterThan(ts"),
      p.take(2000))
  }

  test("bbox over stored lat/lon columns pushes whole into the parquet scan") {
    // the ir_q51 gate synthesizes lat/lon from doc_id (no geo columns
    // in the corpus), where pushdown is impossible by construction;
    // this pins the claim for the deployment shape — stored columns
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bboxplan").toString
    Seq((1L, 10.0, 120.0), (2L, 40.0, 10.0)).toDF("id", "lat", "lon")
      .write.mode("overwrite").parquet(dir)
    val geo = spark.read.parquet(dir)
    val p = plan(geo.filter(graft.functions.Geo.bboxPred(
      col("lat"), col("lon"), 0.0, 30.0, 100.0, 170.0)))
    assert(p.contains("GreaterThanOrEqual(lat,0.0)") &&
      p.contains("LessThanOrEqual(lat,30.0)") &&
      p.contains("GreaterThanOrEqual(lon,100.0)") &&
      p.contains("LessThanOrEqual(lon,170.0)"), p.take(3000))
  }

  test("spellcheck scan is pruned: tlen band pushed into the parquet scan") {
    val df = Suggest.spellcheck(idx, "spark", maxEdits = 1, k = 10)
    val p = plan(df)
    // the pushdown-able prefilter (|len−5| ≤ 1) reaches the scan — the
    // Levenshtein-automata-over-FST analogue; the levenshtein itself
    // only ever sees the pruned candidates
    assert(p.contains("GreaterThanOrEqual(tlen,4)") &&
      p.contains("LessThanOrEqual(tlen,6)"), p.take(3000))
    // and the pruned scan is value-identical to the unpruned one
    val unpruned = idx.termStats
      .filter(levenshtein(col("term"), lit("spark")) <= 1 && col("term") =!= "spark")
      .select(col("term"), col("df").cast("long").as("df"))
      .orderBy(desc("df"), asc("term")).limit(10)
    assert(df.collect().toSeq === unpruned.collect().toSeq)
  }

  test("span-near serving: single MapGroups pass, zero joins") {
    // a cold InvertedIndex with no deletes takes the one-pass serving
    // shape: one groupByKey over the terms' positions, collected, with
    // doc_id from the url cache on the driver — no candidate join, no
    // docsWithId join (a fresh reader: the shared one may have been
    // warmed by another suite, and a warm reader runs no plan at all —
    // see the job-count spec below). The returned frame is local, so
    // the plan asserted is the one the call executes.
    val cold = graft.index.InvertedIndex.open(spark, idx.dir)
    cold.urlMap() // the url cache loads with a plan of its own
    val plans = executedPlans(new RelationalPath(cold).spanNearDocs(Seq("spark", "merge"), 3, inOrder = true))
    assert(plans.length === 1, plans.mkString("\n\n").take(4000))
    val p = plans.head
    assert(!p.contains("UDF("), "opaque UDF filter in span-near plan")
    assert(!p.contains("collect_list"), "ANY-term collect in span-near plan")
    assert(p.contains("MapGroups"), p.take(2000))
    assert(!p.contains("Join"), "serving span-near must not join:\n" + p.take(3000))
  }

  test("span-near general: typed verify above a k-way docId pre-intersection, no UDF") {
    // a plain IndexView delegate is serving-INELIGIBLE — the general
    // two-phase plan must pre-intersect candidates from the tf rows so
    // a hot term never floods the position shuffle
    val general: graft.index.IndexView = new graft.index.IndexView {
      def spark = idx.spark
      def stats = idx.stats
      def postings = idx.postings
      def docs = idx.docs
      def termStats = idx.termStats
    }
    val rel = new RelationalPath(general)
    val p = plan(rel.spanNearDocs(Seq("spark", "merge"), 3, inOrder = true))
    // "UDF(" = a ScalaUDF call site (typed flatMap's internal
    // UDFAdaptors class name is fine — that's the MapGroups machinery)
    assert(!p.contains("UDF("), "opaque UDF filter in span-near plan")
    assert(!p.contains("collect_list"), "ANY-term collect in span-near plan")
    val iVerify = p.indexOf("MapGroups")
    assert(iVerify > 0, p.take(2000))
    // the conjunction candidates (count(distinct term) == k) join BELOW
    // the verify stage — a hot term never floods the position collect
    val below = p.drop(iVerify)
    assert(below.contains("Join") && below.contains("count("),
      below.take(3000))
  }

  test("warm reader, no deletes: scorer and span families run as ONE job, no shuffle") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val s = new Searcher(warm)
    val rel = new RelationalPath(warm)
    val page1 = s.topK(Query.or("spark", "merge"), 3).collect()
    val (afterScore, afterDoc) = (page1.last.getFloat(3), page1.last.getLong(1))
    val families: Seq[(String, () => Any)] = Seq(
      "term" -> (() => s.topK(TermQ("spark"), 10).collect()),
      "and" -> (() => s.topK(Query.and("spark", "join"), 10).collect()),
      "or" -> (() => s.topK(Query.or("window", "batch"), 10).collect()),
      "or_mm" -> (() => s.topK(Query.orMM(2, "sort", "merge", "window"), 10).collect()),
      "not" -> (() => s.topK(Query.not("spark", "merge"), 10).collect()),
      "filter" -> (() => s.topK(BoolQ(must = Seq(TermQ("spark")),
        filter = Seq(AttrQ("lang", "en"))), 10).collect()),
      "phrase" -> (() => s.topK(PhraseQ(Seq("batch", "batch")), 10).collect()),
      "after" -> (() => s.topKAfter(Query.or("spark", "merge"), 3, afterScore, afterDoc).collect()),
      "fuzzy" -> (() => s.topK(FuzzyQ("spork", 1), 10).collect()),
      "span-near" -> (() => rel.spanNearDocs(Seq("spark", "merge"), 3, inOrder = true).collect()),
      "intervals" -> (() => rel.intervalContainingDocs(Seq("spark", "merge"), 6, "the").collect()),
      "edismax" -> (() => EDisMax.topK(Seq(warm -> 1.0),
        EDisMax.parse("+spark merge window", "50%"), 10, pf2 = Seq(warm -> 0.4),
        bq = Seq("sort" -> 1.5)).collect()))
    families.foreach { case (name, run) =>
      run() // first call loads the driver dictionary
      val c = org.apache.spark.JobCounts.of(spark.sparkContext)(run())
      assert(c.jobs === 1, s"$name: ${c.jobs} jobs")
      assert(c.stages === 1, s"$name: ${c.stages} stages submitted — a shuffle ran")
    }
  }

  test("warm topK and topKAfter start no SQL execution before the caller collects") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val s = new Searcher(warm)
    val filtered = BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en")))
    s.topK(filtered, 10) // loads the driver dictionary
    val queries: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "term" -> (() => s.topK(TermQ("spark"), 10)),
      "filter" -> (() => s.topK(filtered, 10)),
      "phrase" -> (() => s.topK(PhraseQ(Seq("batch", "batch")), 10)),
      "after" -> (() => s.topKAfter(Query.or("spark", "merge"), 3, 1.0f, 2L)))
    queries.foreach { case (name, run) =>
      val c = org.apache.spark.JobCounts.of(spark.sparkContext)(run())
      assert(c.jobs === 1, s"$name: $c")
      assert(c.sqlExecutions === 0, s"$name: $c")
    }
  }

  test("warm filters, match-all and attr-anchored queries run as ONE job and no SQL; a url filter takes the docs cogroup") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val s = new Searcher(warm)
    s.topK(TermQ("spark"), 10) // loads the driver dictionary
    val repeated = BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en")))
    s.topK(repeated, 10)
    val queries: Seq[(String, Query)] = Seq(
      // bounds no other spec uses: the predicate binds in this call
      "first-seen predicate" -> BoolQ(must = Seq(TermQ("merge")), filter = Seq(AttrRangeQ("ts",
        Some("2025-10-24 00:01:17"), Some("2025-10-24 00:07:43")))),
      "repeated filter" -> repeated,
      "match-all" -> MatchAllQ,
      "+lang:en -spark" -> BoolQ(must = Seq(AttrQ("lang", "en")), mustNot = Seq(TermQ("spark"))))
    queries.foreach { case (name, q) =>
      var hits: DataFrame = null
      val c = org.apache.spark.JobCounts.of(spark.sparkContext) { hits = s.topK(q, 10) }
      assert(hits.collect().nonEmpty, name)
      assert(c.jobs === 1, s"$name: $c")
      assert(c.stages === 1, s"$name: $c — a shuffle ran")
      assert(c.sqlExecutions === 0, s"$name: $c")
    }
    // the resident docs lack `url`: its predicate cogroups the docs rows
    val url = BoolQ(must = Seq(TermQ("the")), filter = Seq(AttrRangeQ("url",
      Some("https://example.com/src1"), Some("https://example.com/src3"))))
    s.evaluate(url, 10, None) match {
      case Some(Right(plan)) => assert(plan.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.CoGroup => g }.size === 1)
      case other => fail(s"url filter plan: $other")
    }
    warm.close()
  }

  test("warm reader, no deletes: frange, geo and sorted reads run as ONE job and no SQL; suggest runs none") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val rel = new RelationalPath(warm)
    val families: Seq[(String, () => DataFrame)] = Seq(
      "frange" -> (() => rel.frangeTopK(graft.functions.ValueSources.fn("mod", col("dl"), lit(7)), 2, 3, 10)),
      "geo" -> (() => rel.geoTopK("cast(doc_id % 120 as double) - 59.5",
        "cast((doc_id * 7) % 360 as double) - 179.5", 10.0, 20.0, 2000.0, 10)),
      "sorted_early" -> (() => SortedRead.earlyTopK(warm, 10)),
      "sorted_full" -> (() => SortedRead.fullScanTopK(warm, 10)))
    families.foreach { case (name, run) =>
      run().collect()
      val c = org.apache.spark.JobCounts.of(spark.sparkContext)(run())
      assert(c.jobs === 1, s"$name: $c")
      assert(c.stages === 1, s"$name: $c — a shuffle ran")
      assert(c.sqlExecutions === 0, s"$name: $c")
      // the ranked frame is local: collecting it runs no further job
      val all = org.apache.spark.JobCounts.of(spark.sparkContext)(run().collect())
      assert(all.jobs === 1, s"$name collected: $all")
    }
    Suggest.suggest(warm, "sp", 10).collect() // loads the driver dictionary
    val c = org.apache.spark.JobCounts.of(spark.sparkContext)(Suggest.suggest(warm, "s", 10).collect())
    assert(c.jobs === 0, s"suggest: $c")
  }

  test("a warm resident job's task binary holds its function, not the segments' parquet scan") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val terms = Seq("spark", "merge")
    val q = Query.or(terms: _*)
    val ctx = ScoringContext(warm.stats, warm.termDfs(terms))
    val segs = warm.resident.get
    val postings = org.apache.spark.TaskBinary.bytes(segs.job(seg =>
      SegmentScorer.score(q, ctx, seg.postings.rows(terms), None, 10)))(_.toArray)
    val docs = org.apache.spark.TaskBinary.bytes(
      segs.job(_.docs.firstMatching(None, Array.emptyDoubleArray, 10)))(_.toArray)
    // scoredHits runs the Searcher's own per-segment function through
    // the seam, before the caller collects and outside any SQL execution.
    // A filter's function also carries its bound predicates: Catalyst
    // trees of about 1.5 KB each (BoundReference's accessor lambdas, the
    // literals' pattern bits), still a tenth of the 55 KB a job carrying
    // the segments' scan plan ships
    val s = new Searcher(warm)
    def scoredJob(q: Query): Int = s.evaluate(q, 10, None) match {
      case Some(Left((segs, score))) => org.apache.spark.TaskBinary.bytes(segs.job(score))(_.toArray)
      case other => fail(s"warm scoredHits plan of $q: $other")
    }
    val scored = scoredJob(q)
    val filtered = scoredJob(BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en"),
      AttrRangeQ("ts", Some("2025-10-24 00:02:00"), None))))
    val c = org.apache.spark.JobCounts.of(spark.sparkContext)(s.scoredHits(q, 10))
    assert(c.jobs === 1 && c.sqlExecutions === 0, s"scoredHits: $c")
    assert(postings < 4096, s"postings job: $postings bytes")
    assert(docs < 4096, s"docs job: $docs bytes")
    assert(scored < 4096, s"scoredHits job: $scored bytes")
    assert(filtered < 8192, s"filter job: $filtered bytes")
    warm.close()
  }

  test("warm edismax with bf or pending deletes: the kernel's groupByKey pass, well under the general plan's jobs") {
    val warm = graft.index.InvertedIndex.open(spark, indexCopy(idx.dir)).warm()
    val fields = Seq(warm -> 1.0)
    val p = EDisMax.parse("+spark merge window", "50%")
    def jobs(run: () => Any): Int = {
      run() // first call loads the driver caches
      org.apache.spark.JobCounts.of(spark.sparkContext)(run()).jobs
    }
    // the clean shape stays the resident pass's one job
    assert(jobs(() => EDisMax.topK(fields, p, 10).collect()) === 1)
    // the general plan these shapes ran before read 10 jobs with bf
    // and 9 with pending deletes; the groupByKey pass reads 3 for each
    val bf = jobs(() => EDisMax.topK(fields, p, 10, bf = Some(log(col("dl") + lit(1L)))).collect())
    assert(bf <= 3, s"bf: $bf jobs")
    graft.index.Deletes.deleteByUrl(warm, warm.urlMap().get.collect { case (d, u) if d % 7 == 0 => u }.toSeq)
    assert(warm.hasDeletes)
    val deletes = jobs(() => EDisMax.topK(fields, p, 10).collect())
    assert(deletes <= 3, s"pending deletes: $deletes jobs")
    warm.close()
  }

  test("postings scan prunes columns (term stats never read blocks)") {
    val p = plan(idx.termStats.filter(col("term") === "spark"))
    assert(!p.contains("blocks"),
      "termstats path must not touch the blocks column")
  }

  test("phonetic sounds-like: first-letter prefix pushed below the soundex compare") {
    val p = plan(Suggest.soundsLike(idx, "spork", 5))
    assert(p.contains("StringStartsWith(term,s)"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("ngram suggester lookup: gram equality pushed into the suggest scan") {
    val dir = s"/tmp/graft-plan-suggest-${System.nanoTime()}"
    Suggest.buildNgramIndex(idx, dir, minGram = 1, maxGram = 4)
    try {
      val p = plan(Suggest.suggestNgram(spark, dir, "sp", 10))
      assert(p.contains("EqualTo(gram,sp)"), p.take(2000))
      // top-k by df: bounded heap, not a global sort
      assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    } finally {
      import java.nio.file.{Files, Paths}
      Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }

  test("fuzzy suggester: glen length band pushed below the levenshtein") {
    val dir = s"/tmp/graft-plan-fsuggest-${System.nanoTime()}"
    Suggest.buildNgramIndex(idx, dir, minGram = 1, maxGram = 6)
    try {
      val p = plan(Suggest.suggestFuzzy(spark, dir, "spar", 1, 10))
      // the ±maxEdits gram-length band is a plain int range the scan
      // can push (row-group min/max pruning); the levenshtein itself
      // never reaches the scan
      assert(p.contains("GreaterThanOrEqual(glen,3)") &&
        p.contains("LessThanOrEqual(glen,5)"), p.take(3000))
      assert(p.contains("TakeOrderedAndProject"), p.take(3000))
      assert(!p.contains("WindowExec"), p.take(3000))
    } finally {
      import java.nio.file.{Files, Paths}
      Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }

  test("LTR feature fetch: candidate ids PUSHED into the docs scan, broadcast, ZERO Window") {
    val model = Ltr.LinearModel(
      Seq("base" -> col("s"), "dl" -> col("dl").cast("double")),
      Seq(1.0, 0.001))
    val cands = Seq((1L, 1L, 2.0), (3L, 3L, 1.5), (7L, 7L, 1.0))
    val p = plan(Ltr.candidateFeatures(idx, cands, model))
    // the ≤topN candidate ids ship as a pushed isin predicate — the
    // feature fetch reads the candidates' row groups, never the corpus
    assert(p.contains("In(docId"), p.take(3000))
    // the ≤topN candidate side broadcasts into the feature join
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    // end-to-end: ranks stamped on the driver, result non-empty
    assert(Ltr.rescore(idx, Seq("spark", "merge"), 30, 10, model)
      .collect().nonEmpty)
  }

  test("term-vectors fetch: doc predicate prunes the stored-fields scan") {
    val p = plan(TermVectors.forDocs(idx, col("docId") < 5L))
    assert(p.contains("LessThan(docId,5)"), p.take(2000))
    // stored-fields read: docId/url/text only — never norms/dl/segId
    assert(p.contains("ReadSchema") && !p.contains("norm"), p.take(2000))
  }
}
