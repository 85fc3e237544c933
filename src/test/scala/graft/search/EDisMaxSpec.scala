package graft.search

import graft.SparkSpec
import graft.SparkEntry

/** edismax dialect: parser goldens (qf/mm semantics) and execution
  * agreement with the single-field relational path and with the
  * general relational plan kept as the reference (`EDisMaxOracle`). */
class EDisMaxSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val textIdx = SparkEntry.index(spark, sfDir)
  private lazy val urlIdx = SparkEntry.urlIndex(spark, sfDir)
  /** A warm reader of the text index: single-index edismax runs the
    * kernel's resident pass on it. */
  private lazy val warmTextIdx =
    graft.index.InvertedIndex.open(spark, indexCopy(textIdx.dir)).warm()

  test("parser: occurs, dedup, percentage mm floor") {
    val p = EDisMax.parse("+Spark -merge data window data", "50%")
    assert(p.must === Seq("spark"))
    assert(p.mustNot === Seq("merge"))
    assert(p.should === Seq("data", "window")) // deduped
    assert(p.mmCount === 1) // floor(50% of 2)
    assert(EDisMax.parse("a b c", "2").mmCount === 2) // absolute
    assert(EDisMax.parse("a b c", "67%").mmCount === 2) // floor(2.01)
  }

  test("stepped mm spec: conditional steps, negatives, clamping (Solr goldens)") {
    import EDisMax.mmFromSpec
    // absolutes and plain percentages
    assert(mmFromSpec("3", 5) === 3)
    assert(mmFromSpec("-2", 5) === 3) // all but 2
    assert(mmFromSpec("75%", 4) === 3)
    assert(mmFromSpec("-25%", 4) === 3) // 25% may be missing
    assert(mmFromSpec("9", 5) === 5) // clamped to optional count
    // the SolrPluginUtils javadoc example: "2<-25% 9<-3"
    //  ≤2 clauses → all required; 3..9 → all but 25%; >9 → all but 3
    assert(mmFromSpec("2<-25% 9<-3", 1) === 1)
    assert(mmFromSpec("2<-25% 9<-3", 2) === 2)
    assert(mmFromSpec("2<-25% 9<-3", 5) === 4) // 25% of 5 → 1 missing
    assert(mmFromSpec("2<-25% 9<-3", 10) === 7)
    // simple step: at or below the threshold all required
    assert(mmFromSpec("2<67%", 2) === 2)
    assert(mmFromSpec("2<67%", 3) === 2) // floor(67% of 3)
    // step order in the spec string does not matter
    assert(mmFromSpec("9<-3 2<-25%", 10) === 7)
  }

  test("percentage mm counts the EXECUTED optional list, not raw tokens") {
    // "+spark spark merge": spark is absorbed into must, so only `merge`
    // remains optional — 100% must demand 1, not 2 (which would be
    // unsatisfiable and return nothing for docs matching both terms)
    val p = EDisMax.parse("+spark spark merge", "100%")
    assert(p.must === Seq("spark"))
    assert(p.should === Seq("merge"))
    assert(p.mmCount === 1)
    // all-duplicate should list collapses to 1 optional clause
    assert(EDisMax.parse("data data data", "100%").mmCount === 1)
  }

  test("single text field, boost 1 ≡ the single-field relational path") {
    val rel = new RelationalPath(textIdx)
    val viaEdismax = EDisMax.topK(Seq(textIdx -> 1.0),
      EDisMax.parse("spark join", "0"), 10).collect().toSeq
    val viaBool = rel.forParsed(Query.or("spark", "join"), 10).collect().toSeq
    assert(viaEdismax === viaBool)
    // and the scorer path agrees too (docId → doc_id by url)
    val urlOf = textIdx.docs.collect().map(d => d.docId -> d.url).toMap
    val viaScorer = new Searcher(textIdx).topK(Query.or("spark", "join"), 10)
      .collect().map(r => RelationalPath.docIdOfUrl(urlOf(r.getLong(1)))).toSeq
    assert(viaScorer.nonEmpty)
    assert(viaEdismax.map(_.getLong(1)) === viaScorer)
  }

  test("multi-field: url-only term matches through the url index") {
    // 'src1' appears only in urls; every returned doc must have source=src1
    val hits = EDisMax.topK(Seq(textIdx -> 2.0, urlIdx -> 1.0),
      EDisMax.parse("src1", "0"), 10).collect()
    assert(hits.nonEmpty)
    val srcOf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.foreach(r => assert(srcOf(r.getLong(1)) === "src1"))
  }

  test("tie: 0 is pure dismax, 1 degrades to plain sum, 0.3 in between") {
    import org.apache.spark.sql.functions._
    val fields = Seq(textIdx -> 2.0, urlIdx -> 1.0)
    val p = EDisMax.parse("spark src3", "0")
    // tie defaulted ≡ tie = 0 explicitly (same plan branch not required,
    // same VALUES required)
    assert(EDisMax.topK(fields, p, 10).collect().toSeq ===
      EDisMax.topK(fields, p, 10, tie = 0.0).collect().toSeq)
    // tie = 1 must equal a plain cross-field SUM of boosted partials:
    // max + 1·(sum − max) = sum
    val viaTie1 = EDisMax.topK(fields, p, 10, tie = 1.0)
      .collect().map(_.getLong(1)).toSeq
    val rel = Seq(
      new RelationalPath(textIdx).scoredTf(Seq("spark", "src3"))
        .select(col("docId"), col("doc_id"), (col("score") * 2.0).as("ws")),
      new RelationalPath(urlIdx).scoredTf(Seq("spark", "src3"))
        .select(col("docId"), col("doc_id"), (col("score") * 1.0).as("ws")))
      .reduce(_ unionByName _)
      .groupBy("docId", "doc_id").agg(sum("ws").as("s"))
      .orderBy(desc("s"), asc("docId")).limit(10)
      .collect().map(_.getLong(1)).toSeq
    assert(viaTie1 === rel)
  }

  test("bf: additive boost function shifts scores by the doc feature") {
    import org.apache.spark.sql.functions._
    val fields = Seq(textIdx -> 1.0)
    val p = EDisMax.parse("spark", "0")
    // constant bf cannot change the ranking, only the (hidden) score
    val base = EDisMax.topK(fields, p, 10).collect().toSeq
    val shifted = EDisMax.topK(fields, p, 10, bf = Some(lit(100.0))).collect().toSeq
    assert(base === shifted)
    // dl-dependent bf with a dominating weight ranks by dl among hits
    val byDl = EDisMax.topK(fields, p, 10,
      bf = Some(col("dl").cast("double") * 1e6)).collect().map(_.getLong(1)).toSeq
    val oracle = new RelationalPath(textIdx).scoredTf(Seq("spark"))
      .groupBy("docId", "doc_id").agg(sum("score").as("s"))
      .join(new RelationalPath(textIdx).docsWithId.select(col("docId"), col("dl")), "docId")
      .withColumn("s", col("s") + col("dl").cast("double") * 1e6)
      .orderBy(desc("s"), asc("docId")).limit(10)
      .collect().map(_.getLong(1)).toSeq
    assert(byDl === oracle)
  }

  test("bf: distributed-join path (cap 0) matches the pushed-isin driver path") {
    import org.apache.spark.sql.functions._
    val fields = Seq(textIdx -> 1.0)
    val p = EDisMax.parse("spark merge", "0")
    val fn = Some(log(col("dl") + lit(1L)))
    val pushed = EDisMax.topK(fields, p, 10, bf = fn).collect().toSeq
    val joined = EDisMax.topK(fields, p, 10, bf = fn, bfCap = 0).collect().toSeq
    assert(pushed === joined)
  }

  test("pf: phrase boost never changes the hit set, boosts phrase docs") {
    val p = EDisMax.parse("batch batch", "0")
    assert(p.positional === Seq("batch", "batch")) // raw order, dups kept
    assert(p.should === Seq("batch"))              // deduped clause list
    val fields = Seq(textIdx -> 1.0)
    val base = EDisMax.topK(fields, p, 1000).collect().map(_.getLong(1)).toSet
    val boosted = EDisMax.topK(fields, p, 1000, pf = fields).collect()
    assert(boosted.map(_.getLong(1)).toSet === base) // pure boost
    // with a DOMINATING pf boost every phrase doc outranks every
    // non-phrase doc
    val phraseDocs = new RelationalPath(textIdx)
      .phraseDocs(Seq("batch", "batch")).collect().map(_.getLong(0)).toSet
    assert(phraseDocs.nonEmpty)
    val dom = EDisMax.topK(fields, p, 1000, pf = Seq(textIdx -> 1e9))
      .collect().sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    assert(dom.take(phraseDocs.size).toSet === phraseDocs)
    // the boosted ranks are the reference plan's, whose phrase join
    // counts the phrase tfs independently of the kernel's per-doc fold
    assert(boosted.toSeq === EDisMaxOracle.topK(fields, p, 1000, pf = fields).collect().toSeq)
  }

  test("pf2/pf3: bigram shingles; 2-term pf2 ≡ pf; pure boost") {
    val fields = Seq(textIdx -> 1.0)
    val p2 = EDisMax.parse("batch batch", "0")
    // one bigram of a 2-term query IS the whole phrase
    assert(EDisMax.topK(fields, p2, 10, pf2 = fields).collect().toSeq ===
      EDisMax.topK(fields, p2, 10, pf = fields).collect().toSeq)
    val p3 = EDisMax.parse("batch batch merge", "0")
    val base = EDisMax.topK(fields, p3, 1000).collect().map(_.getLong(1)).toSet
    val boosted = EDisMax.topK(fields, p3, 1000,
      pf2 = Seq(textIdx -> 0.4), pf3 = Seq(textIdx -> 0.2)).collect()
    assert(boosted.map(_.getLong(1)).toSet === base) // hit set unchanged
    // pf3 on a 2-term query is a no-op
    assert(EDisMax.topK(fields, p2, 10, pf3 = fields).collect().toSeq ===
      EDisMax.topK(fields, p2, 10).collect().toSeq)
  }

  test("bq: additive boost query never changes the hit set") {
    val fields = Seq(textIdx -> 1.0)
    val p = EDisMax.parse("spark", "0")
    val base = EDisMax.topK(fields, p, 1000).collect().map(_.getLong(1)).toSet
    val boosted = EDisMax.topK(fields, p, 1000, bq = Seq("merge" -> 1e9))
      .collect()
    assert(boosted.map(_.getLong(1)).toSet === base)
    // dominating bq: docs matching merge rank ahead of those that don't
    val mergeDocs = new RelationalPath(textIdx).scoredTf(Seq("merge"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bothCnt = (base intersect mergeDocs).size
    val ranked = boosted.sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    assert(ranked.take(bothCnt).forall(mergeDocs.contains))
  }

  test("single-pass kernel ≡ general plan across query shapes") {
    shapesKernelAgreement(graft.index.InvertedIndex.open(spark, textIdx.dir))
  }

  test("resident kernel (warm single index) ≡ general plan across query shapes") {
    shapesKernelAgreement(warmTextIdx)
  }

  /** `EDisMax.topK` over `idx` and over a plain IndexView delegate of it
    * (no driver dictionary or url cache: the read an over-cap reader
    * takes) ≡ the general relational plan, `EDisMaxOracle`, rank for
    * rank on every query shape. */
  private def shapesKernelAgreement(idx: graft.index.InvertedIndex): Unit = {
    import org.apache.spark.sql.functions._
    def both(q: String, mm: String, boost: Double = 1.0, tie: Double = 0.0,
             bf: Option[org.apache.spark.sql.Column] = None,
             pf: Boolean = false, pf2: Boolean = false, pf3: Boolean = false,
             bq: Seq[(String, Double)] = Nil): Unit = {
      val call = EDisMaxOracle.Call(Seq(idx -> boost), EDisMax.parse(q, mm), tie = tie, bf = bf,
        pf = if (pf) Seq(idx -> 0.7) else Nil,
        pf2 = if (pf2) Seq(idx -> 0.4) else Nil,
        pf3 = if (pf3) Seq(idx -> 0.3) else Nil,
        bq = bq)
      val want = call.oracle
      assert(call.engine === want, s"shape: q='$q' mm='$mm'")
      assert(call.over(EDisMaxOracle.plain).engine === want, s"plain shape: q='$q' mm='$mm'")
    }
    both("sort merge window", "2<67%", pf2 = true)         // the x01 shape
    both("spark join", "0")                                 // plain OR
    both("spark join data", "2")                            // absolute mm
    both("+spark merge", "0")                               // must + should
    both("+spark -merge data", "0")                         // mustNot
    both("spark sort merge", "0", pf = true, pf3 = true)    // pf + pf3
    both("spark join", "0", boost = 2.5)                    // field boost
    both("spark join", "0", bq = Seq("merge" -> 1.5))       // bq
    both("spark zzzabsent", "0")                            // absent should
    both("spark zzzabsent merge", "0", pf2 = true)          // absent gram term
    both("+zzzabsent spark", "0")                           // absent must → empty
    both("spark spark merge", "100%")                       // duplicate tokens
    both("spark join", "50%", tie = 0.3, bf = Some(log(col("dl") + lit(1L)))) // the ir_q35 shape
  }

  test("kernel ≡ general plan on randomized caller-built Parsed (incl. must∩should overlap)") {
    randomizedKernelAgreement(graft.index.InvertedIndex.open(spark, textIdx.dir))
  }

  test("resident kernel (warm single index) ≡ general plan on randomized caller-built Parsed") {
    randomizedKernelAgreement(warmTextIdx)
  }

  /** Bypasses parse(): raw Parsed values with duplicate lists, terms in
    * BOTH must and should, and mm counts beyond the optional-clause
    * count — topK's normalization must hold them to the invariant the
    * reference plan sees, or the kernel double-counts the overlapping
    * term. On a reader that has not been warmed the kernel runs its
    * groupByKey pass, on a warm one its resident pass, and on a plain
    * delegate the groupByKey pass with the trait's df lookup. */
  private def randomizedKernelAgreement(idx: graft.index.InvertedIndex): Unit = {
    val pool = Vector("spark", "merge", "data", "sort", "window", "zzzabsent")
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 12) {
      def pick(n: Int) = Seq.fill(n)(pool(rnd.nextInt(pool.length)))
      val must = pick(rnd.nextInt(2))
      val overlap = if (must.nonEmpty && rnd.nextBoolean()) must.take(1) else Nil
      val should = pick(1 + rnd.nextInt(3)) ++ overlap
      val mustNot = pick(rnd.nextInt(2))
        .filterNot(t => must.contains(t) || should.contains(t))
      val mm = rnd.nextInt(should.length + 2)
      val p = EDisMax.Parsed(must, should, mustNot, mm, (must ++ should).distinct)
      val call = EDisMaxOracle.Call(Seq(idx -> 1.0), p,
        pf2 = if (rnd.nextBoolean()) Seq(idx -> 0.4) else Nil)
      val want = call.oracle
      val shape = s"trial $trial: must=$must should=$should mustNot=$mustNot mm=$mm"
      assert(call.engine === want, shape)
      assert(call.over(EDisMaxOracle.plain).engine === want, s"plain $shape")
    }
  }

  test("multi-field kernel ≡ general plan across query shapes") {
    multiFieldKernelAgreement(textIdx, urlIdx)
    // both fields warm: the kernel's groupByKey pass reads the resident
    // postings and their norm bytes (the text and url fields' lengths
    // differ, so a norm taken from the wrong field changes the ranks)
    multiFieldKernelAgreement(
      graft.index.InvertedIndex.open(spark, indexCopy(textIdx.dir)).warm(),
      graft.index.InvertedIndex.open(spark, indexCopy(urlIdx.dir)).warm())
  }

  /** Both qf fields as InvertedIndexes, and wrapped as plain IndexViews,
    * run the kernel's groupByKey pass — both ≡ the reference plan. */
  private def multiFieldKernelAgreement(textIdx: graft.index.InvertedIndex,
                                        urlIdx: graft.index.InvertedIndex): Unit = {
    import org.apache.spark.sql.functions._
    def both(q: String, mm: String, tie: Double = 0.0,
             bf: Option[org.apache.spark.sql.Column] = None,
             pfText: Boolean = false, pf2Text: Boolean = false,
             bq: Seq[(String, Double)] = Nil): Unit = {
      val call = EDisMaxOracle.Call(Seq(textIdx -> 2.0, urlIdx -> 1.0), EDisMax.parse(q, mm),
        tie = tie, bf = bf,
        pf = if (pfText) Seq(textIdx -> 0.7) else Nil,
        pf2 = if (pf2Text) Seq(textIdx -> 0.4) else Nil,
        bq = bq)
      val want = call.oracle
      assert(call.engine === want, s"shape: q='$q' mm='$mm' tie=$tie")
      assert(call.over(EDisMaxOracle.plain).engine === want, s"plain shape: q='$q' mm='$mm' tie=$tie")
    }
    both("spark src3", "50%")                     // the ir_q30 gate shape
    both("spark src3", "50%", tie = 0.3)          // dismax tiebreak fold
    both("spark src3", "50%", tie = 0.3, bf = Some(log(col("dl") + lit(1L)))) // the ir_q35 shape
    both("spark src3 merge", "2")                 // absolute mm across fields
    both("+spark src1", "0")                      // must in one field
    both("+spark -src1 merge", "0")               // mustNot from the url field
    both("spark merge window", "0", pfText = true, pf2Text = true) // grams
    both("spark src3", "0", bq = Seq("merge" -> 1.5))              // bq
    both("spark spark src3", "100%")              // duplicate tokens
  }

  test("must + mustNot across fields") {
    // +spark (text) -src1 (url): spark docs excluding source=src1
    val hits = EDisMax.topK(Seq(textIdx -> 2.0, urlIdx -> 1.0),
      EDisMax.parse("+spark -src1", "0"), 10).collect()
    assert(hits.nonEmpty)
    val srcOf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.foreach(r => assert(srcOf(r.getLong(1)) !== "src1"))
  }
}
