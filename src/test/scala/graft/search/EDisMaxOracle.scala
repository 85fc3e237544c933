package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analysis.Analysis
import graft.index.IndexView

/** The reference plan of `EDisMax.topK`: the same query restated as
  * relational operators — per-field `scoredTf` partials (stats and docs
  * joins), a cross-field groupBy for the DisMax, `boolPerDoc` for the
  * Boolean fold, a batched phrase-frequency shuffle joined in for
  * pf/pf2/pf3, a left join per bq and bf's two regimes — with the same
  * double-precision op sequence. The equivalence specs compare `topK`
  * with it on cold, warm, plain and tombstoned readers. A doc deleted
  * in a qf field loses that field's partials (the live-docs join); the
  * specs delete the same urls in every field, where that is the whole
  * doc. */
object EDisMaxOracle {
  import EDisMax.{BfPushdownCap, Parsed}

  /** One edismax call, collected as `EDisMax.topK` answers it (`engine`)
    * or as this reference plan does (`oracle`). */
  final case class Call(fields: Seq[(IndexView, Double)], p: Parsed, k: Int = 10,
                        tie: Double = 0.0, bf: Option[Column] = None,
                        pf: Seq[(IndexView, Double)] = Nil,
                        pf2: Seq[(IndexView, Double)] = Nil,
                        pf3: Seq[(IndexView, Double)] = Nil,
                        bq: Seq[(String, Double)] = Nil,
                        bfCap: Int = BfPushdownCap) {
    def engine: Seq[Row] = EDisMax.topK(fields, p, k, tie, bf, pf, pf2, pf3, bq, bfCap).collect().toSeq
    def oracle: Seq[Row] = topK(fields, p, k, tie, bf, pf, pf2, pf3, bq, bfCap).collect().toSeq

    /** The same call with every reader replaced by `f` of it (one
      * replacement per distinct reader, so fields that share an index
      * still share it). */
    def over(f: IndexView => IndexView): Call = {
      val memo = new java.util.IdentityHashMap[IndexView, IndexView]()
      def on(fs: Seq[(IndexView, Double)]) =
        fs.map { case (i, b) => (memo.computeIfAbsent(i, x => f(x)), b) }
      copy(fields = on(fields), pf = on(pf), pf2 = on(pf2), pf3 = on(pf3))
    }
  }

  /** `idx` behind a plain `IndexView` delegate: none of an
    * `InvertedIndex`'s driver caches or resident segments, and the
    * trait's default `postingsOf`, `termDfs` and (no) tombstones. */
  def plain(idx: IndexView): IndexView = new IndexView {
    def spark = idx.spark
    def stats = idx.stats
    def postings = idx.postings
    def docs = idx.docs
    def termStats = idx.termStats
  }

  def topK(fields: Seq[(IndexView, Double)], p0: Parsed, k: Int = 10,
           tie: Double = 0.0,
           bf: Option[Column] = None,
           pf: Seq[(IndexView, Double)] = Nil,
           pf2: Seq[(IndexView, Double)] = Nil,
           pf3: Seq[(IndexView, Double)] = Nil,
           bq: Seq[(String, Double)] = Nil,
           bfCap: Int = BfPushdownCap): DataFrame = {
    require(fields.nonEmpty, "edismax needs at least one qf field")
    // the normalization `EDisMax.topK` applies to caller-built Parsed
    // values
    val p = {
      val must = p0.must.distinct
      val should = p0.should.distinct.filterNot(must.contains)
      Parsed(must, should, p0.mustNot.distinct,
        math.max(0, math.min(p0.mmCount, should.length)), p0.positional)
    }
    val spark = fields.head._1.spark
    val scoredTerms = p.must ++ p.should
    require(scoredTerms.nonEmpty, "edismax needs at least one positive term")

    // pf/pf2/pf3 shingles of the positional order, in the PINNED
    // additive order (fields in list order, grams left→right, pf
    // before pf2 before pf3)
    final case class GramSpec(field: IndexView, boost: Double, gram: Seq[String])
    val gramSeq: Seq[GramSpec] =
      (if (p.positional.length >= 2)
         pf.map { case (i, b) => GramSpec(i, b, p.positional) }
       else Nil) ++
      (if (p.positional.length >= 2)
         pf2.flatMap { case (i, b) =>
           p.positional.sliding(2).map(g => GramSpec(i, b, g)).toSeq }
       else Nil) ++
      (if (p.positional.length >= 3)
         pf3.flatMap { case (i, b) =>
           p.positional.sliding(3).map(g => GramSpec(i, b, g)).toSeq }
       else Nil)

    // per-field per-(term, doc) boosted partials, unioned across fields
    def fieldScores(terms: Seq[String]): DataFrame =
      fields.map { case (idx, boost) =>
        new RelationalPath(idx).scoredTf(terms)
          .select(col("term"), col("docId"), col("doc_id"),
            (col("score") * lit(boost)).as("ws"))
      }.reduce(_ unionByName _)

    // DisMax per (doc, term) across fields (tiebreak folds the
    // non-winning fields in at `tie` weight), then Boolean over terms.
    // Single-field qf (the common serving shape): the cross-field
    // DisMax is the identity — scoredTf already emits exactly one row
    // per (term, docId), so max-of-one ≡ the row and the groupBy would
    // be a full shuffle of the widest frame for nothing; skip it.
    val tsCol =
      if (tie == 0.0) max("ws")
      else max("ws") + lit(tie) * (sum("ws") - max("ws"))
    val perTerm =
      if (fields.length == 1)
        fieldScores(scoredTerms)
          .select(col("docId"), col("doc_id"), col("term"), col("ws").as("ts"))
      else
        fieldScores(scoredTerms)
          .groupBy("docId", "doc_id", "term")
          .agg(tsCol.as("ts"))
    // excluded if a mustNot term matches ANY qf field — only matching
    // docIds are needed, so read the raw tf table per field instead of
    // running the BM25 scoring pipeline on terms whose scores are
    // discarded
    val excluded =
      if (p.mustNot.isEmpty) None
      else Some(fields.map { case (idx, _) =>
        new RelationalPath(idx).tfTable(p.mustNot)
          .toDF("term", "docId", "tf").select("docId")
      }.reduce(_ union _).distinct())
    // the Boolean fold over terms (must count, mm, mustNot) is the
    // relational path's own
    var out = new RelationalPath(fields.head._1)
      .boolPerDoc(perTerm, p.must, p.should, excluded, None, p.mmCount)
    // phrase boosts: full phrase (pf), bigram (pf2), trigram (pf3)
    // shingles of the positional order — computed for ALL grams of ALL
    // phrase fields in ONE batched pass per distinct field
    // (`phraseFreqs`: one position shuffle, every gram
    // counted in-group), then folded into the score as a single Column
    // expression in the PINNED additive order (fields in list order,
    // grams left→right, pf before pf2 before pf3) with the exact
    // per-gram FP op sequence of the one-join-per-gram path it
    // replaces: s ← s + boost·coalesce(sumIdf·(ptf/(ptf + 1.2·(0.25 +
    // 0.75·dlq/avgdl))), 0). A miss keeps the doc at +0.0 — pf never
    // adds or removes hits.
    if (gramSeq.nonEmpty) {
      val gramFields = gramSeq.map(_.field).distinct
      // per distinct field: df lookup (one bounded collect), active
      // gram contents (every term in the dictionary — a gram with an
      // absent term scores 0 everywhere, exactly the empty frame the
      // per-gram path produced), one batched freq frame, one left join
      val perField: Map[IndexView, (Map[String, Long], IndexedSeq[Seq[String]], Int)] =
        gramFields.zipWithIndex.map { case (idx, fi) =>
          val mine = gramSeq.filter(_.field == idx)
          val dfOf = EDisMax.fieldDfs(idx, mine.flatMap(_.gram).distinct)
          val contents = mine.map(_.gram).distinct
            .filter(_.forall(dfOf.contains)).toIndexedSeq
          if (contents.nonEmpty) {
            val ff = phraseFreqs(idx, contents)
              .select(col("docId"), col("ptfs").as(s"__ptfs$fi"),
                col("dlq").as(s"__pdlq$fi"))
            out = out.join(ff, Seq("docId"), "left")
          }
          idx -> ((dfOf, contents, fi))
        }.toMap
      var sCol = col("s")
      gramSeq.foreach { case GramSpec(idx, boost, gram) =>
        val (dfOf, contents, fi) = perField(idx)
        val ci = contents.indexOf(gram)
        if (ci >= 0) {
          val n = idx.stats.docCount
          var sumIdf = 0.0 // phrase-order fold, like the scorer path
          gram.foreach(t =>
            sumIdf += math.log(1.0 + (n - dfOf(t) + 0.5) / (dfOf(t) + 0.5)))
          val ptf = element_at(col(s"__ptfs$fi"), lit(ci))
          val ps = lit(sumIdf) * (ptf / (ptf +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              col(s"__pdlq$fi").cast("double") /
              lit(idx.stats.sumTotalTermFreq.toDouble / idx.stats.docCount))))
          sCol = sCol + lit(boost) * coalesce(ps, lit(0.0))
        }
      }
      out = out.withColumn("s", sCol)
        .drop(perField.values.flatMap { case (_, cs, fi) =>
          if (cs.nonEmpty) Seq(s"__ptfs$fi", s"__pdlq$fi") else Nil
        }.toSeq: _*)
    }
    bq.foreach { case (rawTerm, boost) =>
      // boost query: primary-field BM25 of the term, added where it
      // matches (left join keeps non-matching hits at +0). The term
      // goes through the same fold as every parsed query term — the
      // dictionary stores lowercased terms, so a raw mixed-case bq
      // would silently boost nothing.
      val term = Analysis.lowercase(rawTerm)
      val bScores = new RelationalPath(fields.head._1).scoredTf(Seq(term))
        .select(col("docId"), col("score").as("bqs"))
      out = out.join(bScores, Seq("docId"), "left")
        .withColumn("s",
          col("s") + lit(boost) * coalesce(col("bqs"), lit(0.0)))
        .drop("bqs")
    }
    import spark.implicits._
    bf.foreach { fnCol =>
      // evaluate the boost function over the primary field's docs row
      // and ADD it (edismax bf is additive; `boost` would multiply).
      // LEFT-join semantics + coalesce(0): bf can never add or remove
      // hits, and a null-valued function (e.g. log(0)) contributes 0
      // instead of nulling the whole score — Solr bf semantics.
      //
      // The plan choice needs |hits|, but probing it with a blocking
      // limit().collect() would evaluate the whole hit pipeline twice
      // and add a serial round-trip to the hot path. Instead the hit
      // count is UPPER-BOUNDED from term document frequencies alone
      // (no job in warm mode — the dictionary df map lives on the
      // driver): every hit matches all must terms in some field /
      // at least one should term, so |hits| ≤ min over must of
      // Σ_fields df, else Σ over should of Σ_fields df.
      val dfsByField: Seq[Map[String, Long]] =
        fields.map { case (idx, _) => EDisMax.fieldDfs(idx, scoredTerms) }
      def sumDf(t: String): Long = dfsByField.map(_.getOrElse(t, 0L)).sum
      val hitBound: Long =
        if (p.must.nonEmpty) p.must.map(sumDf).min
        else p.should.map(sumDf).sum
      if (hitBound <= bfCap) {
        // the entire hit set is provably ≤ the cap: materialize it
        // once (one job), fetch bf features with the candidate ids
        // PUSHED into the feature scan (row-group pruning — asserted
        // in PlanSpec), and finish ranking on the driver with the same
        // comparator the distributed tail uses.
        val rows = out
          .select(col("docId").cast("long"), col("doc_id").cast("long"),
            col("s").cast("double"))
          .as[(Long, Long, Double)].collect()
        if (rows.isEmpty) return ResultFrames.rankedDocIds(spark, Nil)
        val bfMap: Map[Long, Double] =
          EDisMax.bfFeatures(fields.head._1, fnCol, Some(rows.map(_._1).toSeq))
            .select(col("docId").cast("long"), col("__bf").cast("double"))
            .collect()
            .map(r => r.getLong(0) ->
              (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
        val winners = rows
          .map { case (d, id, s) => (d, id, s + bfMap.getOrElse(d, 0.0)) }
          .sortBy { case (d, _, s) => (-s, d) }
          .take(k)
        return ResultFrames.rankedDocIds(spark, winners.toSeq.map(_._2))
      }
      // above the cap the distributed left join is the correct plan —
      // and it is the query's ONLY job (no probe round-trip)
      out = out.join(EDisMax.bfFeatures(fields.head._1, fnCol, None), Seq("docId"), "left")
        .withColumn("s", col("s") + coalesce(col("__bf"), lit(0.0)))
        .drop("__bf")
    }
    val winners = out
      .orderBy(desc("s"), asc("docId"))
      .limit(k)
      .select(col("docId").cast("long").as("docId"),
        col("doc_id").cast("long").as("doc_id"), col("s").cast("double").as("s"))
      .as[(Long, Long, Double)].collect()
      .sortBy { case (d, _, s) => (-s, d) }
    ResultFrames.rankedDocIds(spark, winners.toSeq.map(_._2))
  }

  /** Exact phrase frequencies for MANY grams in ONE distributed pass —
    * the edismax pf/pf2/pf3 batch kernel. ONE shuffle of the decoded
    * positions of all gram terms, grouped by doc; every gram's phrase
    * tf is counted inside the group, so plan depth (and shuffle count)
    * is CONSTANT in the gram count — replacing the one k-way position
    * self-join per gram that made pf2 latency linear in the bigram
    * count. Mirrors how the reference evaluates all pf/pf2/pf3
    * PhraseQueries in one pass over the shared per-segment term
    * positions [U solr/core/.../search/ExtendedDismaxQParser.java
    * addShingledPhraseQueries; lucene ExactPhraseMatcher].
    *
    * Output: (docId, ptfs: Map[gramIdx → phrase tf], dlq) — live docs
    * with at least one matching gram only; a gram with ptf 0 has no
    * map entry. */
  private def phraseFreqs(idx: IndexView, grams: IndexedSeq[Seq[String]]): DataFrame = {
    val rel = new RelationalPath(idx)
    val spark = idx.spark
    import spark.implicits._
    require(grams.nonEmpty && grams.forall(_.length >= 2),
      "phraseFreqs needs grams of length >= 2")
    val allTerms = grams.flatten.distinct
    val gramArr: Array[Array[String]] = grams.map(_.toArray).toArray
    val freqs = rel.positionsTable(allTerms)
      .select(col("docId").cast("long"), col("term"), col("pos"))
      .as[(Long, String, Seq[Int])]
      .groupByKey(_._1)
      .flatMapGroups { (docId, it) =>
        val posOf = scala.collection.mutable.HashMap.empty[String, Array[Int]]
        it.foreach { case (_, t, ps) => posOf(t) = ps.toArray }
        val setOf = posOf.map { case (t, ps) =>
          val s = new java.util.HashSet[Integer](ps.length * 2)
          ps.foreach(p => s.add(p))
          t -> s
        }
        val hits = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
        var g = 0
        while (g < gramArr.length) {
          val gram = gramArr(g)
          var ok = true
          var i = 0
          while (ok && i < gram.length) { ok = posOf.contains(gram(i)); i += 1 }
          if (ok) {
            val first = posOf(gram(0))
            var ptf = 0
            var j = 0
            while (j < first.length) {
              val p = first(j)
              var m = 1
              var good = true
              while (good && m < gram.length) {
                good = setOf(gram(m)).contains(p + m)
                m += 1
              }
              if (good) ptf += 1
              j += 1
            }
            if (ptf > 0) hits += ((g, ptf.toDouble))
          }
          g += 1
        }
        if (hits.isEmpty) Iterator.empty
        else Iterator.single((docId, hits.toMap))
      }
      .toDF("docId", "ptfs")
    // live-docs + dlq in one inner join: tombstoned docs contribute 0
    freqs.join(rel.docsWithId.select(col("docId"), col("dlq")), "docId")
  }
}
