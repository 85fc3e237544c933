package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analysis.Analysis
import graft.index.IndexView

/** edismax — the multi-field user-query dialect Solr serves by default
  * [U solr/core/.../search/ExtendedDismaxQParser.java, DisMaxQParser]:
  * each user term expands to a DisjunctionMax over the `qf` fields with
  * per-field boosts; bare terms are SHOULD under a percentage
  * minimum-should-match; `+`/`-` mark MUST / MUST_NOT (required in /
  * excluded from ANY qf field).
  *
  * Fields are separate single-field indexes built over the SAME corpus
  * in the SAME url order, so docIds line up across them and the
  * cross-field combine is an equi-join on docId (per-field analysis
  * chains, e.g. the url field's punct→space mapping filter, live in the
  * field's own build). Scoring: per (doc, term)
  * max_f(boost_f · score_f) (tie=0), summed over matching terms —
  * DisMaxQ over fields inside BooleanQuery over terms. */
object EDisMax {

  /** @param positional the RAW positive token sequence in query order
    *        (duplicates kept, must-markers stripped, mustNot excluded) —
    *        what `pf` phrase-boosts, as Solr builds the implicit phrase
    *        from the user's token order, not the deduped clause list.
    * @param mmCount minimum number of `should` clauses a doc must match.
    *        `topK` clamps it to [0, |should|] on purpose: a caller-built
    *        value above |should| requires every should clause, where
    *        Lucene's BooleanQuery.setMinimumNumberShouldMatch matches
    *        nothing — the same clamp `mmFromSpec` applies to mm specs. */
  final case class Parsed(must: Seq[String], should: Seq[String],
                          mustNot: Seq[String], mmCount: Int,
                          positional: Seq[String])

  /** Parse the user string: whitespace-split terms with +/- prefixes;
    * `mm` is an absolute count ("2") or a percentage ("50%", floor of
    * the SHOULD clause count — the Solr rounding rule). */
  def parse(q: String, mm: String = "0"): Parsed = {
    val toks = q.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(toks.nonEmpty, s"empty edismax query: '$q'")
    def word(t: String): String = Analysis.lowercase(t)
    val must = toks.filter(_.startsWith("+")).map(t => word(t.drop(1)))
    val mustNot = toks.filter(_.startsWith("-")).map(t => word(t.drop(1)))
    val should = toks.filterNot(t => t.startsWith("+") || t.startsWith("-")).map(word)
    // mm applies to the EXECUTED optional-clause list — dedup and
    // must-absorption first, or a percentage of the raw token count
    // could exceed the satisfiable maximum (e.g. "+spark spark merge"
    // at 100% would demand 2 SHOULD matches when only `merge` remains
    // optional, returning nothing for satisfiable queries)
    val effShould = should.distinct.filterNot(must.contains)
    val mmCount = mmFromSpec(mm, effShould.length)
    val positional = toks.filterNot(_.startsWith("-"))
      .map(t => word(if (t.startsWith("+")) t.drop(1) else t))
    Parsed(must.distinct, effShould, mustNot.distinct, mmCount, positional)
  }

  /** The FULL Solr minimum-should-match spec [U solr/core/.../util/
    * SolrPluginUtils.java#setMinShouldMatch / calculateMinShouldMatch]:
    *  - "3"     absolute count; "-2" = all but 2
    *  - "75%"   percentage, truncated toward zero (Solr rounding);
    *    "-25%"  = the percentage that may be MISSING (all but 25%)
    *  - "2<75%" conditional steps, space-separated: each `N<P` applies
    *    when the optional-clause count is GREATER than N; the step with
    *    the largest such N wins; below every N, ALL clauses required.
    * Result is clamped to [0, optCount]. */
  def mmFromSpec(mm: String, optCount: Int): Int = {
    def single(v: String): Int = {
      val t = v.trim
      val raw =
        if (t.endsWith("%")) {
          val pct = t.dropRight(1).trim.toInt
          if (pct < 0) optCount + pct * optCount / 100
          else pct * optCount / 100
        } else {
          val n = t.toInt
          if (n < 0) optCount + n else n
        }
      math.max(0, math.min(optCount, raw))
    }
    val spec = mm.trim
    if (spec.isEmpty) 0
    else if (!spec.contains("<")) single(spec)
    else {
      val steps = spec.split("\\s+").toSeq.map { c =>
        val i = c.indexOf('<')
        require(i > 0 && i < c.length - 1, s"bad mm step '$c' in '$mm'")
        (c.substring(0, i).trim.toInt, c.substring(i + 1))
      }.sortBy(_._1)
      steps.filter(_._1 < optCount).lastOption match {
        case Some((_, v)) => single(v)
        case None => optCount // at or below every threshold: all required
      }
    }
  }

  /** Execute over `fields` = (index, boost) per qf entry.
    * Output: (rank, doc_id), double-precision tie-robust ranking like
    * the other relational top-k paths. `p0` is normalized first (lists
    * deduped, should disjoint from must, mmCount clamped to
    * [0, |should|] — a deliberate divergence from Lucene, which matches
    * nothing when mm exceeds the optional-clause count; see `Parsed`).
    *
    * @param tie the dismax tiebreak [U solr DisMaxQParser `tie`]:
    *        per (doc, term) the field score is
    *        max_f(ws) + tie·(Σ_f(ws) − max_f(ws)) — 0.0 (default) is
    *        pure DisjunctionMax, 1.0 degrades to a plain sum.
    * @param bf additive boost function [U solr edismax `bf`]: a Column
    *        over the PRIMARY (first qf) field's docs table — e.g.
    *        `log(col("dl") + 1)` — added once per matching doc. Uses
    *        the same ValueSources registry as function queries.
    * @param pf phrase fields [U solr edismax `pf`]: per (index, boost),
    *        docs where `p.positional` occurs as an exact phrase gain
    *        boost · BM25-phrase-score (RelationalPath.phraseScores) —
    *        a pure BOOST: it never adds or removes hits.
    * @param pf2 bigram phrase fields [U solr edismax `pf2`]: every
    *        ADJACENT PAIR of `p.positional` is phrase-boosted the same
    *        way (Solr builds bigram shingles of the user's token
    *        order); `pf3` is the trigram analogue.
    * @param bq additive boost queries [U solr dismax/edismax `bq`]:
    *        extra term queries whose BM25 score (over the PRIMARY
    *        field, × boost) is ADDED to docs that match them — they
    *        never add or remove hits (e.g. `bq=lang:en^10` analogues).
    *        Additive combine order is pinned: s = Σts, then pf/pf2/pf3
    *        (each field in list order, grams left to right), then bq
    *        in list order, then bf. */
  def topK(fields: Seq[(IndexView, Double)], p0: Parsed, k: Int = 10,
           tie: Double = 0.0,
           bf: Option[org.apache.spark.sql.Column] = None,
           pf: Seq[(IndexView, Double)] = Nil,
           pf2: Seq[(IndexView, Double)] = Nil,
           pf3: Seq[(IndexView, Double)] = Nil,
           bq: Seq[(String, Double)] = Nil,
           bfCap: Int = BfPushdownCap): DataFrame = {
    require(fields.nonEmpty, "edismax needs at least one qf field")
    // re-establish parse()'s invariant (deduped lists, should disjoint
    // from must, mm within the optional count) on caller-BUILT Parsed
    // values too: the single-pass kernel folds termTs once per list
    // entry, so a term in both must and should would double-count there
    // while the general plan scores each distinct (term, doc) once
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
    // before pf2 before pf3) — shared by both execution plans below
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

    // ---- single-pass serving kernel ----
    // No boost function and every index warm: the whole query — per-
    // field BM25 term partials, the cross-field DisMax (tie fold),
    // must/mustNot/mm Boolean logic over any-field matches, pf/pf2/pf3
    // phrase tfs, bq additive boosts — folds per doc in ONE distributed
    // pass over the query terms' postings (a term's tf is its position
    // count). When one warm index serves every field, that pass is one
    // narrow job over its resident segments; otherwise one position
    // scan per field, tagged by field ordinal and unioned, feeds one
    // groupByKey(docId) shuffle (the fields are docId-aligned — same
    // corpus, same url order). NO docs-table joins either way — each
    // (field, doc) length norm is the norm byte its postings carry, the
    // byte the scorer tree scores from (the docs table's dlq is the
    // same SmallFloat value; CheckIndex audits the equality), and
    // doc_ids come from the first field's url cache on the driver
    // (ExtendedDismaxQParser scores the same postings cursors once per
    // segment). The general relational
    // plan below chains 4+ exchanges per field (scoredTf stats+docs
    // joins, cross-field groupBy, perDoc groupBy, phrase join) that AQE
    // stages into ~8 jobs per query. Arithmetic is the same
    // double-precision op sequence — gates ir_q30/36/39/41/46
    // hash-validate it against the SQL oracles, and EDisMaxSpec asserts
    // kernel ≡ general plan for single- and multi-field shapes. Falls
    // through to the general plan when bf is present (arbitrary
    // docs-table Column), any field is not an InvertedIndex, any index
    // has deletes, any index's dictionary exceeds the cache cap (2^20
    // terms) or the first field's docs exceed the url cache's (2^20).
    val kernelFields: Option[(Seq[(graft.index.InvertedIndex, Double)],
                              Seq[(graft.index.InvertedIndex, Double, Seq[String])])] =
      if (bf.isEmpty) {
        val qfInv = fields.collect { case (i: graft.index.InvertedIndex, b) => (i, b) }
        val gramInv = gramSeq.collect {
          case GramSpec(i: graft.index.InvertedIndex, b, g) => (i, b, g) }
        val allInv = qfInv.map(_._1) ++ gramInv.map(_._1)
        if (qfInv.length == fields.length && gramInv.length == gramSeq.length &&
            allInv.forall(i => !i.hasDeletes && i.termDfMap().isDefined) &&
            qfInv.head._1.urlMap().isDefined)
          Some((qfInv, gramInv))
        else None
      } else None
    kernelFields.foreach { case (qfInv, gramInv) =>
      return singlePassTopK(qfInv, p, k, tie, gramInv, bq)
    }

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
    // (RelationalPath.phraseFreqs: one position shuffle, every gram
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
          val rel = new RelationalPath(idx)
          val mine = gramSeq.filter(_.field == idx)
          val dfOf = fieldDfs(idx, mine.flatMap(_.gram).distinct)
          val contents = mine.map(_.gram).distinct
            .filter(_.forall(dfOf.contains)).toIndexedSeq
          if (contents.nonEmpty) {
            val ff = rel.phraseFreqs(contents)
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
              lit(new RelationalPath(idx).avgdlDouble))))
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
        fields.map { case (idx, _) => fieldDfs(idx, scoredTerms) }
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
          bfFeatures(fields.head._1, fnCol, Some(rows.map(_._1).toSeq))
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
      out = out.join(bfFeatures(fields.head._1, fnCol, None), Seq("docId"), "left")
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

  /** The single-pass kernel behind `topK` (see the eligibility comment
    * there): every scoring component folded per doc (`DocFold`) over the
    * query terms' decoded positions — per resident segment when one warm
    * index serves every qf and gram field, else in one flatMapGroups
    * over the positions unioned across the qf/phrase fields tagged by
    * field ordinal. The double-precision op sequence mirrors the general
    * plan expression for expression: per field ws = (idf_f·(tf/(tf+1.2·(0.25+0.75·
    * dlq_f/avgdl_f))))·boost_f, dlq_f decoded from the field's postings
    * norm byte; per term ts = max_f(ws) + tie·(Σ_f(ws)
    * − max_f(ws)); s = Σ ts must-then-should; then per gram in pinned
    * order s += boost·(sumIdf·(ptf/(ptf+1.2·(0.25+0.75·dlq/avgdl))))
    * with the gram field's stats; then bq in list order s +=
    * boost·(idf·tfNorm) over the primary field. */
  private def singlePassTopK(
      qf: Seq[(graft.index.InvertedIndex, Double)],
      p: Parsed, k: Int, tie: Double,
      gramsIn: Seq[(graft.index.InvertedIndex, Double, Seq[String])],
      bq: Seq[(String, Double)]): DataFrame = {
    val spark = qf.head._1.spark
    import spark.implicits._
    def empty = ResultFrames.rankedDocIds(spark, Nil)
    // distinct indexes by reference — field ordinals; qf fields first
    // so ordinal < nQf ⇔ scored field
    val idxs = scala.collection.mutable.ArrayBuffer.empty[graft.index.InvertedIndex]
    def ordOf(i: graft.index.InvertedIndex): Int = {
      val at = idxs.indexWhere(_ eq i)
      if (at >= 0) at else { idxs += i; idxs.length - 1 }
    }
    qf.foreach { case (i, _) => ordOf(i) }
    val nQf = idxs.length
    val qfOrd: Array[Int] = qf.map { case (i, _) => ordOf(i) }.toArray
    val qfBoost: Array[Double] = qf.map(_._2).toArray
    val gramSpecs: Array[(Int, Double, Array[String], Double)] =
      gramsIn.flatMap { case (i, b, g) =>
        val dfOf = i.termDfMap().get
        // a gram with a dictionary-absent term scores 0 everywhere
        // (the empty frame of the general plan) — dropped, order kept
        if (g.forall(dfOf.contains)) {
          val n = i.stats.docCount
          var sumIdf = 0.0 // phrase-order fold, like the scorer path
          g.foreach(t =>
            sumIdf += math.log(1.0 + (n - dfOf(t) + 0.5) / (dfOf(t) + 0.5)))
          Some((ordOf(i), b, g.toArray, sumIdf))
        } else None
      }.toArray
    val nIdx = idxs.length
    // per-ordinal driver stats (norms ride the postings)
    val dfs: Array[Map[String, Long]] = idxs.map(_.termDfMap().get).toArray
    val avgdl: Array[Double] =
      idxs.map(i => i.stats.sumTotalTermFreq.toDouble / i.stats.docCount).toArray
    val urls = qf.head._1.urlMap().get
    // a must term absent from EVERY qf field's dictionary is
    // unsatisfiable
    val qfOrdDistinct = qfOrd.distinct
    if (!p.must.forall(t => qfOrdDistinct.exists(f => dfs(f).contains(t))))
      return empty
    val bqList: Array[(String, Double)] =
      bq.map { case (t, b) => (graft.analysis.Analysis.lowercase(t), b) }.toArray
    val mustArr = p.must.toArray
    val shouldArr = p.should.toArray
    val mustNotArr = p.mustNot.toArray
    // per-ordinal scan terms — per-query dictionary slices only (the
    // task closure never captures the full df maps)
    val scanTerms: Array[Seq[String]] = Array.tabulate(nIdx) { f =>
      val mine = scala.collection.mutable.LinkedHashSet.empty[String]
      if (f < nQf && qfOrdDistinct.contains(f)) {
        (mustArr ++ shouldArr ++ mustNotArr).foreach(mine += _)
        if (f == qfOrd(0)) bqList.foreach(mine += _._1)
      }
      gramSpecs.foreach { case (gf, _, g, _) => if (gf == f) g.foreach(mine += _) }
      mine.toSeq.filter(dfs(f).contains)
    }
    if (scanTerms.forall(_.isEmpty)) return empty
    // idf for the SCAN terms only — never a full-dictionary map per
    // query (a 10^6-term warm field would pay O(|dict|) log() calls on
    // the hot path for a handful of needed entries)
    val idfSlice: Array[Map[String, Double]] =
      Array.tabulate(nIdx) { f =>
        val n = idxs(f).stats.docCount.toDouble
        scanTerms(f).map { t =>
          val df = dfs(f)(t)
          t -> math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        }.toMap
      }
    val fold = new DocFold(qfOrd, qfOrdDistinct, qfBoost, mustArr, shouldArr, mustNotArr,
      p.mmCount, tie, avgdl, idfSlice, gramSpecs, bqList)
    val winners: Array[(Long, Double)] = idxs.head.residentPostings match {
      // one warm index serves every field: a doc's postings all live in
      // its own segment, so each resident partition groups its segment's
      // postings by docId, folds each doc and keeps its top k — one
      // narrow job, no shuffle; the driver merges the ≤k per segment
      case Some(segs) if nIdx == 1 =>
        val terms = scanTerms(0)
        segs.run { seg =>
          val byDoc = scala.collection.mutable.HashMap.empty[Long, DocPostings]
          seg.rows(terms).foreach { r =>
            RelationalPath.postings(r).foreach { case (d, ps, norm) =>
              byDoc.getOrElseUpdate(d, new DocPostings(1)).add(0, r.term, ps, norm)
            }
          }
          topByScore(byDoc.iterator.flatMap { case (d, dp) => fold(dp).map(d -> _) }, k)
        }
      case _ =>
        idxs.toSeq.zipWithIndex.collect {
          case (i, f) if scanTerms(f).nonEmpty =>
            i.postingsOf(scanTerms(f)).flatMap(r =>
              RelationalPath.postings(r).map { case (d, ps, norm) => (f, d, r.term, ps, norm) })
        }.reduce(_ union _)
          .groupByKey(_._2)
          .flatMapGroups { (docId, it) =>
            val dp = new DocPostings(nIdx)
            it.foreach { case (f, _, t, ps, norm) => dp.add(f, t, ps, norm) }
            fold(dp).map(docId -> _).iterator
          }
          .toDF("docId", "s")
          .orderBy(desc("s"), asc("docId")).limit(k)
          .as[(Long, Double)].collect()
    }
    ResultFrames.rankedDocIds(spark, winners.sortBy { case (d, s) => (-s, d) }.take(k)
      .toSeq.map { case (d, _) => RelationalPath.docIdOfUrl(urls(d)) })
  }

  /** The k best (docId, s) hits by (s desc, docId asc), the order the
    * driver merges them in. */
  private def topByScore(hits: Iterator[(Long, Double)], k: Int): Iterator[(Long, Double)] = {
    // head = the worst hit kept
    val heap = new java.util.PriorityQueue[(Long, Double)](math.max(k, 1),
      (a: (Long, Double), b: (Long, Double)) => {
        val c = java.lang.Double.compare(a._2, b._2)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      })
    hits.foreach { h =>
      heap.add(h)
      if (heap.size > k) heap.poll()
    }
    heap.iterator.asScala
  }

  /** One doc's postings of the query terms, by field ordinal f:
    * `posOf(f)` maps each term present in the doc's field-f postings to
    * its positions, and `norm(f)` is the norm byte those postings carry
    * (set once the doc has any field-f posting, the only case a field-f
    * norm is read). */
  private final class DocPostings(nIdx: Int) {
    val posOf: Array[scala.collection.mutable.HashMap[String, Array[Int]]] =
      Array.fill(nIdx)(scala.collection.mutable.HashMap.empty)
    val norm = new Array[Byte](nIdx)
    def add(f: Int, term: String, positions: Array[Int], normByte: Byte): Unit = {
      posOf(f)(term) = positions
      norm(f) = normByte
    }
  }

  /** The per-doc fold of the single-pass kernel, shared by its resident
    * pass and its groupByKey pass so both run one double-precision op
    * sequence. None when the doc is no hit. */
  private final class DocFold(
      qfOrd: Array[Int], qfOrdDistinct: Array[Int], qfBoost: Array[Double],
      mustArr: Array[String], shouldArr: Array[String], mustNotArr: Array[String],
      mmCount: Int, tie: Double,
      avgdl: Array[Double], idfSlice: Array[Map[String, Double]],
      gramSpecs: Array[(Int, Double, Array[String], Double)],
      bqList: Array[(String, Double)]) extends Serializable {

    def apply(doc: DocPostings): Option[Double] = {
      val posOf = doc.posOf
      def presentAny(t: String): Boolean = {
        var f = 0
        var found = false
        while (!found && f < qfOrdDistinct.length) {
          found = posOf(qfOrdDistinct(f)).contains(t); f += 1
        }
        found
      }
      // Boolean gate first — no scoring work for non-hits
      var ok = true
      var i = 0
      while (ok && i < mustNotArr.length) {
        ok = !presentAny(mustNotArr(i)); i += 1
      }
      if (ok) {
        var nMust = 0
        i = 0
        while (i < mustArr.length) {
          if (presentAny(mustArr(i))) nMust += 1; i += 1
        }
        var nShould = 0
        i = 0
        while (i < shouldArr.length) {
          if (presentAny(shouldArr(i))) nShould += 1; i += 1
        }
        ok = nMust == mustArr.length &&
          (mustArr.nonEmpty || nShould >= 1) &&
          (shouldArr.isEmpty || mmCount == 0 || nShould >= mmCount)
      }
      if (!ok) return None
      // dlq = the norm byte decoded, the docs table's dlq for the doc
      def tfNormAt(f: Int, tf: Double): Double = tf / (tf + 1.2 * (0.25 + 0.75 *
        graft.util.SmallFloat.LengthTable(doc.norm(f) & 0xFF).toDouble / avgdl(f)))
      // ts = cross-field dismax of the per-field weighted partials
      def termTs(t: String): Double = {
        var mx = 0.0
        var sm = 0.0
        var any = false
        var q = 0
        while (q < qfOrd.length) {
          val f = qfOrd(q)
          val ps = posOf(f).getOrElse(t, null)
          if (ps != null) {
            val ws = (idfSlice(f)(t) * tfNormAt(f, ps.length.toDouble)) *
              qfBoost(q)
            if (!any || ws > mx) mx = ws
            sm += ws
            any = true
          }
          q += 1
        }
        if (!any) 0.0
        else if (tie == 0.0) mx
        else mx + tie * (sm - mx)
      }
      var s = 0.0
      i = 0
      while (i < mustArr.length) {
        val ts = termTs(mustArr(i)); if (ts != 0.0) s += ts; i += 1
      }
      i = 0
      while (i < shouldArr.length) {
        val ts = termTs(shouldArr(i)); if (ts != 0.0) s += ts; i += 1
      }
      // grams in pinned order — the phraseFreqs counting kernel on
      // the gram field's positions
      var g = 0
      while (g < gramSpecs.length) {
        val (gf, boost, gram, sumIdf) = gramSpecs(g)
        val pog = posOf(gf)
        var all = true
        var m = 0
        while (all && m < gram.length) {
          all = pog.contains(gram(m)); m += 1
        }
        if (all) {
          val first = pog(gram(0))
          val tailSets = new Array[java.util.HashSet[Integer]](gram.length)
          m = 1
          while (m < gram.length) {
            val ps = pog(gram(m))
            val set = new java.util.HashSet[Integer](ps.length * 2)
            ps.foreach(pp => set.add(pp))
            tailSets(m) = set
            m += 1
          }
          var ptf = 0
          var j = 0
          while (j < first.length) {
            val pp = first(j)
            var good = true
            m = 1
            while (good && m < gram.length) {
              good = tailSets(m).contains(pp + m); m += 1
            }
            if (good) ptf += 1
            j += 1
          }
          if (ptf > 0) {
            val ptfD = ptf.toDouble
            val ps2 = sumIdf * tfNormAt(gf, ptfD)
            s = s + boost * ps2
          }
        }
        g += 1
      }
      // bq in list order: primary-field BM25 of the term (no field
      // boost — the general plan's scoredTf score column)
      var b = 0
      while (b < bqList.length) {
        val (t, boost) = bqList(b)
        val f0 = qfOrd(0)
        val ps = posOf(f0).getOrElse(t, null)
        if (ps != null)
          s = s + boost * (idfSlice(f0)(t) * tfNormAt(f0, ps.length.toDouble))
        b += 1
      }
      Some(s)
    }
  }

  /** Term dfs over one field (`IndexView.termDfs`), loading an
    * InvertedIndex's driver dictionary on first use as `Searcher` does
    * (serving mode: no job after that). */
  private def fieldDfs(idx: IndexView, terms: Seq[String]): Map[String, Long] = {
    idx match {
      case inv: graft.index.InvertedIndex => inv.termDfMap()
      case _ =>
    }
    idx.termDfs(terms)
  }

  /** Hit-count cap for shipping candidate ids as a pushed isin
    * predicate into the bf feature scan; larger hit sets use the
    * distributed join instead (an isin of millions of ids would bloat
    * the plan and the broadcast). */
  val BfPushdownCap = 10000

  /** The bf feature frame: (docId, __bf) over the primary field's docs
    * table, pruned to `candidateIds` when given (the isin predicate
    * reaches the parquet scan as PushedFilters — asserted in PlanSpec). */
  def bfFeatures(primary: IndexView, fnCol: org.apache.spark.sql.Column,
                 candidateIds: Option[Seq[Long]]): DataFrame = {
    val docs = new RelationalPath(primary).docsWithId
    val pruned = candidateIds match {
      case Some(ids) => docs.filter(col("docId").isin(ids: _*))
      case None => docs
    }
    pruned.select(col("docId"), fnCol.as("__bf"))
  }
}
