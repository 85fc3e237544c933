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
  * in the SAME url order, so docIds line up across them and a doc's
  * postings from every field meet under its docId (per-field analysis
  * chains, e.g. the url field's punct→space mapping filter, live in the
  * field's own build). Scoring: per (doc, term)
  * max_f(boost_f · score_f) (tie=0), summed over matching terms —
  * DisMaxQ over fields inside BooleanQuery over terms. `topK` is the one
  * execution plan, over any `IndexView`. */
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
    * One plan serves every reader (ExtendedDismaxQParser builds one
    * query and scores it over each segment's postings): every scoring
    * component — per-field BM25 term partials, the cross-field DisMax
    * (tie fold), must/mustNot/mm Boolean logic over any-field matches,
    * pf/pf2/pf3 phrase tfs, bq boosts — folds per doc (`DocFold`) in one
    * pass over the query terms' postings, read through `postingsOf` (a
    * term's tf is its position count). Each (field, doc) length norm is
    * the norm byte its postings carry, the byte the scorer tree scores
    * from; term dfs come from `IndexView.termDfs`; the ≤k winners' doc_ids
    * come from the primary field's urls (`corpusIds`). Gates
    * ir_q30/35/36/39/41/46 hash-validate the arithmetic against the SQL
    * oracles.
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
    *        boost · BM25-phrase-score (PhraseQuery idf-sum semantics) —
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
    // values too: the fold sums termTs once per list entry, so a term
    // in both must and should would double-count
    val p = {
      val must = p0.must.distinct
      val should = p0.should.distinct.filterNot(must.contains)
      Parsed(must, should, p0.mustNot.distinct,
        math.max(0, math.min(p0.mmCount, should.length)), p0.positional)
    }
    require(p.must.nonEmpty || p.should.nonEmpty, "edismax needs at least one positive term")
    val spark = fields.head._1.spark
    import spark.implicits._
    def empty = ResultFrames.rankedDocIds(spark, Nil)
    val primary = fields.head._1

    // pf/pf2/pf3 shingles of the positional order, in the PINNED
    // additive order (fields in list order, grams left→right, pf
    // before pf2 before pf3)
    val grams: Seq[(IndexView, Double, Seq[String])] =
      (if (p.positional.length >= 2) pf.map { case (i, b) => (i, b, p.positional) }
       else Nil) ++
      (if (p.positional.length >= 2)
         pf2.flatMap { case (i, b) => p.positional.sliding(2).map(g => (i, b, g)).toSeq }
       else Nil) ++
      (if (p.positional.length >= 3)
         pf3.flatMap { case (i, b) => p.positional.sliding(3).map(g => (i, b, g)).toSeq }
       else Nil)

    // distinct indexes by reference — field ordinals; qf fields first
    // so ordinal < nQf ⇔ scored field
    val idxs = scala.collection.mutable.ArrayBuffer.empty[IndexView]
    def ordOf(i: IndexView): Int = {
      val at = idxs.indexWhere(_ eq i)
      if (at >= 0) at else { idxs += i; idxs.length - 1 }
    }
    val qfOrd: Array[Int] = fields.map { case (i, _) => ordOf(i) }.toArray
    val nQf = idxs.length
    val qfOrdDistinct = qfOrd.distinct
    val qfBoost: Array[Double] = fields.map(_._2).toArray
    val gramOrds: Seq[(Int, Double, Seq[String])] = grams.map { case (i, b, g) => (ordOf(i), b, g) }
    val nIdx = idxs.length
    val bqList: Array[(String, Double)] =
      bq.map { case (t, b) => (Analysis.lowercase(t), b) }.toArray
    val mustArr = p.must.toArray
    val shouldArr = p.should.toArray
    val mustNotArr = p.mustNot.toArray
    // the terms ordinal f reads: the query terms on a qf field, bq terms
    // on the primary one, the terms of `gs`'s grams on their field
    def termsOf(f: Int, gs: Seq[(Int, Seq[String])]): Seq[String] = {
      val mine = scala.collection.mutable.LinkedHashSet.empty[String]
      if (f < nQf) {
        (mustArr ++ shouldArr ++ mustNotArr).foreach(mine += _)
        if (f == qfOrd(0)) bqList.foreach(mine += _._1)
      }
      gs.foreach { case (gf, g) => if (gf == f) g.foreach(mine += _) }
      mine.toSeq
    }
    // per-ordinal dfs of the query's terms only — per-query dictionary
    // slices, so the task closure never captures a full dictionary
    val dfs: Array[Map[String, Long]] = Array.tabulate(nIdx)(f =>
      fieldDfs(idxs(f), termsOf(f, gramOrds.map { case (gf, _, g) => (gf, g) })))
    // a must term absent from EVERY qf field's dictionary is
    // unsatisfiable
    if (!mustArr.forall(t => qfOrdDistinct.exists(f => dfs(f).contains(t))))
      return empty
    val gramSpecs: Array[(Int, Double, Array[String], Double)] =
      gramOrds.flatMap { case (f, b, g) =>
        val dfOf = dfs(f)
        // a gram with a dictionary-absent term scores 0 everywhere —
        // dropped, order kept
        if (g.forall(dfOf.contains)) {
          val n = idxs(f).stats.docCount
          var sumIdf = 0.0 // phrase-order fold, like the scorer path
          g.foreach(t =>
            sumIdf += math.log(1.0 + (n - dfOf(t) + 0.5) / (dfOf(t) + 0.5)))
          Some((f, b, g.toArray, sumIdf))
        } else None
      }.toArray
    val scanTerms: Array[Seq[String]] = Array.tabulate(nIdx)(f =>
      termsOf(f, gramSpecs.map { case (gf, _, g, _) => (gf, g.toSeq) }).filter(dfs(f).contains))
    if (scanTerms.forall(_.isEmpty)) return empty
    val avgdl: Array[Double] =
      idxs.map(i => i.stats.sumTotalTermFreq.toDouble / i.stats.docCount).toArray
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
    def topOf(hits: DataFrame): Array[(Long, Double)] =
      hits.orderBy(desc("s"), asc("docId")).limit(k).select("docId", "s")
        .as[(Long, Double)].collect().sortBy { case (d, s) => (-s, d) }

    // bf (edismax bf is additive; `boost` would multiply) over the
    // primary field's docs row, LEFT-joined + coalesce(0): bf can never
    // add or remove hits, and a null-valued function (e.g. log(0))
    // contributes 0 instead of nulling the whole score — Solr bf
    // semantics. The regime needs |hits|, but probing it with a
    // blocking collect would run the hit pipeline twice; instead it is
    // UPPER-BOUNDED from term dfs alone (no job once the dictionary is
    // on the driver): every hit matches all must terms in some field /
    // at least one should term, so |hits| ≤ min over must of Σ_fields
    // df, else Σ over should of Σ_fields df.
    def withBf(hits: DataFrame, fn: org.apache.spark.sql.Column): Array[(Long, Double)] = {
      def sumDf(t: String): Long = qfOrd.map(f => dfs(f).getOrElse(t, 0L)).sum
      val hitBound: Long =
        if (mustArr.nonEmpty) mustArr.map(sumDf).min else shouldArr.map(sumDf).sum
      if (hitBound <= bfCap) {
        // the hit set is provably ≤ the cap: collect it (one job), fetch
        // the bf features with the candidate ids PUSHED into the feature
        // scan (row-group pruning — asserted in PlanSpec) and rank on
        // the driver with the comparator the distributed tail uses
        val rows = hits.select("docId", "s").as[(Long, Double)].collect()
        if (rows.isEmpty) return rows
        val bfMap: Map[Long, Double] =
          bfFeatures(primary, fn, Some(rows.map(_._1).toSeq))
            .select(col("docId").cast("long"), col("__bf").cast("double"))
            .collect()
            .map(r => r.getLong(0) -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
        rows.map { case (d, s) => (d, s + bfMap.getOrElse(d, 0.0)) }
          .sortBy { case (d, s) => (-s, d) }.take(k)
      } else
        // above the cap the distributed left join is the plan
        topOf(hits.join(bfFeatures(primary, fn, None), Seq("docId"), "left")
          .withColumn("s", col("s") + coalesce(col("__bf"), lit(0.0))))
    }

    // The pass. The resident pass needs one warm index serving every
    // field (a doc's postings all live in its own segment, so each
    // resident partition folds its own docs and keeps its top k: one
    // narrow job, no shuffle); it reads no tombstones and no docs, so it
    // also needs no bf and no pending deletes. Every other query runs
    // the groupByKey pass: one position scan per field, tagged by
    // ordinal and unioned, grouped by docId (the fields are
    // docId-aligned — same corpus, same url order).
    val resident = idxs.head match {
      case inv: graft.index.InvertedIndex if nIdx == 1 && bf.isEmpty && !inv.hasDeletes =>
        inv.resident
      case _ => None
    }
    val winners: Array[(Long, Double)] = resident match {
      case Some(segs) =>
        val terms = scanTerms(0)
        segs.run { seg =>
          val byDoc = scala.collection.mutable.HashMap.empty[Long, DocPostings]
          seg.postings.rows(terms).foreach { r =>
            RelationalPath.postings(r).foreach { case (d, ps, norm) =>
              byDoc.getOrElseUpdate(d, new DocPostings(1)).add(0, r.term, ps, norm)
            }
          }
          topByScore(byDoc.iterator.flatMap { case (d, dp) => fold(dp).map(d -> _) }, k)
        }.sortBy { case (d, s) => (-s, d) }.take(k)
      case None =>
        val folded = idxs.toSeq.zipWithIndex.collect {
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
        // a doc tombstoned in any qf field's index is no hit: a delete
        // removes the whole doc
        val hits = idxs.take(nQf).foldLeft(folded)((h, i) =>
          h.join(i.tombstones.toDF("docId"), Seq("docId"), "left_anti"))
        bf match {
          case None => topOf(hits)
          case Some(fn) => withBf(hits, fn)
        }
    }

    ResultFrames.rankedDocIds(spark, corpusIds(primary, winners.toSeq.map(_._1)))
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

  /** The per-doc fold of `topK`, shared by its resident pass and its
    * groupByKey pass so both run one double-precision op sequence: per
    * field ws = (idf_f·(tf/(tf+1.2·(0.25+0.75·dlq_f/avgdl_f))))·boost_f,
    * dlq_f decoded from the field's postings norm byte; per term
    * ts = max_f(ws) + tie·(Σ_f(ws) − max_f(ws)); s = Σ ts must-then-
    * should; then per gram in pinned order s += boost·(sumIdf·(ptf/(ptf+
    * 1.2·(0.25+0.75·dlq/avgdl)))) with the gram field's stats; then bq in
    * list order s += boost·(idf·tfNorm) over the primary field. None
    * when the doc is no hit. */
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
      // grams in pinned order: each gram's phrase tf counted on the
      // gram field's positions
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
      // boost)
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
  private[search] def fieldDfs(idx: IndexView, terms: Seq[String]): Map[String, Long] = {
    idx match {
      case inv: graft.index.InvertedIndex => inv.termDfMap()
      case _ =>
    }
    idx.termDfs(terms)
  }

  /** The corpus doc_ids of the primary field's `docIds`, in order, from
    * their urls: through the url cache, loaded on first use as the other
    * serving paths do, or — with no cache (a plain IndexView, or an
    * index past the cache's doc cap) — one lookup of just these rows in
    * the docs table, its docId predicate pushed into the scan. */
  private def corpusIds(primary: IndexView, docIds: Seq[Long]): Seq[Long] = {
    if (docIds.isEmpty) return Nil
    val cached = primary match {
      case inv: graft.index.InvertedIndex => inv.urlMap()
      case _ => None
    }
    val urlOf: Long => String = cached.getOrElse {
      val spark = primary.spark
      import spark.implicits._
      primary.docs.filter(col("docId").isin(docIds: _*)).select("docId", "url")
        .as[(Long, String)].collect().toMap
    }
    docIds.map(d => RelationalPath.docIdOfUrl(urlOf(d)))
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
