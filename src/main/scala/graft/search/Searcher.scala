package graft.search

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.index.IndexView
import graft.model.{Block, DocRow, PostingsRow}

/** Per-query immutable context broadcast to executors: collection stats
  * + per-term global df/ttf (the `CollectionStatistics`/`TermStatistics`
  * inputs of the reference's Weight tree
  * [U lucene/core/.../search/IndexSearcher.java#createWeight]). */
final case class ScoringContext(stats: Bm25Stats,
                                termDf: Map[String, Long]) extends Serializable {
  @transient lazy val cache: Array[Float] = BM25.buildCache(stats.avgdl)
  def weightOf(term: String): Float =
    termDf.get(term).filter(_ > 0)
      .map(df => BM25.idf(stats.docCount, df)).getOrElse(0f)
}

/** Distributed top-k BM25 search over the segment tables (read path,
  * SURVEY.md §3.B): broadcast query terms + stats, per-segment scorer
  * (leapfrog / WAND with block-max skipping) emitting at most k
  * candidates per segment, then a global TakeOrdered merge — the
  * IndexSearcher → TopScoreDocCollector → TopDocs.merge chain collapsed
  * into one Spark plan [U …/search/TopScoreDocCollector.java,
  * TopDocs#merge, WANDScorer.java]. Per-segment top-k ⊇ global top-k
  * members because scores depend only on broadcast global stats. */
final class Searcher(idx: graft.index.IndexView) extends Serializable {
  private val session = idx.spark
  import session.implicits._

  private def context(q: Query): ScoringContext = {
    val terms = Query.collectTerms(q)
    val dfMap: Map[String, Long] =
      if (terms.isEmpty) Map.empty
      else idx match {
        // warm serving mode: dictionary cached on the driver — no job
        case inv: graft.index.InvertedIndex if inv.termDfMap().isDefined =>
          val m = inv.termDfMap().get
          terms.flatMap(t => m.get(t).map(t -> _)).toMap
        case _ =>
          idx.termStats.filter(col("term").isin(terms: _*))
            .select("term", "df").as[(String, Long)].collect().toMap
      }
    ScoringContext(idx.stats, dfMap)
  }

  /** Top-k hits as (rank, docId, url, score), rank-identical to the
    * reference's TopScoreDocCollector ordering (score desc, docId asc).
    *
    * Two-phase, like the reference's distributed search
    * [U solr/core/.../handler/component/QueryComponent PURPOSE_GET_TOP_IDS
    * → mergeIds → PURPOSE_GET_FIELDS]: per-segment top-k (≤ k rows per
    * segment) is collected and merged ON THE DRIVER with the same
    * comparator (TopDocs.merge), then stored fields for just the k
    * winners are fetched with a docId-pushdown scan + broadcast join —
    * no Spark-side global sort, no full docs-table scan. */
  def topK(q: Query, k: Int): DataFrame =
    rankedResult(scoredHits(q, k).collect()
      .sortBy { case (d, s) => (-s, d) }
      .take(k))

  /** Deep paging: top-k strictly AFTER a (score, docId) cursor —
    * `IndexSearcher#searchAfter` [U …/search/PagingTopScoreDocCollector]:
    * the cursor predicate is applied at heap-insert time inside every
    * segment, so page-n docs can never be crowded out by page-(n-1)
    * docs. */
  def topKAfter(q: Query, k: Int, afterScore: Float, afterDoc: Long): DataFrame = {
    val merged: Array[(Long, Float)] =
      scoredHits(q, k, Some((afterScore, afterDoc))).collect()
        .sortBy { case (d, s) => (-s, d) }
        .take(k)
    rankedResult(merged)
  }

  /** Two-pass reranking [U solr/core/.../search/ReRankQParserPlugin.java]:
    * retrieve the top `reRankDocs` by `base`, rescore those docs with
    * `rerankQ`, combine additively (ReRank semantics: newScore =
    * baseScore + weight · rerankScore for docs matching the rerank
    * query), return top-k by (score desc, docId asc). The rerank pass
    * evaluates only candidate docs' postings rows. */
  def rerank(base: Query, rerankQ: Query, reRankDocs: Int,
             weight: Float, k: Int): DataFrame = {
    val topN = scoredHits(base, reRankDocs).collect()
      .sortBy { case (d, s) => (-s, d) }
      .take(reRankDocs)
    if (topN.isEmpty) return rankedResult(Array.empty)
    val ids: Seq[Long] = topN.map(_._1).sorted.toSeq
    // candidate restriction ships INSIDE the broadcast query (DocIdSetQ
    // filter clause), so the rerank pass leapfrogs over ≤ reRankDocs
    // docs executor-side — never an exhaustive evaluation + collect
    val rescores: Map[Long, Float] =
      scoredHits(BoolQ(must = Seq(rerankQ), filter = Seq(DocIdSetQ(ids))), -1)
        .collect().toMap
    val combined = topN
      .map { case (d, s) => (d, s + weight * rescores.getOrElse(d, 0f)) }
      .sortBy { case (d, s) => (-s, d) }
      .take(k)
    rankedResult(combined)
  }

  private def rankedResult(merged: Array[(Long, Float)]): DataFrame = {
    if (merged.isEmpty) {
      return idx.spark.emptyDataset[(Int, Long, String, Float)]
        .toDF("rank", "docId", "url", "score")
    }
    // warm serving mode: stored fields for the ≤k winners come from the
    // driver-side url cache — the whole GET_FIELDS phase costs zero jobs
    idx match {
      case inv: graft.index.InvertedIndex if inv.urlMapIfLoaded.isDefined =>
        val urls = inv.urlMapIfLoaded.get
        return merged.toSeq.zipWithIndex
          .map { case ((d, s), i) => (i + 1, d, urls.getOrElse(d, ""), s) }
          .toDF("rank", "docId", "url", "score")
      case _ => ()
    }
    val ids = merged.map(_._1)
    // ranks assigned on the DRIVER over the already-merged ≤k hits (the
    // TopDocs.merge output) — no Window operator anywhere in the plan,
    // so no single-partition exchange even for the rank column
    val hitsDf = merged.toSeq.zipWithIndex
      .map { case ((d, s), i) => (i + 1, d, s) }
      .toDF("rank", "docId", "score")
    idx.docs.filter(col("docId").isin(ids: _*)).select("docId", "url")
      .join(broadcast(hitsDf), "docId")
      .select(col("rank"), col("docId"), col("url"), col("score"))
      .orderBy("rank")
  }

  /** Attribute predicate → boolean docs Column (the docvalues-filter
    * analogue; shared with the relational executor). */
  private def predColumn(p: Query): org.apache.spark.sql.Column =
    RelationalPath.attrPredColumn(idx.docs.schema, p)

  /** All scored hits of `q`, unranked (k caps per-segment emission when
    * > 0; pass k <= 0 for exhaustive evaluation). Multi-term queries
    * are expanded against the term dictionary first (Query#rewrite).
    *
    * Plan shapes, chosen from ONE read of the reader's delete state (a
    * delete landing mid-call cannot split the query over two states):
    *  - warm reader, no deletes, no per-query docs rows needed: one
    *    narrow pass over the resident segments — each partition looks up
    *    the query terms and scores its segment, no shuffle;
    *  - otherwise the postings rows of the query terms (`postingsOf`)
    *    are grouped by segment, cogrouped with the docs rows when
    *    attribute bits, match-all or deletes need them. */
  def scoredHits(q0: Query, k: Int,
                 after: Option[(Float, Long)] = None): Dataset[(Long, Float)] = {
    val hasDeletes = idx.hasDeletes
    val qRewritten = Rewriter.rewrite(q0, new IndexTermDict(idx))
    // attribute predicates become indexed bitset lookups: evaluated ONCE
    // in the docs scan (pushdown-friendly), shipped as booleans
    val preds = Query.attrPreds(qRewritten)
    val q = Query.indexPreds(qRewritten, preds)
    val ctx = context(q)
    val bcCtx = idx.spark.sparkContext.broadcast(ctx)
    val bcQ = idx.spark.sparkContext.broadcast(q)
    val terms = Query.collectTerms(q)
    val hasMatchAll = Query.containsMatchAll(q)
    if (terms.isEmpty && !Query.needsDocs(q)) return idx.spark.emptyDataset[(Long, Float)]
    val kk = k
    val aft = after
    // warm-serving filter cache (Solr filterCache): every attribute
    // predicate's docId bitmap is computed once and broadcast — the
    // per-query docs scan + cogroup disappears entirely for cached
    // filters (match-all and deletes still need live docs rows)
    val cachedPredBits: Option[IndexedSeq[java.util.BitSet]] = idx match {
      case inv: graft.index.InvertedIndex
          // termAnchored: every candidate doc must have postings rows
          // for the query terms in its own segment, or the per-segment
          // scoring would drop whole segments (an attr-anchored query
          // like `+lang:en -spark` — terms only under MUST_NOT — must
          // keep the docs cogroup path)
          if Query.termAnchored(q) && preds.nonEmpty && !hasMatchAll &&
            !hasDeletes && inv.filterCacheEnabled =>
        Some(preds.map { p =>
          inv.filterCache(p.toString) {
            FilterBits.build(idx.docs.filter(coalesce(predColumn(p), lit(false)))
              .select("docId"))._1
          }
        }.toIndexedSeq)
      case _ => None
    }
    val docsFree = cachedPredBits.isDefined || (!Query.needsDocs(q) && !hasDeletes)
    val resident = idx match {
      case inv: graft.index.InvertedIndex => inv.residentPostings
      case _ => None
    }
    val bcBits = cachedPredBits.map(idx.spark.sparkContext.broadcast(_))
    if (docsFree && resident.isDefined) {
      return idx.spark.createDataset(resident.get.mapPartitions(_.flatMap { seg =>
        SegmentScorer.score(bcQ.value, bcCtx.value, seg.rows(terms), None, kk, aft,
          bcBits.fold(IndexedSeq.empty[java.util.BitSet])(_.value))
      }))
    }
    val rows = idx.postingsOf(terms)
    if (docsFree) {
      return rows.groupByKey(_.segId).flatMapGroups { (_, ps) =>
        SegmentScorer.score(bcQ.value, bcCtx.value, ps, None, kk, aft,
          bcBits.fold(IndexedSeq.empty[java.util.BitSet])(_.value))
      }
    }
    // deletes are subtracted INSIDE the per-segment scorer (a deleted
    // doc must not occupy a top-k slot), via the docs cogroup path
    // null attribute values must read as non-matching, not poison the
    // boolean array encoder on rows that travel for other reasons
    val predCols = preds.map(p => coalesce(predColumn(p), lit(false)))
    val withDel =
      if (hasDeletes)
        idx.docs.join(idx.tombstones.toDF("docId").withColumn("del", lit(true)),
          Seq("docId"), "left")
          .withColumn("del", coalesce(col("del"), lit(false)))
      else idx.docs.withColumn("del", lit(false))
    // pre-filter: only rows that can influence scoring travel to the
    // cogroup — any referenced predicate true, or tombstoned (full
    // rows only for MatchAll, which needs every doc in general; a
    // PURE constant-score match-all with k > 0 additionally cuts to
    // the first k docIds per segment — rank is docId order, so the
    // per-segment top-k is exactly the segment's lowest k live ids)
    val matchAllCutoff: Option[org.apache.spark.sql.Column] = q match {
      // `after.isEmpty`: a searchAfter cursor needs docIds PAST the
      // first k per segment — the dense-prefix cutoff would hide the
      // very rows page 2 must return
      case MatchAllQ | ConstScoreQ(MatchAllQ, _)
          if kk > 0 && !hasDeletes && after.isEmpty =>
        idx match {
          case inv: graft.index.InvertedIndex if inv.segmentsDense =>
            Some(inv.segments.map(s => col("docId").between(s.minDocId,
              math.min(s.maxDocId, s.minDocId + kk - 1))).reduce(_ || _))
          case _ => None
        }
      case _ => None
    }
    val needed =
      if (hasMatchAll) matchAllCutoff.getOrElse(lit(true))
      else (predCols :+ col("del")).reduce(_ || _)
    val docsLite = withDel
      .filter(needed)
      .select(col("segId"), col("docId"),
        (if (predCols.isEmpty) array().cast("array<boolean>")
         else array(predCols: _*)).as("preds"),
        col("del"))
      .as[(Int, Long, Seq[Boolean], Boolean)]
    rows.groupByKey(_.segId)
      .cogroup(docsLite.groupByKey(_._1)) { (_, ps, ds) =>
        SegmentScorer.score(bcQ.value, bcCtx.value, ps, Some(ds), kk, aft)
      }
  }
}

/** Distributed bitmap construction for the warm-serving filter cache
  * [U solr/core/.../search/SolrIndexSearcher.java getDocSet — Solr
  * builds per-segment DocSets executor-side and the searcher holds the
  * merged set]: the matching docIds are compacted into ONE bitmap blob
  * PER PARTITION on the executors (java.util.BitSet bytes — 1 bit per
  * doc in the partition's id span), and only those O(partitions) blobs
  * travel to the driver, which ORs them into the global bitmap. The
  * driver transfer is ≈ bitmapBytes (docCount/8 worst case — the size
  * of the artifact being built), never O(matchingRows) row objects: a
  * dense filter like `lang:en` over 10^9 docs ships ~125 MB of bitmap
  * instead of ~10^9 collected rows. */
object FilterBits {
  /** Returns (bitmap, blobCount). blobCount ≤ the frame's partition
    * count — asserted in SearcherSpec as the bounded-collect contract. */
  private[graft] def build(matching: DataFrame): (java.util.BitSet, Int) = {
    val spark = matching.sparkSession
    import spark.implicits._
    val blobs: Array[(Long, Array[Byte])] = matching
      .select(col("docId").cast("long"))
      .as[Long]
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val ids = it.toArray
          var min = Long.MaxValue
          ids.foreach(d => if (d < min) min = d)
          val b = new java.util.BitSet()
          ids.foreach(d => b.set((d - min).toInt))
          Iterator.single((min, b.toByteArray))
        }
      }.collect()
    val bits = new java.util.BitSet()
    blobs.foreach { case (min, arr) =>
      val b = java.util.BitSet.valueOf(arr)
      var i = b.nextSetBit(0)
      while (i >= 0) { bits.set((min + i).toInt); i = b.nextSetBit(i + 1) }
    }
    (bits, blobs.length)
  }
}

/** Executor-side per-segment evaluation. */
object SegmentScorer {

  /** Score one segment's postings for `q`; emits at most k hits
    * (k <= 0 → all hits). `docsIt` present only for attribute filters /
    * match-all / deletes (pre-filtered on the driver side to the rows
    * that can influence scoring). Query term clauses absent from this
    * segment compile to EmptyScorer and Boolean semantics decide — a
    * query with an attr-only required part plus optional/negated term
    * clauses still matches (Lucene BooleanQuery semantics). */
  def score(q: Query, ctx: ScoringContext,
            postings: Iterator[PostingsRow],
            docsIt: Option[Iterator[(Int, Long, Seq[Boolean], Boolean)]],
            k: Int,
            after: Option[(Float, Long)] = None,
            globalPredBits: IndexedSeq[java.util.BitSet] = IndexedSeq.empty)
      : Iterator[(Long, Float)] = {
    // term → salt-ordered concatenated blocks
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[PostingsRow]]
    postings.foreach { r =>
      byTerm.getOrElseUpdate(r.term, mutable.ArrayBuffer.empty) += r
    }
    if (byTerm.isEmpty && docsIt.isEmpty) return Iterator.empty
    val termBlocks: Map[String, IndexedSeq[Block]] = byTerm.iterator.map {
      case (t, rows) => t -> rows.sortBy(_.salt).flatMap(_.blocks).toIndexedSeq
    }.toMap

    // per-predicate bitsets + all-docs bitset + deleted bitset — 1 bit
    // per segment doc, shared base docId
    var deleted: Option[(java.util.BitSet, Long)] = None
    // filter-cache mode: predicate bitmaps arrive pre-built (global
    // docId base 0) instead of from per-query docs rows
    var predBits: IndexedSeq[(java.util.BitSet, Long)] =
      globalPredBits.map(b => (b, 0L))
    var allBits: Option[(java.util.BitSet, Long)] = None
    docsIt.foreach { it =>
      val rows = it.toArray
      if (rows.nonEmpty) {
        val minDoc = rows.iterator.map(_._2).min
        val np = rows(0)._3.length
        val pb = Array.fill(np)(new java.util.BitSet())
        val all = new java.util.BitSet()
        val delBits = new java.util.BitSet()
        var anyDel = false
        rows.foreach { case (_, docId, ps, del) =>
          val off = (docId - minDoc).toInt
          all.set(off)
          var i = 0
          while (i < np) { if (ps(i)) pb(i).set(off); i += 1 }
          if (del) { delBits.set(off); anyDel = true }
        }
        if (anyDel) deleted = Some((delBits, minDoc))
        predBits = pb.map(b => (b, minDoc)).toIndexedSeq
        allBits = Some((all, minDoc))
      }
    }

    val scorer0 = compile(q, ctx, termBlocks, predBits, allBits)
    // live-docs filter: required-but-not-scoring exclusion of tombstones
    // [U …/search/ReqExclScorer + the .liv bitset]
    val scorer = deleted match {
      case Some((bits, minDoc)) =>
        new BoolScorer(IndexedSeq(scorer0), IndexedSeq.empty, IndexedSeq.empty,
          IndexedSeq(new BitsetScorer(bits, minDoc)), 0)
      case None => scorer0
    }

    // searchAfter cursor: only (s, d) strictly after the cursor qualify
    val accept: (Long, Float) => Boolean = after match {
      case None => (_, _) => true
      case Some((as, ad)) => (d, s) => s < as || (s == as && d > ad)
    }

    q match {
      case BoolQ(must, should, Nil, filt, mm)
        if must.isEmpty && should.nonEmpty && k > 0 && deleted.isEmpty &&
          should.forall(_.isInstanceOf[TermQ]) &&
          // filters demote to an O(1) bitmap accept only when mm ≥ 1:
          // at mm = 0 a filter-only match (zero SHOULD hits, score 0)
          // is legal and WAND's ≥1-should invariant would drop it
          (filt.isEmpty || (mm >= 1 && filt.forall(_.isInstanceOf[PredQ]))) =>
        wandTopK(should.map(s => termScorer(s.asInstanceOf[TermQ].term, ctx, termBlocks)).toIndexedSeq,
          math.max(mm, 1), k, predAccept(filt, predBits, accept))
      // filtered single-term query keeps block-max skipping: pure-filter
      // clauses (pre-built bitmaps — the warm filter cache or the docs
      // cogroup) become an O(1) accept over the term iterator instead of
      // demoting the whole query to the exhaustive BoolScorer
      // [U …/search/IndexOrDocValuesQuery.java — filters execute as
      // verification-only predicates over the lead iterator]. Skipping
      // stays exact: accept only withholds heap insertions, so the
      // threshold is always a realized top-k score of accepted docs and
      // any skipped block could not have beaten it.
      case BoolQ(Seq(TermQ(t)), Nil, Nil, filt, mm)
        if k > 0 && deleted.isEmpty && mm <= 0 && filt.nonEmpty &&
          filt.forall(_.isInstanceOf[PredQ]) =>
        termTopK(termScorer(t, ctx, termBlocks), k,
          predAccept(filt, predBits, accept))
      case TermQ(_) if k > 0 && deleted.isEmpty =>
        termTopK(scorer.asInstanceOf[TermScorer], k, accept)
      case _ => exhaustive(scorer, k, accept)
    }
  }

  /** Compose `accept` with pure-filter bitmap membership tests. A PredQ
    * beyond `predBits` matches nothing (the segment delivered no docs
    * rows for it), mirroring compile's EmptyScorer. */
  private def predAccept(filt: Seq[Query],
                         predBits: IndexedSeq[(java.util.BitSet, Long)],
                         accept: (Long, Float) => Boolean): (Long, Float) => Boolean =
    if (filt.isEmpty) accept
    else {
      val tests: Array[Long => Boolean] = filt.map {
        case PredQ(i) if i < predBits.length =>
          val (bits, base) = predBits(i)
          (d: Long) => {
            val off = d - base
            off >= 0 && off < Int.MaxValue && bits.get(off.toInt)
          }
        case _ => (_: Long) => false
      }.toArray
      (d: Long, s: Float) => accept(d, s) && tests.forall(_(d))
    }

  private def termScorer(t: String, ctx: ScoringContext,
                         blocks: Map[String, IndexedSeq[Block]]): TermScorer =
    new TermScorer(blocks.getOrElse(t, IndexedSeq.empty), ctx.weightOf(t), ctx.cache)

  def compile(q: Query, ctx: ScoringContext,
              blocks: Map[String, IndexedSeq[Block]],
              predBits: IndexedSeq[(java.util.BitSet, Long)],
              allBits: Option[(java.util.BitSet, Long)]): DocScorer = q match {
    case TermQ(t) => termScorer(t, ctx, blocks)
    case PhraseQ(ts, slop) =>
      // weight = Σ constituent idfs, float-accumulated in phrase order
      var w = 0f
      ts.foreach(t => w += ctx.weightOf(t))
      if (ts.exists(t => !blocks.contains(t))) new EmptyScorer
      else new PhraseScorer(ts.map(t => termScorer(t, ctx, blocks)).toIndexedSeq, w, ctx.cache, slop)
    case SpanNearQ(ts, slop, inOrder) =>
      var w = 0f
      ts.foreach(t => w += ctx.weightOf(t))
      if (ts.exists(t => !blocks.contains(t))) new EmptyScorer
      else new SpanNearScorer(ts.map(t => termScorer(t, ctx, blocks)).toIndexedSeq,
        w, ctx.cache, slop, inOrder)
    case PredQ(i) =>
      if (i < predBits.length) {
        val (bits, minDoc) = predBits(i)
        new BitsetScorer(bits, minDoc)
      } else new EmptyScorer
    case MatchAllQ =>
      allBits match {
        case Some((bits, minDoc)) =>
          new ConstScorer(new BitsetScorer(bits, minDoc), 1f)
        case None => new EmptyScorer
      }
    case MatchNoneQ => new EmptyScorer
    case DocIdSetQ(ids) => new IdSetScorer(ids.toArray)
    case AttrQ(name, _) =>
      sys.error(s"attribute predicate not indexed before compile: $name")
    case AttrRangeQ(name, _, _, _, _) =>
      sys.error(s"attribute predicate not indexed before compile: $name")
    case GeoFiltQ(latSql, _, _, _, _) =>
      sys.error(s"geo predicate not indexed before compile: $latSql")
    case TermSetQ(ts, s) =>
      new ConstScorer(new BoolScorer(IndexedSeq.empty, IndexedSeq.empty,
        ts.map(t => termScorer(t, ctx, blocks)).toIndexedSeq,
        IndexedSeq.empty, 1), s)
    case BoostQ(inner, b) =>
      new BoostScorer(compile(inner, ctx, blocks, predBits, allBits), b)
    case ConstScoreQ(inner, s) =>
      new ConstScorer(compile(inner, ctx, blocks, predBits, allBits), s)
    case DisMaxQ(qs, t) =>
      new DisMaxScorer(qs.map(compile(_, ctx, blocks, predBits, allBits)).toIndexedSeq, t)
    case _: PrefixQ | _: WildcardQ | _: FuzzyQ | _: TermRangeQ =>
      sys.error(s"multi-term query must be rewritten before compile: $q")
    case BoolQ(must, should, mustNot, filt, mm) =>
      new BoolScorer(
        must.map(compile(_, ctx, blocks, predBits, allBits)).toIndexedSeq,
        filt.map(compile(_, ctx, blocks, predBits, allBits)).toIndexedSeq,
        should.map(compile(_, ctx, blocks, predBits, allBits)).toIndexedSeq,
        mustNot.map(compile(_, ctx, blocks, predBits, allBits)).toIndexedSeq,
        mm)
  }

  /** Single-term top-k with block-max skipping: once the heap is full,
    * whole blocks whose bound can't beat the threshold are never decoded
    * [U …/search/ImpactsDISI.java]. */
  private def termTopK(ts: TermScorer, k: Int,
                       accept: (Long, Float) => Boolean): Iterator[(Long, Float)] = {
    val heap = new TopKHeap(k)
    var d = ts.nextDoc()
    while (d != Scorers.DONE) {
      val s = ts.score()
      if (accept(d, s)) heap.insert(d, s)
      d = if (heap.isFull) ts.nextCompetitive(heap.threshold) else ts.nextDoc()
    }
    heap.results().iterator
  }

  /** WAND over term disjunctions [U …/search/WANDScorer.java; Broder et
    * al. CIKM'03]: sort by current doc, pick the pivot where cumulative
    * score bounds first exceed the heap threshold, fully evaluate only
    * pivot-aligned docs. Upper bounds go through the same float kernel
    * as real scores, so pruning is exact. */
  private def wandTopK(scorers0: IndexedSeq[TermScorer], mm: Int, k: Int,
                       accept: (Long, Float) => Boolean = (_, _) => true): Iterator[(Long, Float)] = {
    val heap = new TopKHeap(k)
    val scorers = scorers0.filter(_.cost > 0).toArray
    if (scorers.length < mm || scorers.isEmpty) return Iterator.empty
    scorers.foreach(_.nextDoc())
    val byDoc = scorers.clone()
    val byDocCmp = new java.util.Comparator[TermScorer] {
      def compare(a: TermScorer, b: TermScorer): Int =
        java.lang.Long.compare(a.doc, b.doc)
    }

    while (true) {
      java.util.Arrays.sort(byDoc, byDocCmp)
      // tie-safe threshold: a candidate tying the threshold can still
      // win on docId, so pivot on bound >= threshold
      val theta = heap.threshold
      var acc = 0f
      var pivot = -1
      var i = 0
      while (pivot < 0 && i < byDoc.length) {
        acc += byDoc(i).maxScore
        if (acc >= theta && byDoc(i).doc != Scorers.DONE) pivot = i
        i += 1
      }
      if (pivot < 0) return heap.results().iterator
      val pivotDoc = byDoc(pivot).doc
      if (pivotDoc == Scorers.DONE) return heap.results().iterator
      if (byDoc(0).doc == pivotDoc) {
        // all scorers up to pivot sit on pivotDoc (or can be advanced)
        var matches = 0
        var j = 0
        while (j < scorers.length) {
          val s = scorers(j)
          if (s.doc < pivotDoc && s.doc != Scorers.DONE) s.advance(pivotDoc)
          if (s.doc == pivotDoc) matches += 1
          j += 1
        }
        if (matches >= mm) {
          // sum in ORIGINAL clause order for float determinism
          var sc = 0f
          var c = 0
          while (c < scorers.length) {
            if (scorers(c).doc == pivotDoc) sc += scorers(c).score()
            c += 1
          }
          if (accept(pivotDoc, sc)) heap.insert(pivotDoc, sc)
        }
        var j2 = 0
        while (j2 < scorers.length) {
          if (scorers(j2).doc == pivotDoc) scorers(j2).nextDoc()
          j2 += 1
        }
      } else {
        // advance the earliest scorer(s) up to the pivot doc
        var j = 0
        while (j < byDoc.length && byDoc(j).doc < pivotDoc) {
          byDoc(j).advance(pivotDoc)
          j += 1
        }
      }
    }
    heap.results().iterator // unreachable; loop exits via returns
  }

  private def exhaustive(s: DocScorer, k: Int,
                         accept: (Long, Float) => Boolean = (_, _) => true): Iterator[(Long, Float)] = {
    if (k > 0) {
      val heap = new TopKHeap(k)
      var d = s.nextDoc()
      while (d != Scorers.DONE) {
        val sc = s.score()
        if (accept(d, sc)) heap.insert(d, sc)
        d = s.nextDoc()
      }
      heap.results().iterator
    } else {
      val out = mutable.ArrayBuffer.empty[(Long, Float)]
      var d = s.nextDoc()
      while (d != Scorers.DONE) {
        out += ((d, s.score()))
        d = s.nextDoc()
      }
      out.iterator
    }
  }
}
