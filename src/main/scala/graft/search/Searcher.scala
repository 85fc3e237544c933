package graft.search

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.index.{ResidentSegments, Segment, SegmentBits, SegmentDocs}
import graft.model.{Block, PostingsRow}

/** Per-query immutable context shipped to executors in the task closure
  * (a few terms' stats — it rides the task binary): collection stats
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
  * SURVEY.md §3.B): query terms + stats shipped with the tasks, per-segment scorer
  * (leapfrog / WAND with block-max skipping) emitting at most k
  * candidates per segment, then a global TakeOrdered merge — the
  * IndexSearcher → TopScoreDocCollector → TopDocs.merge chain collapsed
  * into one Spark plan [U …/search/TopScoreDocCollector.java,
  * TopDocs#merge, WANDScorer.java]. Per-segment top-k ⊇ global top-k
  * members because scores depend only on the shipped global stats.
  * Attribute filters are per-segment bitsets (`SegmentBits`, the
  * per-segment DocSets of the reference's filter cache): a warm reader
  * evaluates them on each resident segment's doc columns, a cold one
  * builds them from the docs rows cogrouped with the postings. */
final class Searcher(idx: graft.index.IndexView) extends Serializable {
  private val session = idx.spark
  import session.implicits._

  private def context(q: Query): ScoringContext = {
    val terms = Query.collectTerms(q)
    // serving mode: load the driver dictionary on first use, so every
    // later lookup runs no job
    idx match {
      case inv: graft.index.InvertedIndex if terms.nonEmpty => inv.termDfMap()
      case _ =>
    }
    ScoringContext(idx.stats, idx.termDfs(terms))
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
    rankedResult(hits(q, k)
      .sortBy { case (d, s) => (-s, d) }
      .take(k))

  /** Deep paging: top-k strictly AFTER a (score, docId) cursor —
    * `IndexSearcher#searchAfter` [U …/search/PagingTopScoreDocCollector]:
    * the cursor predicate is applied at heap-insert time inside every
    * segment, so page-n docs can never be crowded out by page-(n-1)
    * docs. */
  def topKAfter(q: Query, k: Int, afterScore: Float, afterDoc: Long): DataFrame =
    rankedResult(hits(q, k, Some((afterScore, afterDoc)))
      .sortBy { case (d, s) => (-s, d) }
      .take(k))

  /** Two-pass reranking [U solr/core/.../search/ReRankQParserPlugin.java]:
    * retrieve the top `reRankDocs` by `base`, rescore those docs with
    * `rerankQ`, combine additively (ReRank semantics: newScore =
    * baseScore + weight · rerankScore for docs matching the rerank
    * query), return top-k by (score desc, docId asc). The rerank pass
    * evaluates only candidate docs' postings rows. */
  def rerank(base: Query, rerankQ: Query, reRankDocs: Int,
             weight: Float, k: Int): DataFrame = {
    val topN = hits(base, reRankDocs)
      .sortBy { case (d, s) => (-s, d) }
      .take(reRankDocs)
    if (topN.isEmpty) return rankedResult(Array.empty)
    val ids: Seq[Long] = topN.map(_._1).sorted.toSeq
    // candidate restriction ships INSIDE the query (DocIdSetQ filter
    // clause), so the rerank pass leapfrogs over ≤ reRankDocs docs
    // executor-side — never an exhaustive evaluation + collect
    val rescores: Map[Long, Float] =
      hits(BoolQ(must = Seq(rerankQ), filter = Seq(DocIdSetQ(ids))), -1).toMap
    val combined = topN
      .map { case (d, s) => (d, s + weight * rescores.getOrElse(d, 0f)) }
      .sortBy { case (d, s) => (-s, d) }
      .take(k)
    rankedResult(combined)
  }

  private def rankedResult(merged: Array[(Long, Float)]): DataFrame = {
    val warmUrls = idx match {
      case inv: graft.index.InvertedIndex => inv.urlMapIfLoaded
      case _ => None
    }
    // warm serving mode: stored fields for the ≤k winners come from the
    // driver-side url cache — the whole GET_FIELDS phase costs zero jobs
    if (merged.isEmpty || warmUrls.isDefined) {
      val urls = warmUrls.getOrElse(Map.empty[Long, String])
      return ResultFrames.of(session, ResultFrames.RankedHits, merged.toSeq.zipWithIndex
        .map { case ((d, s), i) => Row(i + 1, d, urls.getOrElse(d, ""), s) })
    }
    val ids = merged.map(_._1)
    // ranks assigned on the DRIVER over the already-merged ≤k hits (the
    // TopDocs.merge output) — no Window operator anywhere in the plan,
    // so no single-partition exchange even for the rank column
    val hitsDf = ResultFrames.of(session, ResultFrames.RankedScores, merged.toSeq.zipWithIndex
      .map { case ((d, s), i) => Row(i + 1, d, s) })
    idx.docs.filter(col("docId").isin(ids: _*)).select("docId", "url")
      .join(broadcast(hitsDf), "docId")
      .select(col("rank"), col("docId"), col("url"), col("score"))
      .orderBy("rank")
  }

  /** All scored hits of `q`, unranked (k caps per-segment emission when
    * > 0; pass k <= 0 for exhaustive evaluation). Multi-term queries
    * are expanded against the term dictionary first (Query#rewrite). A
    * warm query runs its resident job (`ResidentSegments.run`) here and
    * wraps the collected hits; any other returns its lazy plan. */
  def scoredHits(q0: Query, k: Int,
                 after: Option[(Float, Long)] = None): Dataset[(Long, Float)] =
    evaluate(q0, k, after).fold(session.emptyDataset[(Long, Float)])(_.fold(
      { case (segs, score) => session.createDataset(segs.run(score).toSeq) },
      identity))

  /** `scoredHits`, collected to the driver: a warm query runs its bare
    * resident job (`ResidentSegments.run`), with no Dataset wrapped
    * around it. */
  private def hits(q0: Query, k: Int,
                   after: Option[(Float, Long)] = None): Array[(Long, Float)] =
    evaluate(q0, k, after).fold(Array.empty[(Long, Float)])(_.fold(
      { case (segs, score) => segs.run(score) }, _.collect()))

  /** The plan of `scoredHits` — None when nothing can match — chosen from
    * ONE read of the reader's delete state (a delete landing mid-call
    * cannot split the query over two states):
    *  - warm reader, no deletes, every attribute predicate bound on the
    *    resident doc columns (`RelationalPath.residentPred`): the resident
    *    segments and the per-segment scorer, run as one narrow pass —
    *    each segment looks up the query terms, evaluates the predicates
    *    on its own doc columns into its bits, and scores itself, no
    *    shuffle. The query, its ScoringContext and the bound predicates
    *    ride the task closure;
    *  - otherwise the postings rows of the query terms (`postingsOf`)
    *    are grouped by segment, cogrouped with the docs rows when
    *    attribute bits, match-all or deletes need them: pending deletes,
    *    or a predicate over a column the resident docs lack. */
  private[search] def evaluate(q0: Query, k: Int, after: Option[(Float, Long)])
      : Option[Either[(ResidentSegments, Segment => Iterator[(Long, Float)]),
          Dataset[(Long, Float)]]] = {
    val hasDeletes = idx.hasDeletes
    val qRewritten = Rewriter.rewrite(q0, new IndexTermDict(idx))
    // attribute predicates become per-segment bitsets, indexed by PredQ
    val preds = Query.attrPreds(qRewritten)
    val q = Query.indexPreds(qRewritten, preds)
    val ctx = context(q)
    val terms = Query.collectTerms(q)
    val needsDocs = Query.needsDocs(q)
    if (terms.isEmpty && !needsDocs) return None
    val kk = k
    val aft = after
    val resident = idx match {
      case inv: graft.index.InvertedIndex if !hasDeletes =>
        inv.resident.map(segs => (segs, preds.map(RelationalPath.residentPred(session, _))))
      case _ => None
    }
    resident match {
      case Some((segs, bound)) if bound.forall(_.isDefined) =>
        return Some(Left((segs, ResidentScore(q, ctx, bound.flatten, k, after))))
      case _ =>
    }
    val rows = idx.postingsOf(terms)
    if (!needsDocs && !hasDeletes) {
      return Some(Right(rows.groupByKey(_.segId).flatMapGroups { (_, ps) =>
        SegmentScorer.score(q, ctx, ps, None, kk, aft)
      }))
    }
    // deletes are subtracted INSIDE the per-segment scorer (a deleted
    // doc must not occupy a top-k slot), via the docs cogroup path;
    // predicates see the resident columns (`doc_id` too)
    val docs = idx.docs.withColumn("doc_id", SegmentDocs.DocNumColumn)
    // null attribute values must read as non-matching, not poison the
    // boolean array encoder on rows that travel for other reasons
    val predCols = preds.map(p => coalesce(RelationalPath.attrPredColumn(docs.schema, p), lit(false)))
    val withDel =
      if (hasDeletes)
        docs.join(idx.tombstones.toDF("docId").withColumn("del", lit(true)),
          Seq("docId"), "left")
          .withColumn("del", coalesce(col("del"), lit(false)))
      else docs.withColumn("del", lit(false))
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
      if (Query.containsMatchAll(q)) matchAllCutoff.getOrElse(lit(true))
      else (predCols :+ col("del")).reduce(_ || _)
    val docsLite = withDel
      .filter(needed)
      .select(col("segId"), col("docId"),
        (if (predCols.isEmpty) array().cast("array<boolean>")
         else array(predCols: _*)).as("preds"),
        col("del"))
      .as[(Int, Long, Seq[Boolean], Boolean)]
    Some(Right(rows.groupByKey(_.segId)
      .cogroup(docsLite.groupByKey(_._1)) { (_, ps, ds) =>
        SegmentScorer.score(q, ctx, ps, Some(SegmentBits.of(ds)), kk, aft)
      }))
  }
}

/** A warm query's per-segment function, all its resident job's closure
  * carries: the segment evaluates the bound attribute predicates `preds`
  * on its doc columns into its bits when the query reads docs, then
  * scores its postings. */
private[search] final case class ResidentScore(q: Query, ctx: ScoringContext, preds: Seq[Expression],
                                               k: Int, after: Option[(Float, Long)])
    extends (Segment => Iterator[(Long, Float)]) {
  def apply(seg: Segment): Iterator[(Long, Float)] =
    SegmentScorer.score(q, ctx, seg.postings.rows(Query.collectTerms(q)),
      if (Query.needsDocs(q)) Some(seg.docs.bits(preds)) else None, k, after)
}

/** Executor-side per-segment evaluation. */
object SegmentScorer {

  /** Score one segment's postings for `q`; emits at most k hits
    * (k <= 0 → all hits). `bits`, the segment's doc sets, present only
    * for attribute filters / match-all / deletes. Query term clauses
    * absent from this segment compile to EmptyScorer and Boolean
    * semantics decide — a query with an attr-only required part plus
    * optional/negated term clauses still matches (Lucene BooleanQuery
    * semantics). */
  def score(q: Query, ctx: ScoringContext,
            postings: Iterator[PostingsRow],
            bits: Option[SegmentBits],
            k: Int,
            after: Option[(Float, Long)] = None): Iterator[(Long, Float)] = {
    // term → salt-ordered concatenated blocks
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[PostingsRow]]
    postings.foreach { r =>
      byTerm.getOrElseUpdate(r.term, mutable.ArrayBuffer.empty) += r
    }
    if (byTerm.isEmpty && bits.isEmpty) return Iterator.empty
    val termBlocks: Map[String, IndexedSeq[Block]] = byTerm.iterator.map {
      case (t, rows) => t -> rows.sortBy(_.salt).flatMap(_.blocks).toIndexedSeq
    }.toMap

    val scorer0 = compile(q, ctx, termBlocks, bits)
    // live-docs filter: required-but-not-scoring exclusion of tombstones
    // [U …/search/ReqExclScorer + the .liv bitset]
    val deleted = bits.flatMap(b => b.deleted.map(new BitsetScorer(_, b.base)))
    val scorer = deleted match {
      case Some(del) =>
        new BoolScorer(IndexedSeq(scorer0), IndexedSeq.empty, IndexedSeq.empty,
          IndexedSeq(del), 0)
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
          math.max(mm, 1), k, predAccept(filt, bits, accept))
      // filtered single-term query keeps block-max skipping: pure-filter
      // clauses (the segment's predicate bits) become an O(1) accept over
      // the term iterator instead of demoting the whole query to the
      // exhaustive BoolScorer
      // [U …/search/IndexOrDocValuesQuery.java — filters execute as
      // verification-only predicates over the lead iterator]. Skipping
      // stays exact: accept only withholds heap insertions, so the
      // threshold is always a realized top-k score of accepted docs and
      // any skipped block could not have beaten it.
      case BoolQ(Seq(TermQ(t)), Nil, Nil, filt, mm)
        if k > 0 && deleted.isEmpty && mm <= 0 && filt.nonEmpty &&
          filt.forall(_.isInstanceOf[PredQ]) =>
        blockMaxTopK(termScorer(t, ctx, termBlocks), k,
          predAccept(filt, bits, accept))
      case TermQ(_) if k > 0 && deleted.isEmpty =>
        blockMaxTopK(scorer.asInstanceOf[TermScorer], k, accept)
      case _ => exhaustive(scorer, k, accept)
    }
  }

  /** Compose `accept` with pure-filter bitmap membership tests. A PredQ
    * beyond the segment's predicate bits matches nothing (the segment
    * delivered no docs rows for it), mirroring compile's EmptyScorer. */
  private def predAccept(filt: Seq[Query], segBits: Option[SegmentBits],
                         accept: (Long, Float) => Boolean): (Long, Float) => Boolean =
    if (filt.isEmpty) accept
    else {
      val tests: Array[Long => Boolean] = filt.map {
        case PredQ(i) if segBits.exists(i < _.preds.length) =>
          val SegmentBits(base, preds, _, _) = segBits.get
          val bits = preds(i)
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
              bits: Option[SegmentBits]): DocScorer = q match {
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
      bits.filter(i < _.preds.length).map(b => new BitsetScorer(b.preds(i), b.base))
        .getOrElse(new EmptyScorer)
    case MatchAllQ =>
      bits.map(b => new ConstScorer(new BitsetScorer(b.all, b.base), 1f))
        .getOrElse(new EmptyScorer)
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
      new BoostScorer(compile(inner, ctx, blocks, bits), b)
    case ConstScoreQ(inner, s) =>
      new ConstScorer(compile(inner, ctx, blocks, bits), s)
    case DisMaxQ(qs, t) =>
      new DisMaxScorer(qs.map(compile(_, ctx, blocks, bits)).toIndexedSeq, t)
    case _: PrefixQ | _: WildcardQ | _: FuzzyQ | _: TermRangeQ =>
      sys.error(s"multi-term query must be rewritten before compile: $q")
    case BoolQ(must, should, mustNot, filt, mm) =>
      new BoolScorer(
        must.map(compile(_, ctx, blocks, bits)).toIndexedSeq,
        filt.map(compile(_, ctx, blocks, bits)).toIndexedSeq,
        should.map(compile(_, ctx, blocks, bits)).toIndexedSeq,
        mustNot.map(compile(_, ctx, blocks, bits)).toIndexedSeq,
        mm)
  }

  /** Single-term top-k with block-max skipping: once the heap is full,
    * whole blocks whose bound can't beat the threshold are never decoded
    * [U …/search/ImpactsDISI.java]. */
  private def blockMaxTopK(ts: TermScorer, k: Int,
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
