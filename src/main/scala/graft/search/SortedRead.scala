package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.InvertedIndex

/** Early-terminating top-k over an index-time-sorted index — the
  * TopFieldCollector early-termination path the reference takes when
  * the query sort is a prefix of the index sort
  * [U lucene/core/.../search/TopFieldCollector.java,
  * index/IndexSorter.java]: because docs were written in sort-key order
  * (IndexConfig.sortKeySql), the first k live docIds per segment ARE
  * that segment's sorted top-k, so the scan reads k docs per segment
  * instead of the corpus.
  *
  * A warm reader without pending deletes reads the first k docs of each
  * resident segment (`SegmentDocs`) in one narrow job, with no Dataset,
  * for both reads here. Otherwise, the early read's per-segment docId
  * windows compile to an OR of range predicates PUSHED into the docs
  * parquet scan (row-group min/max on the docId-sorted files prunes
  * everything else), and the survivors (≤ segments·(k+tombstones) rows)
  * feed the bounded TakeOrderedAndProject; ranks stamp on the driver. */
object SortedRead {

  /** Top-k docs in index-sort order: (rank, doc_id). */
  def earlyTopK(idx: InvertedIndex, k: Int): DataFrame = {
    val rel = new RelationalPath(idx)
    rel.residentConstTopK(None, k).getOrElse(
      // gaps inside a segment (post-compaction) make "first k ids" ≠
      // "ids in [min, min+k)" — metadata can't bound the kth live id,
      // so fall back to the exact full scan
      if (!idx.segmentsDense) rel.matchAllTopK(k)
      else rel.constRankByDocId(earlyWinnersFrame(idx, k), k))
  }

  /** The LAZY pruned candidate frame earlyTopK bounds and collects —
    * exposed so tests can assert the pushed docId-window predicates
    * (the collected result is a LocalRelation). */
  def earlyWinnersFrame(idx: InvertedIndex, k: Int): DataFrame = {
    val rel = new RelationalPath(idx)
    // deleted docs inside a window would push the kth live doc past it;
    // widening by the pending tombstone rows (footer counts: no job)
    // keeps this exact
    val slack = graft.index.Deletes.pendingRows(idx)
    val pred = idx.segments.map { s =>
      col("docId").between(s.minDocId,
        math.min(s.maxDocId, s.minDocId + k - 1 + slack))
    }.reduce(_ || _)
    rel.docsWithId.filter(pred).select(col("docId"), col("doc_id"))
  }

  /** Full-scan equivalent (for tests/bench comparison): rank every live
    * doc by docId — same result, corpus-sized scan on a cold reader. */
  def fullScanTopK(idx: InvertedIndex, k: Int): DataFrame =
    new RelationalPath(idx).matchAllTopK(k)
}
