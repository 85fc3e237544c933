package graft.index

import org.apache.spark.sql.functions._

import graft.util.{PFor, SmallFloat, VarInt}

/** Structural index audit — the analogue of the reference's CheckIndex
  * [U lucene/core/src/java/org/apache/lucene/index/CheckIndex.java]:
  * every invariant that must hold for a committed index. Returns a list
  * of violations (empty = healthy). Runs as Spark jobs — scales with
  * the index. */
object CheckIndex {

  def audit(idx: IndexView): Seq[String] = {
    val spark = idx.spark
    import spark.implicits._
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]

    // 1. per-term df/ttf in termStats == sums over postings rows
    val fromPostings = idx.postings.toDF()
      .groupBy("term")
      .agg(sum("df").as("pdf"), sum("ttf").as("pttf"))
    val joined = fromPostings.join(idx.termStats, "term")
      .filter(col("pdf") =!= col("df") || col("pttf") =!= col("ttf"))
    val badStats = joined.count()
    if (badStats > 0) problems += s"$badStats terms with df/ttf mismatch between postings and termStats"

    // 2. collection stats: docCount == docs rows; sumTTF == sum(dl)
    val (nDocs, sumDl) = idx.docs.agg(count(lit(1)), sum("dl").cast("long"))
      .as[(Long, Long)].head()
    if (nDocs != idx.stats.docCount)
      problems += s"manifest docCount ${idx.stats.docCount} != docs rows $nDocs"
    if (sumDl != idx.stats.sumTotalTermFreq)
      problems += s"manifest sumTTF ${idx.stats.sumTotalTermFreq} != sum(dl) $sumDl"

    // 3. block invariants: docIds strictly ascending within and across
    //    blocks of a row; maxDocId/maxTf/minNorm consistent with content;
    //    positions decode to tf entries each
    val badBlocks = idx.postings.flatMap { r =>
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      var prev = -1L
      r.blocks.foreach { b =>
        val docs = PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
        val tfs = PFor.decodeInts(b.tfs, b.count)
        if (docs.head != b.firstDocId) errs += s"${r.term}: firstDocId mismatch"
        if (docs.last != b.maxDocId) errs += s"${r.term}: maxDocId mismatch"
        if (tfs.max != b.maxTf) errs += s"${r.term}: maxTf mismatch"
        if (b.norms.map(_ & 0xFF).min != (b.minNorm & 0xFF)) errs += s"${r.term}: minNorm mismatch"
        docs.foreach { d =>
          if (d <= prev) errs += s"${r.term}: docIds not strictly ascending at $d"
          prev = d
        }
        val pos = VarInt.decodePositions(b.positions, tfs)
        pos.zip(tfs).foreach { case (ps, tf) =>
          if (ps.length != tf) errs += s"${r.term}: positions length != tf"
          if (ps.nonEmpty && ps.zip(ps.tail).exists { case (a, c) => c <= a })
            errs += s"${r.term}: positions not ascending"
        }
      }
      errs.iterator
    }.take(20)
    problems ++= badBlocks

    // 4. docId space: dense 0..N-1 (min 0, max N-1, distinct == N)
    val (minD, maxD, distinctD) = idx.docs
      .agg(min("docId"), max("docId"), countDistinct("docId"))
      .as[(Long, Long, Long)].head()
    if (minD != 0 || maxD != nDocs - 1 || distinctD != nDocs)
      problems += s"docId space not dense: min=$minD max=$maxD distinct=$distinctD n=$nDocs"

    // 5. norms: every posting's norm byte is its doc's docs-table norm,
    //    and dlq is that byte decoded — the scorer tree and the edismax
    //    kernel read norms from the postings, the relational plans the
    //    docs table's dlq
    val badNorms = idx.postings.flatMap { r =>
      r.blocks.iterator.flatMap { b =>
        val docs = PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
        docs.indices.iterator.map(i => (docs(i), b.norms(i)))
      }
    }.toDF("docId", "pnorm")
      .join(idx.docs.select("docId", "norm"), Seq("docId"), "left")
      .filter(col("norm").isNull || col("pnorm") =!= col("norm"))
      .count()
    if (badNorms > 0)
      problems += s"$badNorms postings whose norm byte differs from their doc's docs-table norm"
    val badDlq = idx.docs.filter(d => d.dlq != SmallFloat.byte4ToInt(d.norm)).count()
    if (badDlq > 0) problems += s"$badDlq docs whose dlq is not their norm byte decoded"

    problems.toSeq
  }
}
