package graft.index

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.model.Page
import graft.search._
import graft.util.{PFor, VarInt}

import org.apache.spark.sql.Dataset

/** Exact postings/stats assertions on a hand-checkable mini corpus
  * (FIXTURES.md §3), block/salting invariants, and the CheckIndex audit. */
class IndexSpec extends SparkSpec {

  private def mkPages(texts: Seq[String]): Dataset[Page] = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      Page(f"https://t/$i%04d", java.sql.Timestamp.valueOf("2025-10-24 00:00:00"),
        s"<p>$t</p>".getBytes, t, if (i % 2 == 0) "en" else "de")
    }.toDS()
  }

  private val miniTexts = Seq(
    "spark join",              // doc0
    "spark spark merge",       // doc1
    "the the the spark",       // doc2
    "merge sort window",       // doc3
    "join join batch batch",   // doc4
    "the quick spark join")    // doc5

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name").toString
    d
  }

  private def decodeAll(r: graft.model.PostingsRow): Seq[(Long, Int, Seq[Int])] =
    r.blocks.flatMap { b =>
      val docs = PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
      val tfs = PFor.decodeInts(b.tfs, b.count)
      val pos = VarInt.decodePositions(b.positions, tfs)
      docs.indices.map(i => (docs(i), tfs(i), pos(i).toSeq))
    }

  test("mini corpus: exact postings, df/ttf, norms") {
    val idx = IndexBuilder.build(spark, mkPages(miniTexts), tmpDir("mini"),
      IndexConfig(numPartitions = 3, partsPerSegment = 1, hotTermDf = 100))
    import idx.spark.implicits._

    val postings = idx.postings.collect()
      .groupBy(_.term).view.mapValues(_.sortBy(r => (r.segId, r.salt))
        .flatMap(decodeAll).toSeq).toMap

    // url order == insertion order here (zero-padded ids)
    assert(postings("spark") ===
      Seq((0L, 1, Seq(0)), (1L, 2, Seq(0, 1)), (2L, 1, Seq(3)), (5L, 1, Seq(2))))
    assert(postings("join") ===
      Seq((0L, 1, Seq(1)), (4L, 2, Seq(0, 1)), (5L, 1, Seq(3))))
    assert(postings("the") === Seq((2L, 3, Seq(0, 1, 2)), (5L, 1, Seq(0))))
    assert(postings("batch") === Seq((4L, 2, Seq(2, 3))))

    val stats = idx.termStats.select("term", "df", "ttf").as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(stats("spark") === ((4L, 5L)))
    assert(stats("the") === ((2L, 4L)))
    assert(stats("join") === ((3L, 4L)))
    assert(idx.stats.docCount === 6L)
    assert(idx.stats.sumTotalTermFreq === miniTexts.map(_.split(' ').length).sum)

    val norms = idx.docs.collect().map(d => d.docId -> d.dl).toMap
    assert(norms === Map(0L -> 2, 1L -> 3, 2L -> 4, 3L -> 3, 4L -> 4, 5L -> 4))

    assert(CheckIndex.audit(idx).isEmpty)
  }

  test("CheckIndex invariant 5: posting norm bytes are the docs table's norms") {
    import spark.implicits._
    val idx = IndexBuilder.build(spark, mkPages(miniTexts), tmpDir("norms"),
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    assert(CheckIndex.audit(idx).isEmpty)
    // a compacted generation keeps each survivor's norm byte; its only
    // finding is the docId space it punched holes into
    Deletes.deleteByUrl(idx, Seq("https://t/0001"))
    val compacted = Deletes.compact(idx)
    assert(CheckIndex.audit(compacted).forall(_.contains("docId space")))
    // one block's first norm byte flipped in every "spark" row
    val flipped: IndexView = new IndexView {
      def spark = idx.spark
      def stats = idx.stats
      def postings = idx.postings.map { r =>
        if (r.term != "spark") r
        else {
          val b = r.blocks.head
          val norms = b.norms.clone()
          norms(0) = (norms(0) ^ 1).toByte
          r.copy(blocks = b.copy(norms = norms) +: r.blocks.tail)
        }
      }
      def docs = idx.docs
      def termStats = idx.termStats
    }
    assert(CheckIndex.audit(flipped).exists(_.contains("norm byte differs")),
      CheckIndex.audit(flipped))
  }

  test("salted merge ≡ unsalted merge (skew corpus, every doc has hot term)") {
    val texts = (0 until 200).map(i => s"the filler$i common the")
    val unsalted = IndexBuilder.build(spark, mkPages(texts), tmpDir("unsalted"),
      IndexConfig(numPartitions = 8, partsPerSegment = 8, hotTermDf = Long.MaxValue))
    val salted = IndexBuilder.build(spark, mkPages(texts), tmpDir("salted"),
      IndexConfig(numPartitions = 8, partsPerSegment = 8, hotTermDf = 10, numSalts = 4, hotSampleRate = 1.0))

    def flat(idx: InvertedIndex, term: String) =
      idx.postings.collect().filter(_.term == term)
        .sortBy(r => (r.segId, r.salt)).flatMap(decodeAll).toSeq

    assert(flat(salted, "the") === flat(unsalted, "the"))
    assert(flat(salted, "common") === flat(unsalted, "common"))
    // hot term really was salted into multiple rows
    assert(salted.postings.collect().count(_.term == "the") > 1)
    assert(CheckIndex.audit(salted).isEmpty)

    // and queries give identical results on both layouts
    val q = Query.and("the", "common")
    val a = new Searcher(unsalted).topK(q, 10).collect().map(r => (r.getLong(1), r.getFloat(3))).toSeq
    val b = new Searcher(salted).topK(q, 10).collect().map(r => (r.getLong(1), r.getFloat(3))).toSeq
    assert(a === b)
  }

  test("multi-block postings (block size respected, block-max sane)") {
    // one term in >128 docs forces multiple blocks per row
    val texts = (0 until 300).map(i => s"common word$i")
    val idx = IndexBuilder.build(spark, mkPages(texts), tmpDir("blocks"),
      IndexConfig(numPartitions = 2, partsPerSegment = 2, blockSize = 128))
    val rows = idx.postings.collect().filter(_.term == "common")
    val blocks = rows.sortBy(r => (r.segId, r.salt)).flatMap(_.blocks)
    assert(blocks.length === 3) // 300 docs at blockSize 128 → 128+128+44
    assert(blocks.map(_.count).sum === 300)
    assert(blocks.forall(_.count <= 128))
    assert(CheckIndex.audit(idx).isEmpty)
  }

  test("SPIMI spill-at-RAM-budget ≡ unbudgeted build (byte-identical index)") {
    // a tiny budget forces a spill after nearly every doc — many runs
    // per (term, partition) — which mergeRuns must stitch back into the
    // exact same blocks as the single-run build
    val texts = (0 until 120).map(i =>
      s"the common spark w$i x${i % 7} filler${i % 3} tail")
    val ref = IndexBuilder.build(spark, mkPages(texts), tmpDir("nospill"),
      IndexConfig(numPartitions = 3, partsPerSegment = 3, blockSize = 32,
        hotTermDf = 40, numSalts = 2, hotSampleRate = 1.0))
    val spilled = IndexBuilder.build(spark, mkPages(texts), tmpDir("spill"),
      IndexConfig(numPartitions = 3, partsPerSegment = 3, blockSize = 32,
        hotTermDf = 40, numSalts = 2, hotSampleRate = 1.0,
        spimiSpillBytes = 64L)) // ≈ every couple of docs

    def dump(idx: InvertedIndex) =
      idx.postings.collect().sortBy(r => (r.segId, r.term, r.salt))
        .map(r => (r.segId, r.term, r.salt, r.df, r.ttf,
          r.blocks.map(b => (b.firstDocId, b.maxDocId, b.count, b.maxTf,
            b.minNorm, b.maxImpact,
            b.docs.toSeq, b.tfs.toSeq, b.norms.toSeq, b.positions.toSeq))))
        .toSeq
    assert(dump(spilled) === dump(ref))
    assert(CheckIndex.audit(spilled).isEmpty)
  }

  test("resume: completed stages are skipped, result identical") {
    val dir = tmpDir("resume")
    val pages = mkPages(miniTexts)
    val idx1 = IndexBuilder.build(spark, pages, dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val docsStamp = Files.getLastModifiedTime(
      Path.of(dir, "docs", "_SUCCESS")).toMillis
    val postingsBefore = idx1.postings.collect().sortBy(r => (r.segId, r.term, r.salt))

    // simulate a crash AFTER docs/postings but BEFORE commit: delete
    // manifest + lineage AND stats markers — the stats rebuild must
    // take the fallback agg (the docs stage is skipped on resume, so
    // the per-partition Σdl accumulator never fills)
    val statsBefore = idx1.stats
    Files.delete(Path.of(dir, "manifest.json"))
    Files.delete(Path.of(dir, "lineage", "_SUCCESS"))
    Files.delete(Path.of(dir, "stats", "_SUCCESS"))
    val idx2 = IndexBuilder.build(spark, pages, dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    // docs stage not rerun
    assert(Files.getLastModifiedTime(Path.of(dir, "docs", "_SUCCESS")).toMillis === docsStamp)
    assert(idx2.stats === statsBefore) // fallback agg == accumulator path
    val postingsAfter = idx2.postings.collect().sortBy(r => (r.segId, r.term, r.salt))
    assert(postingsAfter.map(_.term).toSeq === postingsBefore.map(_.term).toSeq)
    assert(postingsAfter.flatMap(decodeAll).toSeq === postingsBefore.flatMap(decodeAll).toSeq)
    assert(CheckIndex.audit(idx2).isEmpty)
  }

  test("partition-stride hot sampling ≡ exact: queries, stats, audit") {
    // rate 0.25 → every 4th input partition sampled; the hot SET may
    // legitimately differ from the exact pass (that only changes salt
    // layout), but stats, per-term postings content and ranked results
    // must be identical
    val texts = (0 until 160).map(i => s"the common spark w$i x${i % 5}")
    val exact = IndexBuilder.build(spark, mkPages(texts), tmpDir("hotexact"),
      IndexConfig(numPartitions = 8, partsPerSegment = 8,
        hotTermDf = 10, numSalts = 4, hotSampleRate = 1.0))
    val sampled = IndexBuilder.build(spark, mkPages(texts), tmpDir("hotsampled"),
      IndexConfig(numPartitions = 8, partsPerSegment = 8,
        hotTermDf = 10, numSalts = 4, hotSampleRate = 0.25))
    assert(sampled.stats === exact.stats)
    def flat(idx: InvertedIndex, term: String) =
      idx.postings.collect().filter(_.term == term)
        .sortBy(r => (r.segId, r.salt)).flatMap(decodeAll).toSeq
    Seq("the", "common", "spark").foreach(t =>
      assert(flat(sampled, t) === flat(exact, t), s"postings diverged on '$t'"))
    assert(CheckIndex.audit(sampled).isEmpty)
    val q = Query.and("the", "common")
    val a = new Searcher(exact).topK(q, 10).collect()
      .map(r => (r.getLong(1), r.getFloat(3))).toSeq
    val b = new Searcher(sampled).topK(q, 10).collect()
      .map(r => (r.getLong(1), r.getFloat(3))).toSeq
    assert(a === b)
  }

  test("index-time sort: docIds follow the sort key; early top-k == full scan") {
    // sort by DESC token count (zero-padded ascending complement)
    val idx = IndexBuilder.build(spark, mkPages(miniTexts), tmpDir("sorted"),
      IndexConfig(numPartitions = 2, partsPerSegment = 1,
        sortKeySql = Some(
          "lpad(cast(1000 - size(split(text, ' ')) as string), 4, '0')")))
    // docId 0 must be the longest doc (4 tokens: doc4 "join join batch batch")
    val byDocId = idx.docs.collect().sortBy(_.docId)
    val lens = byDocId.map(_.dl).toSeq
    assert(lens === lens.sorted.reverse, s"docs not in desc-length order: $lens")
    // early-terminated sorted read == full-scan rank-by-docId
    val early = SortedRead.earlyTopK(idx, 3).collect().toSeq
    val full = SortedRead.fullScanTopK(idx, 3).collect().toSeq
    assert(early === full)
    // the per-segment docId windows are pushed into the docs scan
    // (assert on the lazy candidate frame — the topK result itself is
    // a driver-ranked LocalRelation)
    val p = SortedRead.earlyWinnersFrame(idx, 3).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters") && p.contains("docId"), p.take(3000))
    assert(CheckIndex.audit(idx).isEmpty)
  }
}
