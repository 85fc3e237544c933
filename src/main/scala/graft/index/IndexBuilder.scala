package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analysis
import graft.model._
import graft.search.{BM25, Bm25Stats}
import graft.util.{PFor, SmallFloat, VarInt, ByteBuilder}

/** Index build configuration.
  *
  * @param partsPerSegment input partitions grouped into one segment
  *        (segment = contiguous docId range holding ALL its terms — the
  *        Lucene segment model, which is what lets a query be answered
  *        per-partition without a cross-term shuffle).
  * @param hotTermDf estimated document frequency above which a term's
  *        merge is salted into `numSalts` docId-contiguous slices (skew
  *        split, SURVEY.md §4.4). At web scale ~1e7; tests use low
  *        values to exercise the path.
  * @param hotSampleRate fraction of docs sampled (deterministically, by
  *        url hash) to ESTIMATE per-term df for hot-term detection — at
  *        10^12 docs an exact pre-pass would cost a full extra
  *        tokenization+shuffle; a sample finds every truly hot term
  *        with near-certainty, and correctness is invariant to the salt
  *        decision (property-tested: salted ≡ unsalted). 1.0 = exact.
  */
final case class IndexConfig(
    stopWords: Seq[String] = Nil,
    maxTokenLength: Int = 255,
    numPartitions: Int = 32,
    partsPerSegment: Int = 4,
    blockSize: Int = 128,
    hotTermDf: Long = 10000000L,
    numSalts: Int = 4,
    hotSampleRate: Double = 0.05,
    docIdBase: Long = 0L,
    segIdBase: Int = 0,
    stem: Boolean = false,
    synonyms: Map[String, String] = Map.empty,
    /** Index-time sort (the IndexSorter / `IndexWriterConfig.setIndexSort`
      * analogue [U lucene/core/.../index/IndexSorter.java]): a SQL
      * expression over the page columns whose STRING order defines the
      * docId order (ties broken by url). None = url order (default).
      * Sorting segments by a static score enables early-terminating
      * sorted reads (SortedRead.earlyTopK) — the reference's other big
      * latency lever for sort-field queries. */
    sortKeySql: Option[String] = None,
    /** SPIMI RAM budget per task: when the in-memory byte-pool exceeds
      * this, the partial inverted map is flushed as sorted runs and
      * cleared (the DWPT flush-at-RAM-budget analogue
      * [U lucene/core/.../index/DocumentsWriterFlushControl.java]) —
      * an oversized/skewed partition degrades to more runs instead of
      * OOMing; spills are doc-aligned so runs stay docId-disjoint. */
    spimiSpillBytes: Long = 256L << 20,
    /** Arrival-order docIds — the reference's ACTUAL default: Lucene's
      * IndexWriter assigns docIds in ingestion order per segment
      * [U lucene/core/.../index/DocumentsWriterPerThread.java]; a
      * url-sorted docId space is the opt-in index-time sort
      * (setIndexSort), which costs indexing throughput there too. With
      * `inputOrdered=true` the build takes docIds from the input scan's
      * own partition order, so the corpus-wide text shuffle (the one
      * full-width exchange of the sorted build) DISAPPEARS: the docs
      * stage is a narrow map over the source scan. Segment docId ranges,
      * salting, lineage, stats, resume and all query paths are
      * unchanged; what is lost is url-ordered docIds (SortedRead early
      * termination needs a sorted build). docIds stay deterministic
      * across cluster sizes because split planning is pinned
      * (`spark.sql.files.minPartitionNum=1` ⇒ split size =
      * maxPartitionBytes regardless of core count) and each task
      * fail-fast-asserts its row count against the counts pre-pass. */
    inputOrdered: Boolean = false,
    /** Arrival-order scan split size (spark.sql.files.maxPartitionBytes
      * while the counts+docs jobs run). docId layout follows the split
      * plan, so this is part of the index CONFIG, not a tuning knob the
      * cluster may drift: pinned here (with openCost 1 MiB and
      * minPartitionNum 1) the plan is a pure function of the input
      * files. 8 MiB of compressed parquet ≈ 30-40 MiB of text — small
      * enough for several waves of tasks per executor (wave balance is
      * what the docs/SPIMI stages live on), large enough that per-task
      * SPIMI maps amortize. Effective granularity is still bounded
      * below by the input's parquet ROW-GROUP size: splits inside one
      * row group read nothing. */
    inputSplitBytes: Long = 8L << 20)

/** Batch inverted-index build (SURVEY.md §3.A):
  *
  *   pages → range-partition by url (raw text — the shuffle never
  *   carries token arrays) → deterministic docIds → docs/norms table
  *   (allocation-free token counting) → hot-term estimate from a
  *   deterministic sample → one fused tokenize→SPIMI→salted-sort-merge
  *   job → 128-entry delta-varint blocks with block-max metadata →
  *   parquet segments → exact per-term stats from merged row metadata →
  *   lineage → atomic manifest commit.
  *
  * Replaces the reference's IndexWriter pipeline
  * [U lucene/core/.../index/IndexWriter.java, DocumentsWriterPerThread,
  * SegmentMerger]; each stage is idempotent and marked complete by its
  * parquet _SUCCESS, the driver writes `manifest.json` last (the
  * `segments_N` commit-point analogue
  * [U lucene/core/.../index/SegmentInfos.java]); a rerun skips finished
  * stages (resume per BASELINE.json north_rule).
  */
object IndexBuilder {

  def build(spark: SparkSession, pages: Dataset[Page], dir: String,
            cfg: IndexConfig = IndexConfig()): InvertedIndex = {
    if (Files.exists(Paths.get(dir, "manifest.json")))
      return InvertedIndex.open(spark, dir)
    import spark.implicits._

    Files.createDirectories(Paths.get(dir))
    val tBuild = System.nanoTime()
    val stageSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // ---- shuffle raw docs into url-range partitions --------------------
    // Tokenization happens AFTER this exchange, so analysis parallelism
    // equals numPartitions regardless of input file layout, and the
    // shuffle payload is the raw text (smaller than token arrays).
    //
    // Range bounds are computed ONCE on the driver from a seeded,
    // COLUMN-PRUNED url sample (O(parts·128) driver state), then applied
    // as an explicit bucket column routed with the hash-preimage trick —
    // unlike `repartitionByRange`, whose RangePartitioner re-executes
    // the entire (all-columns) corpus scan as its sampling pass, this
    // reads the corpus exactly once and the bounds are deterministic
    // across retries (fixed seed over a stored table).
    // docId order = sortKey order; default sortKey is the url itself
    // (an index-time sort key prepends a static-score string, url as
    // tie-break, so the whole docId machinery follows the sort)
    require(!cfg.inputOrdered || cfg.sortKeySql.isEmpty,
      "inputOrdered is the arrival-order build (the Lucene IndexWriter " +
        "default); an index-time sort needs the sorted build")
    val sortKey: org.apache.spark.sql.Column = cfg.sortKeySql
      .map(s => concat(expr(s), lit("|"), col("url")))
      .getOrElse(col("url"))
    // pin the scan's split planning so the partition layout (and with it
    // every docId) is a pure function of the input files and this config
    // — identical at every cluster size. Unpinned, bytesPerCore =
    // totalBytes/defaultParallelism makes the split plan (hence docIds)
    // a function of the core count.
    val splitConfKeys = Seq(
      "spark.sql.files.minPartitionNum" -> "1",
      "spark.sql.files.maxPartitionBytes" -> cfg.inputSplitBytes.toString,
      "spark.sql.files.openCostInBytes" -> (1L << 20).toString)
    val splitConfPrev: Seq[(String, Option[String])] =
      if (cfg.inputOrdered) splitConfKeys.map { case (k, v) =>
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, v)
        k -> prev
      } else Nil
    // idempotent (re-setting the same prev values is a no-op), so the
    // early restore after the postings stage and the finally below can
    // both run; the finally guarantees a FAILED build (split-drift /
    // hot-sample replan require()s included) never leaks pinned split
    // planning into the shared session
    def restoreSplitConf(): Unit = splitConfPrev.foreach { case (k, prev) =>
      prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    try {

    if (cfg.inputOrdered) {
      // arrival-order docIds are deterministic only when the row order
      // within each scan partition is itself deterministic — true for a
      // stored-table scan plus narrow deterministic Project/Filter, NOT
      // for anything downstream of a shuffle (shuffle-read order varies
      // run to run while per-partition COUNTS still match, so the
      // split-drift assert would pass silently on scrambled docIds)
      import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LeafNode, Project => LProject}
      val nodeOk = pages.queryExecution.optimizedPlan.collect {
        case p: LProject => p.projectList.forall(_.deterministic)
        case f: LFilter  => f.condition.deterministic
        case _: LeafNode => true
        case _           => false
      }
      require(nodeOk.forall(identity),
        "inputOrdered requires a stored-table input (file scan plus " +
          "narrow deterministic Project/Filter only): a derived/shuffled " +
          "Dataset has non-deterministic in-partition row order, which " +
          "would scramble arrival-order docIds across rebuilds. Use the " +
          "sorted build, or materialize the input to a table first. Plan:\n" +
          pages.queryExecution.optimizedPlan.treeString)
    }

    val (parted, counts): (Dataset[(String, String, String, java.sql.Timestamp)], Array[Long]) =
      if (cfg.inputOrdered) {
        // ---- arrival-order build: NO full-width shuffle ----------------
        // docId = inputOffsets(scanPid) + rowIndexInPartition. The docs
        // stage is a narrow map over the source scan; the counts pre-pass
        // is an empty-projection scan (row-group metadata iteration, no
        // column decode). Segment = partsPerSegment consecutive scan
        // partitions, exactly as the sorted build groups sort partitions.
        val base = pages.select(col("url"), col("lang"), col("text"), col("warc_ts"))
          .as[(String, String, String, java.sql.Timestamp)]
        val tCounts = System.nanoTime()
        val cArr: Array[Long] = {
          val rows = pages.select(lit(1).as("one"))
            .mapPartitions { it =>
              var n = 0L
              while (it.hasNext) { it.next(); n += 1 }
              Iterator.single((TaskContext.getPartitionId(), n))
            }(org.apache.spark.sql.Encoders.product[(Int, Long)])
            .collect()
          if (rows.isEmpty) Array.empty[Long]
          else {
            val arr = new Array[Long](rows.iterator.map(_._1).max + 1)
            rows.foreach { case (p, n) => arr(p) = n }
            arr
          }
        }
        stageSec += "counts" -> (System.nanoTime() - tCounts) / 1e9
        if (sys.env.contains("GRAFT_PROFILE"))
          println(f"[build] counts (empty-projection scan, ${cArr.length} input parts) ${(System.nanoTime() - tCounts) / 1e9}%.2f s")
        (base, cArr)
      } else {
        // ---- sorted build (index-time sort; default key = url) ---------
        val tBounds = System.nanoTime()
        val bounds = keyRangeBounds(spark, pages, sortKey, cfg.numPartitions)
        stageSec += "bounds" -> (System.nanoTime() - tBounds) / 1e9
        if (sys.env.contains("GRAFT_PROFILE"))
          println(f"[build] bounds (sampled key scan) ${(System.nanoTime() - tBounds) / 1e9}%.2f s")
        val bcBounds = spark.sparkContext.broadcast(bounds)
        val pidOf = udf { (key: String) =>
          val b = bcBounds.value
          val i = java.util.Arrays.binarySearch(b.asInstanceOf[Array[AnyRef]], key)
          if (i >= 0) i + 1 else -i - 1
        }
        val partedDs: Dataset[(String, String, String, java.sql.Timestamp)] = {
          val base = pages.select(col("url"), col("lang"), col("text"), col("warc_ts"))
          // partition-index preimages: route pid p to hash-partition p
          val pre = hashPreimages(spark, cfg.numPartitions)
          // default sort (no sortKeySql): the key IS the url — sort on the
          // url column directly instead of materializing a __gkey copy,
          // which would ship every url through the full-width shuffle TWICE
          // (urls are ~10% of the payload beside the stored text)
          val (keyed, keyCol) = cfg.sortKeySql match {
            case None => (base, col("url"))
            case Some(_) => (base.withColumn("__gkey", sortKey), col("__gkey"))
          }
          keyed
            .withColumn("__gbucket", element_at(typedLit(pre.toSeq), pidOf(keyCol) + 1))
            .repartition(cfg.numPartitions, col("__gbucket"))
            .sortWithinPartitions(keyCol)
            .drop("__gbucket", "__gkey")
            .as[(String, String, String, java.sql.Timestamp)]
        }

        // docId = row_number over sort-key order, computed scalably: exact
        // per-partition counts from a COLUMN-PRUNED key-only scan of the
        // source (deterministic routing ⇒ the count of keys routed to p is
        // the count of rows in p), then prefix-sum offsets on the driver
        // (O(partitions) state — never O(rows); a Window would serialize
        // the build). The full-width corpus is never cached: the ONE
        // shuffle lands in the docs stage, whose parquet output (WITH the
        // stored text column) doubles as the staged sorted corpus the
        // postings stage scans back column-pruned + compressed — no cache
        // tier, no second shuffle.
        val tCounts = System.nanoTime()
        val cArr: Array[Long] = {
          val arr = new Array[Long](cfg.numPartitions)
          pages.select(sortKey.as("k"))
            .groupBy(pidOf(col("k")).as("pid")).count()
            .collect()
            .foreach(r => arr(r.getInt(0)) = r.getLong(1))
          arr
        }
        stageSec += "counts" -> (System.nanoTime() - tCounts) / 1e9
        if (sys.env.contains("GRAFT_PROFILE"))
          println(f"[build] counts (key-only scan) ${(System.nanoTime() - tCounts) / 1e9}%.2f s")
        (partedDs, cArr)
      }
    // effective partition count: the scan's own layout in arrival-order
    // mode, cfg.numPartitions in the sorted build
    val nParts = counts.length

    // ---- hot-term detection, launched CONCURRENTLY ---------------------
    // It reads the SOURCE (column-pruned url+text, deterministic
    // url-hash sample — no shuffle, no cache) and is independent of the
    // docs chain, so it runs as a parallel job whose tasks fill the
    // scheduler slots the docs stage leaves idle (launched AFTER the
    // counts scan, which is on the critical path and would contend for
    // the same slots). The result is only awaited at the postings
    // stage. Shrinking this serial floor is a direct lever on N→4N
    // scaling efficiency: a width-insensitive stage contributes the
    // same seconds at both widths, which is exactly the Amdahl term
    // that caps the ratio.
    val hotFut: scala.concurrent.Future[(Set[String], Double)] =
      scala.concurrent.Future {
        val t0 = System.nanoTime()
        // two-level stride sampling. Partition stride (every ⌈1/rate⌉-th
        // scan partition) is the IO-optimal form: a url-hash row filter
        // cannot be pushed below the parquet scan, so a 5% row sample
        // still DECODES the whole text column, while skipped partitions
        // never pull a row (column decode is pull-driven). But it is
        // only BALANCED when partitions are plentiful — on a scan with
        // a handful of fat partitions the whole sample lands on ONE
        // task (observed: a single task tokenizing 1/8 of the corpus
        // for minutes while the build waited). So: partition stride
        // when the scan has ≥ 4·stride partitions (≥ 4 sampled tasks),
        // otherwise sample EVERY partition with a row stride inside —
        // full decode cost, but the tokenization (the expensive part)
        // is 1/stride on every task in parallel. Hot terms are
        // corpus-wide by definition (df ≥ hotTermDf), so either
        // clustering finds them, and correctness is invariant to the
        // decision (salted ≡ unsalted, property-tested).
        val stride = math.max(1L, math.round(1.0 / cfg.hotSampleRate))
        val src = pages.toDF().select(col("url"), col("text"))
          .as[(String, String)]
        val nScanParts = math.max(1, src.rdd.getNumPartitions)
        val outer = if (nScanParts >= 4 * stride) stride else 1L
        val inner = math.max(1L, (stride + outer - 1) / outer)
        val sampled =
          if (stride <= 1) src.toDF("url", "text")
          else src.mapPartitions { it =>
            val tc = TaskContext.get()
            // scale = outer·inner was derived from the probed partition
            // count; if the collect job planned a different layout the
            // df estimate would be silently skewed — fail fast instead
            require(tc.numPartitions() == nScanParts,
              s"hot-sample scan replanned: ${tc.numPartitions()} partitions " +
                s"at run time vs $nScanParts at probe time")
            if (tc.partitionId() % outer != 0) Iterator.empty
            else {
              var i = -1L
              it.filter { _ => i += 1; i % inner == 0 }
            }
          }.toDF("url", "text")
        val scale = (outer * inner).toDouble
        val hot = sampled
          .select(explode(array_distinct(
            Analysis.analyzeCol(col("text"), cfg.stopWords, cfg.stem, cfg.synonyms))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c"))
          .filter(col("c") * scale >= cfg.hotTermDf)
          .select("term").as[String].collect().toSet
        (hot, (System.nanoTime() - t0) / 1e9)
      }(scala.concurrent.ExecutionContext.global)
    val offsets: Array[Long] = counts.scanLeft(cfg.docIdBase)(_ + _)
    val docCount = counts.sum
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    val partsPerSeg = cfg.partsPerSegment
    val segBase = cfg.segIdBase
    val stopSet = cfg.stopWords.toSet
    val maxLen = cfg.maxTokenLength
    val stem = cfg.stem
    val syn = cfg.synonyms

    // ---- docs table (norms + STORED text) — the build's only full-width
    // shuffle; its parquet output is both the docs/norms table and the
    // staged sorted corpus (stored-fields .fdt analogue). Token COUNT
    // pass is allocation-free.
    val docsPath = s"$dir/docs"
    // per-partition Σdl rides the docs stage as an accumulator, so the
    // stats stage needs no corpus job of its own (a ~1 s width-
    // insensitive floor at every cluster size — pure Amdahl tax on the
    // N→4N ratio). Keyed by pid and deduped at the driver: a retried /
    // speculative task re-reports the SAME deterministic value, so
    // exactly-once is by construction, not by accumulator semantics.
    val dlAcc = spark.sparkContext
      .collectionAccumulator[(Int, Long)]("dlSumsPerPartition")
    val inputOrdered = cfg.inputOrdered
    runStage(docsPath, stageSec) {
      parted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val off = bcOffsets.value(pid)
        val expected = bcOffsets.value(pid + 1) - off
        val segId = segBase + pid / partsPerSeg
        var i = -1L
        var dlSum = 0L
        var reported = false
        // allocation-free count is valid only when no filter changes the
        // token COUNT: stop words remove tokens, multi-word synonyms
        // contract runs (single-word synonyms and stemming are 1:1)
        val fastCount = stopSet.isEmpty && !syn.keysIterator.exists(_.contains(' '))
        val out = it.map { case (url, lang, text, ts) =>
          i += 1
          val dl =
            if (fastCount) Analysis.countTokens(text, maxLen)
            else Analysis.analyze(text, stopSet, maxLen, stem, syn).length
          dlSum += dl
          val norm = SmallFloat.intToByte4(dl)
          StagedDoc(segId, off + i, url, lang, dl, norm,
            SmallFloat.byte4ToInt(norm), ts, text)
        }
        new Iterator[StagedDoc] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h && !reported) {
              // arrival-order contract: this task's row count must equal
              // the counts pre-pass for the SAME scan partition — if
              // split planning drifted between the two jobs, docIds
              // would be silently scrambled, so fail the build instead
              if (inputOrdered) require(i + 1 == expected,
                s"input-order split drift: partition $pid holds ${i + 1} " +
                  s"rows but the counts pre-pass saw $expected — the two " +
                  "scans planned different splits")
              dlAcc.add((pid, dlSum)); reported = true
            }
            h
          }
          def next(): StagedDoc = out.next()
        }
      }.toDF()
        .write.mode("overwrite").parquet(docsPath)
    }
    val docsDf = spark.read.parquet(docsPath)

    // ---- collection stats (BM25 inputs; north_star equality gate) ----
    // docCount is driver-exact (Σcounts); Σdl comes from the docs-stage
    // accumulator when every partition reported (fresh build), else a
    // column-pruned agg (resume path, where the docs stage was skipped)
    val statsPath = s"$dir/stats"
    runStage(statsPath, stageSec) {
      val sums = {
        import scala.jdk.CollectionConverters._
        dlAcc.value.asScala.toMap
      }
      val sumTtf =
        if (sums.size == nParts) sums.values.sum
        else docsDf.agg(coalesce(sum(col("dl")), lit(0L)).cast("long"))
          .head().getLong(0)
      val row = CollStats(docCount, sumTtf,
        if (docCount == 0) 0.0 else sumTtf.toDouble / docCount)
      spark.createDataset(Seq(row)).toDF()
        .coalesce(1).write.mode("overwrite").parquet(statsPath)
    }
    val stats0 = spark.read.parquet(statsPath).as[CollStats].head()
    val bcStats = spark.sparkContext.broadcast(
      Bm25Stats(stats0.docCount, stats0.sumTotalTermFreq))

    // ---- await the concurrent hot-term job (usually already done) -----
    val tHotWait = System.nanoTime()
    val (hotTerms, hotSec) = scala.concurrent.Await.result(
      hotFut, scala.concurrent.duration.Duration.Inf)
    // stage time = what the critical path actually WAITED, not the
    // overlapped duration (recorded separately for the profile)
    stageSec += "hotsample" -> (System.nanoTime() - tHotWait) / 1e9
    if (sys.env.contains("GRAFT_PROFILE"))
      println(f"[build] hotsample ran $hotSec%.2f s overlapped, " +
        f"critical-path wait ${(System.nanoTime() - tHotWait) / 1e9}%.2f s (${hotTerms.size} hot)")
    val bcHot = spark.sparkContext.broadcast(hotTerms)
    val numSalts = cfg.numSalts
    val blockSize = cfg.blockSize

    // ---- fused SPIMI → salted sort-merge shuffle → block encode -------
    // Merge key = (segId, term, salt): equal keys land in one range
    // partition; runs of a hot term fan out over `numSalts`
    // docId-contiguous slices so no reducer ever owns a whole web-scale
    // posting list (the SegmentMerger + TieredMergePolicy analogue).
    val postingsPath = s"$dir/postings"
    val spillBytes = cfg.spimiSpillBytes
    runStage(postingsPath, stageSec) {
      // the staged sorted corpus comes back as a column-pruned (docId,
      // text) parquet scan — compressed, splittable, NO second shuffle
      // and no cache tier; segId/salt are recovered from docId via the
      // broadcast offsets, so any split/bin-packing task layout works
      docsDf.select(col("docId"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          spimi(it, bcOffsets.value, partsPerSeg, segBase, bcHot.value,
            numSalts, stopSet, maxLen, stem, syn, spillBytes)
        }
        // HASH partition on the merge key: colocation + the in-partition
        // sort below is all mergeRuns needs, and unlike repartitionByRange
        // there is no range-sampling pass (which would re-execute the
        // whole SPIMI map side once more just to pick bounds). Term
        // pruning at query time still works through parquet ROW-GROUP
        // min/max stats — each output file is term-sorted.
        .repartition(cfg.numPartitions, col("segId"), col("term"), col("salt"))
        .sortWithinPartitions("segId", "term", "salt", "firstDocId")
        .mapPartitions(it => mergeRuns(it, bcStats.value, blockSize))
        .toDF()
        .write.mode("overwrite").parquet(postingsPath)
    }

    // arrival-order mode keeps the split confs pinned through the
    // postings stage: the docs parquet it reads back was written by
    // this build (one file per input split), and unpinned planning
    // would hand the LOW-width run fewer, fatter SPIMI tasks
    // (bytesPerCore grows as cores shrink) — wave quantization that
    // skews any cross-width comparison
    restoreSplitConf()

    // ---- exact per-term stats from merged row metadata ----------------
    // (columnar scan of term/df/ttf only — blocks never read)
    val postingsDf = spark.read.parquet(postingsPath)
    val termStatsPath = s"$dir/termstats"
    runStage(termStatsPath, stageSec) {
      TermFilters.withFilterCols(
        postingsDf.groupBy("term")
          .agg(sum("df").as("df"), sum("ttf").as("ttf")))
        .write.mode("overwrite").parquet(termStatsPath)
    }

    // ---- per-partition lineage (north rule: resumable with lineage) ---
    // exact, driver-known: which docId range each input partition owns
    val lineagePath = s"$dir/lineage"
    runStage(lineagePath, stageSec) {
      val rows = counts.indices.map(p =>
        LineageRow(p, segBase + p / partsPerSeg, offsets(p), counts(p)))
      spark.createDataset(rows).toDF()
        .coalesce(1).write.mode("overwrite").parquet(lineagePath)
    }
    val segsPath = s"$dir/segments"
    runStage(segsPath, stageSec) {
      // exact from the build's own arithmetic — docIds are assigned as
      // offsets(pid)+i with a segment's partitions contiguous in docId
      // space, so the per-segment ranges are driver-known (no
      // corpus-width groupBy job; empty segments omitted, matching the
      // data-derived table)
      val nSegs = (nParts + partsPerSeg - 1) / partsPerSeg
      val rows = (0 until nSegs).flatMap { s =>
        val ps = (s * partsPerSeg) until
          math.min((s + 1) * partsPerSeg, nParts)
        val n = ps.map(counts(_)).sum
        if (n == 0) None
        else Some(SegmentInfo(segBase + s, n, offsets(ps.head),
          offsets(ps.head) + n - 1))
      }
      spark.createDataset(rows).toDF()
        .coalesce(1).write.mode("overwrite").parquet(segsPath)
    }

    // ---- atomic manifest commit (segments_N analogue): temp + rename --
    val segInfos = spark.read.parquet(segsPath).as[SegmentInfo].collect()
      .sortBy(_.segId)
    val buildSec = (System.nanoTime() - tBuild) / 1e9
    val manifest = manifestJson(stats0, segInfos, cfg, hotTerms.size,
      stageSec.toSeq, buildSec)
    val tmp = Paths.get(dir, ".manifest.json.tmp")
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, "manifest.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

    InvertedIndex.open(spark, dir)
    } finally restoreSplitConf()
  }

  /** ≤ parts-1 sorted sort-key cut points; partition p holds keys in
    * [bounds(p-1), bounds(p)) (binary-search insertion point). ONE
    * column-pruned job: a deterministic per-partition reservoir sample
    * rides along with the exact per-partition counts, and cut points
    * are picked by cumulative weight (each sample stands for
    * count/sampleSize rows) — the RangePartitioner sketch, without
    * re-executing the full-width corpus scan. Empty/tiny corpora yield
    * fewer cut points; trailing partitions just stay empty. */
  private def keyRangeBounds(spark: SparkSession, pages: Dataset[Page],
                             keyCol: org.apache.spark.sql.Column,
                             parts: Int): Array[String] = {
    if (parts <= 1) return Array.empty
    import spark.implicits._
    val perPart = 256
    val stats: Array[(Long, Array[String])] = pages.select(keyCol.as("k")).as[String]
      .mapPartitions { it =>
        // deterministic reservoir (algorithm R), seeded by partition id
        var seed = 0x9E3779B97F4A7C15L ^
          (TaskContext.getPartitionId() * 0xBF58476D1CE4E5B9L)
        def nextLong(): Long = {
          seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17; seed
        }
        val res = new Array[String](perPart)
        var n = 0L
        it.foreach { u =>
          if (n < perPart) res(n.toInt) = u
          else {
            val j = java.lang.Math.floorMod(nextLong(), n + 1)
            if (j < perPart) res(j.toInt) = u
          }
          n += 1
        }
        Iterator.single((n, res.take(math.min(n, perPart.toLong).toInt)))
      }.collect()
    val total = stats.map(_._1).sum
    if (total == 0) return Array.empty
    val weighted = stats.flatMap { case (cnt, smp) =>
      if (smp.isEmpty) Array.empty[(String, Double)]
      else {
        val w = cnt.toDouble / smp.length
        smp.map(u => (u, w))
      }
    }.sortBy(_._1)
    val step = total.toDouble / parts
    val bounds = Array.newBuilder[String]
    var cum = 0.0
    var target = step
    var i = 0
    var k = 0
    while (i < weighted.length && k < parts - 1) {
      cum += weighted(i)._2
      if (cum >= target) {
        bounds += weighted(i)._1
        target += step
        k += 1
      }
      i += 1
    }
    bounds.result().distinct
  }

  /** For each partition index p < parts, a Long v with
    * pmod(murmur3(v), parts) == p — so `repartition(parts, lit(v))`
    * routes a row to EXACTLY partition p (hash partitioning with chosen
    * preimages ≡ explicit partitioner, no RDD API needed). Driver-local:
    * HashPartitioning's id expression is pmod(Murmur3(expr, seed=42), n)
    * and Spark's Murmur3 of a LongType is Murmur3_x86_32.hashLong.
    *
    * Because this couples docId assignment to a Spark INTERNAL hashing
    * detail, a probe Dataset is routed through a real `repartition`
    * once per (session, parts) and every row must land on its intended
    * TaskContext partition — a Spark version that changes the hash
    * contract fails FAST here instead of silently scrambling docIds. */
  private val probedPreimages =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  private def hashPreimages(spark: SparkSession, parts: Int): Array[Long] = {
    val out = new Array[Long](parts)
    val seen = new Array[Boolean](parts)
    var found = 0
    var v = 0L
    while (found < parts) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
      val p = ((h % parts) + parts) % parts
      if (!seen(p)) { seen(p) = true; out(p) = v; found += 1 }
      v += 1
    }
    if (probedPreimages.add((spark.sparkContext.applicationId, parts))) {
      import spark.implicits._
      val misrouted = spark
        .createDataset(out.toSeq.zipWithIndex.map { case (pre, p) => (p, pre) })
        .repartition(parts, col("_2"))
        .mapPartitions { it =>
          val pid = TaskContext.getPartitionId()
          it.filter(_._1 != pid)
        }.count()
      require(misrouted == 0L,
        s"hash-preimage routing contract drifted (Murmur3 seed-42 pmod): " +
          s"$misrouted/$parts probes misrouted — Spark's HashPartitioning " +
          "expression changed; docId assignment would be scrambled")
    }
    out
  }

  /** Idempotent stage guard: skip if a previous run completed it;
    * records the stage wall time into the manifest metrics. */
  private def runStage(path: String,
                       metrics: scala.collection.mutable.Map[String, Double] = null)
                      (f: => Unit): Unit =
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      val t0 = System.nanoTime()
      f
      val sec = (System.nanoTime() - t0) / 1e9
      if (metrics != null)
        metrics += Paths.get(path).getFileName.toString -> sec
      if (sys.env.contains("GRAFT_PROFILE"))
        println(f"[build] ${Paths.get(path).getFileName} $sec%.2f s")
    }

  /** Which original sort-partition a docId belongs to: the p with
    * offsets(p) ≤ d < offsets(p+1) (empty partitions have equal
    * consecutive offsets and can never contain d). */
  private def partOf(offsets: Array[Long], d: Long): Int = {
    var i = java.util.Arrays.binarySearch(offsets, d)
    if (i < 0) i = -i - 2
    else while (i + 1 < offsets.length && offsets(i + 1) <= d) i += 1
    i
  }

  /** SPIMI in-memory inversion over the staged sorted corpus (≈ one
    * DocumentsWriterPerThread), reading (docId, text) rows. segId and
    * salt derive from docId via the broadcast offsets, so the input may
    * arrive under ANY task layout (parquet splits, bin-packed files):
    * the map flushes as term-sorted runs whenever the (segId, salt)
    * context changes, docIds go backwards (a new file chunk), or the
    * byte-pool exceeds `spillBytes` (the DWPT flush-at-RAM-budget
    * analogue [U lucene/core/.../index/DocumentsWriterFlushControl.java]).
    * Every run is docId-ascending and runs of one (segId, term, salt)
    * have disjoint ranges — exactly what `mergeRuns` concatenates. */
  private def spimi(docs: Iterator[(Long, String)],
                    offsets: Array[Long], partsPerSeg: Int, segBase: Int,
                    hot: Set[String], numSalts: Int,
                    stopSet: Set[String], maxLen: Int,
                    stem: Boolean = false,
                    syn: Map[String, String] = Map.empty,
                    spillBytes: Long = Long.MaxValue): Iterator[Run] = {
    val taskId = TaskContext.getPartitionId()
    val perDoc = new java.util.HashMap[String, mutable.ArrayBuilder.ofInt]()

    new Iterator[Run] {
      private var inv = new java.util.HashMap[String, PostingsBuf]()
      private var poolBytes = 0L
      private var cur: Iterator[Run] = Iterator.empty
      private var exhausted = false
      private var pending: (Long, String) = null
      private var curPart = Int.MinValue
      private var curSegId = Int.MinValue
      private var curSalt = 0
      private var lastDocId = Long.MinValue

      private def ingest(docId: Long, text: String): Unit = {
        perDoc.clear()
        val tokens = Analysis.analyze(text, stopSet, maxLen, stem, syn)
        var pos = 0
        while (pos < tokens.length) {
          val t = tokens(pos)
          var b = perDoc.get(t)
          if (b == null) { b = new mutable.ArrayBuilder.ofInt; perDoc.put(t, b) }
          b += pos
          pos += 1
        }
        val norm = SmallFloat.intToByte4(tokens.length)
        perDoc.forEach { (term, posB) =>
          var buf = inv.get(term)
          if (buf == null) {
            buf = new PostingsBuf
            inv.put(term, buf)
            poolBytes += 64L + 2L * term.length // entry + key overhead
          }
          val before = buf.sizeBytes
          buf.add(docId, posB.result(), norm)
          poolBytes += buf.sizeBytes - before
        }
      }

      /** Emit the current map as term-sorted runs and reset the pool. */
      private def flushRuns(): Iterator[Run] = {
        if (inv.isEmpty) Iterator.empty
        else {
          val flushed = inv
          val segId = curSegId
          val salt = curSalt
          inv = new java.util.HashMap[String, PostingsBuf]()
          poolBytes = 0L
          val terms = flushed.keySet().toArray(new Array[String](0))
          java.util.Arrays.sort(terms.asInstanceOf[Array[AnyRef]])
          terms.iterator.map { term =>
            val buf = flushed.get(term)
            Run(taskId, segId, term, if (hot.contains(term)) salt else 0,
              buf.firstDocId, buf.count,
              buf.docsEncoded, buf.tfsEncoded, buf.norms, buf.positionsEncoded)
          }
        }
      }

      def hasNext: Boolean = {
        while (!cur.hasNext && !(exhausted && pending == null && inv.isEmpty)) {
          var stopFill = false
          while (!stopFill) {
            if (pending == null) {
              if (docs.hasNext) pending = docs.next()
              else { exhausted = true; stopFill = true }
            }
            if (pending != null) {
              val (d, t) = pending
              val p = partOf(offsets, d)
              // flush at PARTITION boundaries (not just segId/salt
              // changes): a task that packs non-adjacent files would
              // otherwise emit one run whose docId INTERVAL spans
              // another task's partition — runs of one (segId, term,
              // salt) must be non-interleaved intervals or the merge's
              // firstDocId-ordered concatenation goes non-ascending
              if (!inv.isEmpty &&
                (p != curPart || d < lastDocId ||
                  poolBytes >= spillBytes)) stopFill = true
              else {
                curPart = p
                curSegId = segBase + p / partsPerSeg
                curSalt = (p % partsPerSeg) * numSalts / partsPerSeg
                lastDocId = d
                ingest(d, t)
                pending = null
              }
            }
          }
          cur = flushRuns()
        }
        cur.hasNext
      }

      def next(): Run = if (hasNext) cur.next() else Iterator.empty.next()
    }
  }

  /** Per-term growing postings buffer, fully delta-varint packed AS IT
    * GROWS — the byte-pool discipline of the reference's
    * TermsHashPerField [U lucene/core/.../index/TermsHashPerField.java,
    * ByteBlockPool]: ~4-5 bytes/posting live instead of 13+ in primitive
    * arrays, no big result-array copies at flush. */
  private final class PostingsBuf {
    private val docB = new ByteBuilder(16)
    private val tfB = new ByteBuilder(8)
    private val normB = new ByteBuilder(8)
    private val posB = new ByteBuilder(16)
    var firstDocId: Long = -1L
    var count: Int = 0
    private var lastDocId: Long = 0L
    def add(docId: Long, positions: Array[Int], norm: Byte): Unit = {
      if (firstDocId < 0) { firstDocId = docId; lastDocId = docId }
      VarInt.write(docB, docId - lastDocId)
      lastDocId = docId
      count += 1
      VarInt.write(tfB, positions.length.toLong)
      normB += norm
      var prev = 0
      var i = 0
      while (i < positions.length) {
        VarInt.write(posB, (positions(i) - prev).toLong)
        prev = positions(i)
        i += 1
      }
    }
    def docsEncoded: Array[Byte] = docB.result()
    def tfsEncoded: Array[Byte] = tfB.result()
    def norms: Array[Byte] = normB.result()
    def positionsEncoded: Array[Byte] = posB.result()
    def sizeBytes: Long =
      docB.size.toLong + tfB.size + normB.size + posB.size
  }

  /** Merge consecutive runs with equal (segId, term, salt) — input is
    * sorted, so this is a single streaming pass (the k-way merge of the
    * reference's SegmentMerger degenerates to ordered concatenation
    * because runs arrive sorted by firstDocId and partitions are
    * docId-disjoint). Emits block-compressed PostingsRows. */
  private def mergeRuns(it: Iterator[Run], stats: Bm25Stats,
                        blockSize: Int): Iterator[PostingsRow] = {
    if (!it.hasNext) return Iterator.empty
    val cache = BM25.buildCache(stats.avgdl)
    val in = it.buffered
    new Iterator[PostingsRow] {
      def hasNext: Boolean = in.hasNext
      def next(): PostingsRow = {
        val head = in.next()
        val group = mutable.ArrayBuffer(head)
        while (in.hasNext && {
          val n = in.head
          n.segId == head.segId && n.term == head.term && n.salt == head.salt
        }) group += in.next()
        buildRow(group, head, cache, blockSize)
      }
    }
  }

  /** Re-block one row's decoded postings, in docId order (compaction
    * path): same block layout and block-max metadata as the primary
    * build, under the BM25 length cache `cache` of the new stats. */
  def reblock(segId: Int, term: String, salt: Int, docIds: Array[Long],
              tfs: Array[Int], norms: Array[Byte], positions: Array[Array[Int]],
              cache: Array[Float], blockSize: Int): PostingsRow =
    packBlocks(segId, term, salt, docIds, tfs, norms, positions, cache, blockSize)

  private def buildRow(group: mutable.ArrayBuffer[Run], head: Run,
                       cache: Array[Float], blockSize: Int): PostingsRow = {
    val n = group.iterator.map(_.count).sum
    val docIds = new Array[Long](n)
    val tfs = new Array[Int](n)
    val norms = new Array[Byte](n)
    val positions = new Array[Array[Int]](n)
    var o = 0
    group.foreach { r =>
      val rDocs = VarInt.decodeDeltas(r.docs, r.count, r.firstDocId)
      val rTfs = VarInt.decodeInts(r.tfs, r.count)
      System.arraycopy(rDocs, 0, docIds, o, r.count)
      System.arraycopy(rTfs, 0, tfs, o, r.count)
      System.arraycopy(r.norms, 0, norms, o, r.count)
      val pos = VarInt.decodePositions(r.positions, rTfs)
      System.arraycopy(pos, 0, positions, o, pos.length)
      o += r.count
    }
    packBlocks(head.segId, head.term, head.salt, docIds, tfs, norms,
      positions, cache, blockSize)
  }

  /** Chunk one term's postings into 128-entry blocks with block-max
    * metadata (shared by merge and compaction). */
  private def packBlocks(segId: Int, term: String, salt: Int,
                         docIds: Array[Long], tfs: Array[Int],
                         norms: Array[Byte], positions: Array[Array[Int]],
                         cache: Array[Float], blockSize: Int): PostingsRow = {
    val n = docIds.length
    val blocks = Vector.newBuilder[Block]
    var start = 0
    var ttf = 0L
    var i = 0
    while (i < n) { ttf += tfs(i); i += 1 }
    while (start < n) {
      val end = math.min(start + blockSize, n)
      val bDocs = java.util.Arrays.copyOfRange(docIds, start, end)
      val bTfs = java.util.Arrays.copyOfRange(tfs, start, end)
      val bNorms = java.util.Arrays.copyOfRange(norms, start, end)
      val bPos = java.util.Arrays.copyOfRange(
        positions.asInstanceOf[Array[AnyRef]], start, end)
        .asInstanceOf[Array[Array[Int]]]
      var maxTf = 0
      var minNorm = bNorms(0)
      var maxImpact = 0f
      var j = 0
      while (j < bTfs.length) {
        if (bTfs(j) > maxTf) maxTf = bTfs(j)
        if ((bNorms(j) & 0xFF) < (minNorm & 0xFF)) minNorm = bNorms(j)
        val imp = BM25.score(1f, bTfs(j).toFloat, cache(bNorms(j) & 0xFF))
        if (imp > maxImpact) maxImpact = imp
        j += 1
      }
      blocks += Block(
        firstDocId = bDocs(0), maxDocId = bDocs(bDocs.length - 1),
        count = bDocs.length, maxTf = maxTf, minNorm = minNorm,
        maxImpact = maxImpact,
        docs = PFor.encodeDeltas(bDocs, bDocs(0)),
        tfs = PFor.encodeInts(bTfs),
        norms = bNorms,
        positions = VarInt.encodePositions(bPos))
      start = end
    }
    PostingsRow(segId, term, salt, n.toLong, ttf, blocks.result())
  }

  private def manifestJson(stats: CollStats, segs: Array[SegmentInfo],
                           cfg: IndexConfig, hotTerms: Int,
                           stageSec: Seq[(String, Double)],
                           buildSec: Double): String = {
    val segJson = segs.map(s =>
      s"""{"segId":${s.segId},"nDocs":${s.nDocs},"minDocId":${s.minDocId},"maxDocId":${s.maxDocId}}""")
      .mkString("[", ",", "]")
    val metricsJson = (stageSec.map { case (k, v) => f""""$k":$v%.3f""" } :+
      f""""totalSec":$buildSec%.3f""" :+
      f""""docsPerSec":${stats.docCount / math.max(buildSec, 0.001)}%.1f""")
      .mkString("{", ",", "}")
    s"""{
       |  "generation": 1,
       |  "docCount": ${stats.docCount},
       |  "sumTotalTermFreq": ${stats.sumTotalTermFreq},
       |  "avgdl": ${stats.avgdl},
       |  "hotTermsSalted": $hotTerms,
       |  "metrics": $metricsJson,
       |  "config": {"numPartitions": ${cfg.numPartitions}, "partsPerSegment": ${cfg.partsPerSegment}, "blockSize": ${cfg.blockSize}, "hotTermDf": ${cfg.hotTermDf}, "numSalts": ${cfg.numSalts}, "hotSampleRate": ${cfg.hotSampleRate}, "inputOrdered": ${cfg.inputOrdered}},
       |  "segments": $segJson
       |}""".stripMargin
  }
}
