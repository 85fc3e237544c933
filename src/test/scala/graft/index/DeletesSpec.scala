package graft.index

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.model.{Page, PostingsRow}
import graft.search._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, lit}

/** Tombstone deletes + compaction: deleted docs vanish from results
  * (scorer AND relational paths) while pre-compaction scores keep the
  * full-corpus statistics (Lucene semantics: deleted docs still count
  * in collection stats until merged away); compaction reclaims them and
  * recomputes stats. */
class DeletesSpec extends SparkSpec {

  private def mkPages(texts: Seq[String]): Dataset[Page] = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      Page(f"https://d/$i%04d", java.sql.Timestamp.valueOf("2025-10-24 00:00:00"),
        s"<p>$t</p>".getBytes, t, "en")
    }.toDS()
  }

  private val texts = Seq(
    "spark join merge", "spark spark batch", "the window sort spark",
    "join batch window", "spark merge sort")

  test("delete-by-url: excluded from results, stats unchanged, compaction reclaims") {
    val dir = Files.createTempDirectory("graft-del").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val searcher = new Searcher(idx)

    val before = searcher.topK(TermQ("spark"), 10).collect()
    assert(before.length === 4)

    // delete doc 0001 (a top 'spark' hit) by unique key
    Deletes.deleteByUrl(idx, Seq("https://d/0001"))
    assert(idx.hasDeletes)

    val after = searcher.topK(TermQ("spark"), 10).collect()
    assert(after.length === 3)
    assert(!after.map(_.getString(2)).contains("https://d/0001"))
    // scores of survivors unchanged (stats still include the deleted doc)
    val beforeByUrl = before.map(r => r.getString(2) -> r.getFloat(3)).toMap
    after.foreach(r => assert(r.getFloat(3) === beforeByUrl(r.getString(2))))

    // relational path agrees
    val rel = new RelationalPath(idx)
    val relIds = rel.forParsed(TermQ("spark"), 10).collect().map(_.getLong(1)).toSet
    assert(!relIds.contains(1L))
    assert(relIds.size === 3)

    // boolean path also respects deletes
    val andHits = searcher.topK(Query.and("spark", "batch"), 10).collect()
    assert(andHits.isEmpty) // only doc 0001 had both

    // compact: tombstones gone, stats recomputed, audit clean
    val compacted = Deletes.compact(idx)
    assert(!compacted.hasDeletes)
    assert(compacted.stats.docCount === 4)
    assert(compacted.stats.sumTotalTermFreq ===
      texts.zipWithIndex.filterNot(_._2 == 1).map(_._1.split(' ').length).sum)
    assert(CheckIndex.audit(compacted).nonEmpty === false ||
      CheckIndex.audit(compacted).forall(_.contains("docId space")))

    // post-compaction scores == SpecOracle over the remaining corpus
    val remaining = texts.zipWithIndex.filterNot(_._2 == 1)
      .map { case (t, i) => (f"https://d/$i%04d", t, "en") }
    val oracle = new SpecOracle(remaining)
    val s2 = new Searcher(compacted)
    val got = s2.topK(TermQ("spark"), 10).collect()
      .map(r => r.getString(2) -> r.getFloat(3)).toMap
    val expected = oracle.topK(TermQ("spark"), 10)
      .map { case (_, _, u, s) => u -> s }.toMap
    assert(got === expected)
  }

  test("stale live reader survives in-place compaction: dense-prefix fast paths refresh") {
    val dir = Files.createTempDirectory("graft-del-stale").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val searcher = new Searcher(idx)
    // prime the segments cache via the match-all docId-cutoff fast path
    assert(idx.segmentsDense)
    assert(searcher.topK(MatchAllQ, 2).collect().map(_.getLong(1)).toSeq
      === Seq(0L, 1L))
    // delete the first docs of the dense prefix, compact IN PLACE
    Deletes.deleteByUrl(idx, Seq("https://d/0000", "https://d/0001"))
    Deletes.compact(idx)
    // the SAME stale instance: generation drift must refresh the cached
    // segment ranges — the STALE ranges would cut to docIds [0,1], which
    // no longer exist, silently returning zero docs. (The refreshed
    // segments may legitimately still read dense — an edge deletion
    // leaves a gap-free range with a NEW min — so assert the behavior,
    // not density.)
    assert(idx.diskGeneration > idx.generation)
    val after = searcher.topK(MatchAllQ, 2).collect().map(_.getLong(1)).toSeq
    assert(after === Seq(2L, 3L))
    // reopenIfChanged hands back a current-generation reader
    val fresh = idx.reopenIfChanged()
    assert(fresh.generation === idx.diskGeneration)
    assert(fresh.stats.docCount === 3)
  }

  test("randomized deletes: exclusion pre-compact, oracle identity post-compact") {
    val rnd = new scala.util.Random(4242L)
    val vocab = Seq("the", "spark", "join", "merge", "sort", "window",
      "batch", "row", "data", "key", "rare1", "rare2")
    val corpus = (0 until 120).map { i =>
      val words = (0 until 3 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length)))
      (f"https://rd/$i%05d", words.mkString(" "), "en")
    }
    val dir = Files.createTempDirectory("graft-randdel").toString
    val idx = IndexBuilder.build(spark, mkPagesFrom(corpus), dir,
      IndexConfig(numPartitions = 3, partsPerSegment = 1, blockSize = 32))
    val doomed = corpus.indices.filter(_ => rnd.nextDouble() < 0.3)
    Deletes.deleteByUrl(idx, doomed.map(i => corpus(i)._1))

    val queries = Seq[Query](TermQ("spark"), Query.and("spark", "join"),
      Query.or("window", "batch"), Query.not("the", "merge"), MatchAllQ)
    val searcher = new Searcher(idx)
    // pre-compact: every deleted doc excluded from every result
    queries.foreach { q =>
      val ids = searcher.scoredHits(q, -1).collect().map(_._1).toSet
      doomed.foreach(d => assert(!ids.contains(d.toLong), s"doc $d leaked in $q"))
    }

    // post-compact: (url, score) sequences identical to a SpecOracle
    // built over the SURVIVING corpus (stats, df, avgdl all recomputed)
    val compacted = Deletes.compact(idx)
    val survivors = corpus.zipWithIndex.collect {
      case (row, i) if !doomed.contains(i) => row
    }
    val oracle = new SpecOracle(survivors)
    val s2 = new Searcher(compacted)
    queries.foreach { q =>
      val got = s2.topK(q, 10).collect()
        .map(r => (r.getString(2), r.getFloat(3))).toSeq
      val expected = oracle.topK(q, 10).map { case (_, _, u, s) => (u, s) }
      assert(got === expected, s"post-compact mismatch on $q")
    }
    // compaction keeps stable docIds (no renumbering, like a Lucene
    // merge keeping the segment map) — the density note is expected
    assert(CheckIndex.audit(compacted).forall(_.contains("docId space")))
  }

  test("warm reader with pending tombstones never returns a deleted doc") {
    val rnd = new scala.util.Random(777L)
    val vocab = Seq("the", "spark", "join", "merge", "sort", "window", "batch", "rare1")
    val corpus = (0 until 150).map { i =>
      val words = (0 until 3 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length)))
      (f"https://wd/$i%05d", words.mkString(" "), if (i % 3 == 0) "de" else "en")
    }
    val dir = Files.createTempDirectory("graft-warmdel").toString
    val idx = IndexBuilder.build(spark, mkPagesFrom(corpus), dir,
      IndexConfig(numPartitions = 3, partsPerSegment = 1, blockSize = 16,
        hotTermDf = 40, numSalts = 2, hotSampleRate = 1.0)).warm()
    val queries = Seq[Query](TermQ("spark"), Query.and("spark", "join"),
      Query.or("window", "batch"), Query.not("the", "merge"),
      Query.orMM(2, "sort", "merge", "rare1"), PhraseQ(Seq("spark", "join")),
      BoolQ(must = Seq(TermQ("the")), filter = Seq(AttrQ("lang", "en"))), MatchAllQ)
    val searcher = new Searcher(idx)
    val before = queries.map(q => searcher.scoredHits(q, -1).collect().toMap)

    // the resident layout serves exactly the parquet rows
    def key(r: PostingsRow) = (r.segId, r.term, r.salt, r.df, r.ttf,
      r.blocks.map(b => (b.firstDocId, b.maxDocId, b.count, b.maxTf, b.minNorm,
        b.maxImpact, b.docs.toSeq, b.tfs.toSeq, b.norms.toSeq, b.positions.toSeq)))
    val terms = Seq("spark", "the", "rare1", "absent")
    val resident = idx.postingsOf(terms)
    assert(resident.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.isEmpty)
    assert(resident.collect().map(key).sortBy(k => (k._1, k._2, k._3)).toSeq ===
      idx.postings.filter(col("term").isin(terms: _*)).collect().map(key)
        .sortBy(k => (k._1, k._2, k._3)).toSeq)

    val doomed = corpus.indices.filter(_ => rnd.nextDouble() < 0.3).map(_.toLong).toSet
    Deletes.deleteByUrl(idx, doomed.toSeq.map(i => corpus(i.toInt)._1))
    assert(idx.hasDeletes && idx.resident.isDefined)
    val cold = new Searcher(InvertedIndex.open(spark, dir))
    queries.zip(before).foreach { case (q, all) =>
      val got = searcher.scoredHits(q, -1).collect().toMap
      assert(got.keySet.intersect(doomed).isEmpty, s"deleted doc leaked in $q")
      // survivors keep their scores: collection stats still count the
      // tombstoned docs until compaction
      assert(got === all -- doomed, s"survivors changed in $q")
      assert(got === cold.scoredHits(q, -1).collect().toMap, s"warm != cold on $q")
      val top = searcher.topK(q, 10).collect().map(_.getLong(1))
      assert(top.forall(d => !doomed.contains(d)), s"deleted doc in top-k of $q")
    }
  }

  test("edismax over pending tombstones, warm and cold: no deleted url, the reference plan's ranks") {
    val sf = "/root/testdata/sf0.001"
    val textDir = indexCopy(graft.SparkEntry.index(spark, sf).dir)
    val urlDir = indexCopy(graft.SparkEntry.urlIndex(spark, sf).dir)
    val (text0, url0) = (InvertedIndex.open(spark, textDir), InvertedIndex.open(spark, urlDir))
    val bf = Some(org.apache.spark.sql.functions.log(col("dl") + lit(1L)))
    def shapes(t: IndexView, u: IndexView): Seq[(String, EDisMaxOracle.Call)] = {
      def text(q: String, mm: String = "0") = EDisMaxOracle.Call(Seq(t -> 1.0), EDisMax.parse(q, mm))
      Seq(
        "mustNot" -> text("+spark -merge data"),
        "pf2" -> text("spark merge window").copy(pf2 = Seq(t -> 0.4)),
        "bq" -> text("spark join").copy(bq = Seq("merge" -> 1.5)),
        "bf pushed" -> text("spark merge").copy(bf = bf),
        "bf joined" -> text("spark merge").copy(bf = bf, bfCap = 0),
        "multi-field" -> EDisMaxOracle.Call(Seq(t -> 2.0, u -> 1.0), EDisMax.parse("spark src3", "50%"),
          tie = 0.3, bf = bf))
    }
    val clean = shapes(text0, url0).map { case (name, call) => name -> call.engine.map(_.getLong(1)) }
    // every fourth doc, by url in both field indexes: a doc is deleted whole
    val doomed = text0.urlMap().get.collect { case (d, u) if d % 4 == 0 => u }.toSeq
    val deleted = doomed.map(RelationalPath.docIdOfUrl).toSet
    clean.foreach { case (name, ids) => assert(ids.exists(deleted), s"$name: no deleted doc to drop") }
    Deletes.deleteByUrl(text0, doomed)
    Deletes.deleteByUrl(url0, doomed)
    for (warm <- Seq(false, true)) {
      def open(dir: String) = {
        val r = InvertedIndex.open(spark, dir)
        if (warm) r.warm() else r
      }
      val (t, u) = (open(textDir), open(urlDir))
      assert(t.hasDeletes && u.hasDeletes)
      shapes(t, u).foreach { case (name, call) =>
        val got = call.engine
        val ids = got.map(_.getLong(1))
        assert(ids.nonEmpty && !ids.exists(deleted), s"$name (warm=$warm): ${ids.filter(deleted)}")
        assert(got === call.oracle, s"$name (warm=$warm)")
      }
      if (warm) { t.close(); u.close() }
    }
  }

  test("warm reader through two compactions: new stats, new docs, oracle scores") {
    val rnd = new scala.util.Random(9091L)
    val common = Seq("the", "spark", "join", "merge", "sort", "window", "batch", "row")
    val rare = (0 until 24).map(i => s"rare$i")
    val corpus = (0 until 160).map { i =>
      val words = (0 until 3 + rnd.nextInt(16)).map(_ =>
        if (rnd.nextDouble() < 0.2) rare(rnd.nextInt(rare.length))
        else common(rnd.nextInt(common.length)))
      (f"https://cy/$i%05d", words.mkString(" "), if (i % 4 == 0) "de" else "en")
    }
    val dir = Files.createTempDirectory("graft-cycles").toString
    var reader = IndexBuilder.build(spark, mkPagesFrom(corpus), dir,
      IndexConfig(numPartitions = 4, partsPerSegment = 1, blockSize = 16,
        hotTermDf = 40, numSalts = 2, hotSampleRate = 1.0)).warm()
    val queries = Seq[Query](TermQ("spark"), TermQ("rare3"), Query.and("spark", "join"),
      Query.or("window", "rare7"), Query.not("the", "merge"), PhraseQ(Seq("spark", "join")))
    var alive = corpus.indices.toSet
    for (cycle <- 1 to 2) {
      val doomed = alive.filter(_ => rnd.nextDouble() < 0.25)
      Deletes.deleteByUrl(reader, doomed.toSeq.map(corpus(_)._1))
      Deletes.compact(reader)
      reader = reader.reopenIfChanged().warm()
      alive --= doomed
      assert(reader.generation === cycle + 1)

      assert(CheckIndex.audit(reader).forall(_.contains("docId space")), s"cycle $cycle")
      // the table's part files, not its directory: a plan over the
      // directory is what a stale cache entry would answer
      val parts = Files.list(java.nio.file.Paths.get(reader.tablesDir, "termstats"))
        .toArray.map(_.toString).filter(_.endsWith(".parquet"))
      val onDisk = spark.read.parquet(parts.toIndexedSeq: _*).select("term", "df").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(reader.termDfMap() === Some(onDisk), s"cycle $cycle: stale dictionary")

      val oracle = new SpecOracle(corpus.indices.filter(alive).map(corpus))
      val searcher = new Searcher(reader)
      queries.foreach { q =>
        val got = searcher.topK(q, 10).collect().map(r => (r.getString(2), r.getFloat(3))).toSeq
        assert(got === oracle.topK(q, 10).map { case (_, _, u, s) => (u, s) },
          s"cycle $cycle: $q")
      }
      // match-all reads the docs table: exactly the live docs
      val docIds = new RelationalPath(reader).matchAllTopK(1000).collect().map(_.getLong(1)).toSet
      assert(docIds === alive.map(_.toLong), s"cycle $cycle: docs table")
    }
  }

  test("compaction rewrites postings in one narrow pass, no shuffle") {
    val dir = Files.createTempDirectory("graft-del-plan").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val dead = spark.sparkContext.broadcast(Array(1L, 3L))
    val rewritten = Deletes.postingsWithout(idx.postings, dead, Bm25Stats(3, 10), 128)
    val out = Files.createTempDirectory("graft-del-plan-out").resolve("postings").toString
    val c = org.apache.spark.JobCounts.of(spark.sparkContext)(rewritten.write.parquet(out))
    assert(c.jobs === 1 && c.stages === 1, s"postings rewrite: $c")
    val kept = InvertedIndex.read(spark, out.stripSuffix("/postings"), "postings")
      .as[PostingsRow](org.apache.spark.sql.Encoders.product[PostingsRow]).collect()
      .flatMap(_.blocks.flatMap(b => graft.util.PFor.decodeDeltas(b.docs, b.count, b.firstDocId)))
    assert(kept.nonEmpty && !kept.exists(Set(1L, 3L)))

    Deletes.deleteByUrl(idx, Seq("https://d/0001"))
    // the whole compaction: the docs aggregate (2 jobs: adaptive
    // execution runs its shuffle as a job of its own), the postings
    // rewrite, termstats (2 jobs), and the docs and segments writes; the
    // driver reads the tombstones — the shuffle-based rewrite ran 18
    // jobs here
    val whole = org.apache.spark.JobCounts.of(spark.sparkContext)(Deletes.compact(idx))
    assert(whole.jobs === 7, s"compact: $whole")
  }

  test("compaction reads its tombstone batches on the driver: 40 batches cost what 8 do") {
    val corpus = (0 until 60).map(i => (f"https://cb/$i%03d", s"spark batch $i", "en"))
    def compactJobs(batches: Int): (Int, Set[Long]) = {
      val dir = Files.createTempDirectory("graft-del-batches").toString
      val idx = IndexBuilder.build(spark, mkPagesFrom(corpus), dir,
        IndexConfig(numPartitions = 2, partsPerSegment = 1)).warm()
      val docIdOf = idx.urlMapIfLoaded.get.map(_.swap)
      (0 until batches).foreach(b => Deletes.deleteByUrl(idx, Seq(corpus(b)._1)))
      assert(Deletes.pendingRows(idx) === batches)
      val c = org.apache.spark.JobCounts.of(spark.sparkContext)(Deletes.compact(idx))
      val live = InvertedIndex.open(spark, dir).docs.select("docId").collect().map(_.getLong(0)).toSet
      assert(live === docIdOf.values.toSet -- corpus.take(batches).map(p => docIdOf(p._1)))
      (c.jobs, live)
    }
    val (jobs8, _) = compactJobs(8)
    val (jobs40, _) = compactJobs(40)
    assert(jobs40 === jobs8, s"40 batches: $jobs40 jobs, 8 batches: $jobs8")
  }

  test("early-terminating sorted read runs no job while deletes are pending") {
    val dir = Files.createTempDirectory("graft-del-sorted").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    Deletes.deleteByUrl(idx, Seq("https://d/0000"))
    // the same doc in a second batch: a duplicate only widens the slack
    Deletes.deleteByUrl(idx, Seq("https://d/0000"))
    assert(Deletes.pendingRows(idx) === 2L)
    val frame = org.apache.spark.JobCounts.of(spark.sparkContext)(SortedRead.earlyWinnersFrame(idx, 2))
    assert(frame.jobs === 0, s"early winners frame: $frame")
    assert(SortedRead.earlyTopK(idx, 2).collect().toSeq ===
      SortedRead.fullScanTopK(idx, 2).collect().toSeq)
  }

  test("a delete that matches no doc writes nothing and compaction is a no-op") {
    val dir = Files.createTempDirectory("graft-del-none").toString
    val idx = IndexBuilder.build(spark, mkPages(texts.take(3)), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    val warm = InvertedIndex.open(spark, indexCopy(dir)).warm()
    Seq(idx, warm).foreach { r =>
      Deletes.deleteByUrl(r, Seq("https://d/no-such-url"))
      assert(!r.hasDeletes, s"${r.dir}: deleteByUrl")
      Deletes.deleteWhere(r, col("dl") > 100)
      assert(!r.hasDeletes, s"${r.dir}: deleteWhere")
      assert(Deletes.compact(r) eq r)
      assert(r.diskGeneration === 1L && r.generation === 1L)
    }
  }

  test("tombstone batches: driver-written, seen by every reader, no Spark job when warm") {
    // two docs share one url: a delete by that url removes both
    val corpus = (0 until 12).map(i => (f"https://tb/$i%03d", s"spark doc$i", "en")) :+
      (("https://tb/005", "spark twin", "en"))
    val dir = Files.createTempDirectory("graft-del-tomb").toString
    IndexBuilder.build(spark, mkPagesFrom(corpus), dir,
      IndexConfig(numPartitions = 3, partsPerSegment = 1))
    val warm = InvertedIndex.open(spark, dir).warm()
    val cold = InvertedIndex.open(spark, dir)
    val byUrl = warm.urlMapIfLoaded.get.toSeq.groupMap(_._2)(_._1)
    assert(byUrl("https://tb/005").size === 2)
    def jobs(body: => Unit) = org.apache.spark.JobCounts.of(spark.sparkContext)(body)

    val warmJobs = jobs(Deletes.deleteByUrl(warm, Seq("https://tb/005", "https://tb/007")))
    assert(warmJobs.jobs === 0, s"warm deleteByUrl: $warmJobs")
    val doomed = (byUrl("https://tb/005") ++ byUrl("https://tb/007")).toSet
    // Spark reads the driver-written file with the table schema, in a
    // handle that never loaded anything
    def pending(r: InvertedIndex) = r.tombstones.collect().map(_.longValue).toSet
    assert(cold.hasDeletes && pending(cold) === doomed)
    assert(pending(InvertedIndex.open(spark, dir)) === doomed)
    val coldHits = new Searcher(cold).scoredHits(TermQ("spark"), -1).collect().map(_._1).toSet
    assert(coldHits === byUrl.values.flatten.toSet -- doomed)

    val coldJobs = jobs(Deletes.deleteByUrl(cold, Seq("https://tb/001")))
    assert(coldJobs.jobs === 1, s"cold deleteByUrl: $coldJobs")
    val whereJobs = jobs(Deletes.deleteWhere(warm, col("url") === "https://tb/002"))
    assert(whereJobs.jobs === 1, s"deleteWhere: $whereJobs")
    val all = doomed ++ byUrl("https://tb/001") ++ byUrl("https://tb/002")
    assert(pending(warm) === all && pending(cold) === all)
    val warmHits = new Searcher(warm).scoredHits(TermQ("spark"), -1).collect().map(_._1).toSet
    assert(warmHits === byUrl.values.flatten.toSet -- all)
  }

  test("compaction keeps the delete batches that land while it runs") {
    val corpus = (0 until 400).map(i => (f"https://rc/$i%04d", s"spark race ${i % 7}", "en"))
    val dir = Files.createTempDirectory("graft-del-race").toString
    val reader = IndexBuilder.build(spark, mkPagesFrom(corpus), dir,
      IndexConfig(numPartitions = 4, partsPerSegment = 1)).warm()
    val docIdOf = reader.urlMapIfLoaded.get.map(_.swap)
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val started = new java.util.concurrent.CountDownLatch(1)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    @volatile var compacting = true
    val deleter = new Thread(() =>
      try corpus.iterator.map(_._1).takeWhile(_ => compacting).zipWithIndex.foreach { case (u, i) =>
        Deletes.deleteByUrl(reader, Seq(u))
        acked.add(u)
        if (i == 4) started.countDown()
      }
      catch { case e: Throwable => failed.set(e) }
      finally started.countDown())
    deleter.start()
    started.await()
    try Deletes.compact(reader) finally compacting = false
    deleter.join()
    Option(failed.get).foreach(e => throw e)

    val fresh = InvertedIndex.open(spark, dir)
    assert(fresh.generation === 2L)
    val live = fresh.docs.select("docId").collect().map(_.getLong(0)).toSet
    val pending = fresh.tombstones.collect().map(_.longValue).toSet
    val ackedIds = acked.asScala.map(docIdOf).toSet
    assert(ackedIds.size > 5, "the deleter stopped before compaction started")
    val lost = ackedIds.filter(d => live(d) && !pending(d))
    assert(lost.isEmpty, s"${lost.size} acknowledged deletes lost")
    // batches acknowledged after the compaction listed its part files
    // are what remains pending
    assert(pending.nonEmpty && pending.subsetOf(ackedIds))
    val hits = new Searcher(fresh).scoredHits(TermQ("spark"), -1).collect().map(_._1).toSet
    assert(hits === docIdOf.values.toSet -- ackedIds)
  }

  test("close releases the warm reader's caches; it then answers cold") {
    val dir = Files.createTempDirectory("graft-close").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1)).warm()
    val searcher = new Searcher(idx)
    val rel = new RelationalPath(idx)
    val q = BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en")))
    def docReads() = Seq(
      rel.frangeTopK(graft.functions.ValueSources.fn("mod", col("dl"), lit(2)), 1, 1, 10),
      rel.geoTopK("cast(doc_id as double)", "0.0", 1.0, 0.0, 300.0, 3),
      SortedRead.earlyTopK(idx, 2), SortedRead.fullScanTopK(idx, 10)).map(_.collect().toSeq)
    // the reader holds no broadcast: a filter query broadcasts nothing
    // but the task binaries of its stages
    val held = org.apache.spark.Broadcasts.live()
    var before = Seq.empty[org.apache.spark.sql.Row]
    val c = org.apache.spark.JobCounts.of(spark.sparkContext) { before = searcher.topK(q, 10).collect().toSeq }
    assert((org.apache.spark.Broadcasts.live() -- held).size <= c.stages, c)
    val docReadsBefore = docReads()
    val resident = idx.resident.get.persisted
    val docs = idx.docs
    assert(spark.sparkContext.getPersistentRDDs.contains(resident.id))
    assert(docs.storageLevel != org.apache.spark.storage.StorageLevel.NONE)

    idx.close()
    assert(!spark.sparkContext.getPersistentRDDs.contains(resident.id))
    assert(docs.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(idx.resident.isEmpty && idx.urlMapIfLoaded.isEmpty)
    assert(searcher.topK(q, 10).collect().toSeq === before)
    assert(docReads() === docReadsBefore)
    assert(docReadsBefore.forall(_.nonEmpty))
  }

  private def mkPagesFrom(corpus: Seq[(String, String, String)]): Dataset[Page] = {
    import spark.implicits._
    corpus.map { case (url, text, lang) =>
      Page(url, java.sql.Timestamp.valueOf("2025-10-24 00:00:00"),
        s"<p>$text</p>".getBytes, text, lang)
    }.toDS()
  }

  test("TTL expiration tombstones docs older than the cutoff") {
    val dir = Files.createTempDirectory("graft-ttl").toString
    import spark.implicits._
    val pages = texts.zipWithIndex.map { case (t, i) =>
      Page(f"https://d/$i%04d",
        java.sql.Timestamp.valueOf(s"2025-10-2${(i % 3) + 1} 00:00:00"),
        s"<p>$t</p>".getBytes, t, "en")
    }.toDS()
    val idx = IndexBuilder.build(spark, pages, dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    Deletes.expire(idx, java.sql.Timestamp.valueOf("2025-10-22 00:00:00"))
    // docs with ts 2025-10-21 (i % 3 == 0 → i = 0, 3) expired
    val live = new Searcher(idx).scoredHits(
      Query.or("spark", "join", "merge", "the", "window", "sort", "batch"), -1)
      .collect().map(_._1).toSet
    assert(!live.contains(0L) && !live.contains(3L))
    assert(live.contains(1L) && live.contains(2L) && live.contains(4L))
    val compacted = Deletes.compact(idx)
    assert(compacted.stats.docCount === 3)
  }

  test("delete-by-query (predicate) tombstones") {
    val dir = Files.createTempDirectory("graft-del2").toString
    val idx = IndexBuilder.build(spark, mkPages(texts), dir,
      IndexConfig(numPartitions = 2, partsPerSegment = 1))
    Deletes.deleteWhere(idx, col("dl") >= 4) // the one 4-token doc
    val hits = new Searcher(idx).topK(TermQ("window"), 10).collect()
    assert(hits.length === 1) // doc 0003 deleted? dl=4 docs: 0002(4),0003(4)
  }
}
