package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum => fsum, size => fsize}

import graft.analysis.Analysis
import graft.index.{CheckIndex, Deletes, IndexBuilder, IndexConfig, InvertedIndex}
import graft.model.{Page, PostingsRow}
import graft.util.{PFor, VarInt}

/** One benchmark run: a full engine lifecycle over a seeded corpus —
  * stage, build (url-sorted and arrival order), open, warm, serve the
  * seeded query stream, then delete, compact, reopen and re-warm — with
  * the measured window spent on the workload's traffic:
  *
  *  - `serve`: one closed-loop client (it waits for each answer) on the
  *    warm url-sorted reader; the updates follow on an idle reader.
  *  - `serve_concurrent`: `nproc` closed-loop clients sharing the warm
  *    reader; during the deletes one client keeps querying the reader
  *    being deleted from, and moves to each new reader after its
  *    compaction.
  *
  * Answers are checked after the window. With `--trace 1` the run also
  * records spans around the calls into each layer and per-request Spark
  * counts, and reports per-layer metrics instead of end-to-end ones. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path)

  val NDocs = 2000
  val DeleteBatch = 8          // urls per deleteByUrl batch
  val DeleteBatches = 8        // batches per refresh cycle
  val Refreshes = 2            // delete + compact + reopen + warm cycles
  val TraceSliceMs = 1000L     // traced run: window slices, tracing on and off

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("out")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Set("serve", "serve_concurrent")(args.workload), s"unknown workload ${args.workload}")
    Files.createDirectories(args.work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // queries and the writer run in separate fair-share pools, so a
      // compaction's stages do not queue every query behind them
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // keep the status store small: it would otherwise retain every
      // execution's plan and blur the warm-heap measurement
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(spark, args, cpus).run()
    catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1) }
    // the result is written and the work directory is discarded by the
    // caller: end the JVM (and every Spark thread) without the slow
    // orderly shutdown
    Runtime.getRuntime.halt(0)
  }
}

final class Run(spark: SparkSession, args: Main.Args, cpus: Int) {
  import Main._
  import spark.implicits._

  private val tr = new Tracer
  private val counts = new GroupCounts
  private val sc = spark.sparkContext
  if (args.trace) { sc.addSparkListener(counts); tr.on = true }

  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[(String, String)] // (what, why)
  private val layer = mutable.LinkedHashMap.empty[String, Double]

  private def drain(): Unit = if (args.trace) org.apache.spark.BenchAccess.drainListenerBus(sc)
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def group[T](g: String)(body: => T): T =
    if (!args.trace) body
    else {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }
  private def op(what: String)(ok: => Option[String]): Unit = {
    attempted += 1
    try ok.foreach(why => failures += what -> why)
    catch { case e: Throwable => failures += what -> s"${e.getClass.getSimpleName}: ${e.getMessage}" }
  }

  private val tRun = System.nanoTime()
  private def phase(name: String): Unit = System.err.println(
    f"[phase] $name at ${secs(tRun)}%.1f s (JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s)")

  def run(): Unit = {
    val corpus = Gen.corpus(args.seed, NDocs)
    val ref = new Ref(corpus)
    val pool = ref.withCursors(Pool.build(args.seed, corpus))
    phase("generated")
    floor()
    phase("floor")
    val setup = setupReps(corpus)
    phase("setup")
    val reader = setup.reader
    buildChecks(ref, setup)
    phase("build checks")

    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    e2e("setup_s") = (Stats.median(setup.setupSec), "s")

    val w = window(pool, reader, ref, clients = if (args.workload == "serve") 1 else cpus)
    phase("window")
    e2e("query_p50_ms") = (Stats.median(w.latMs), "ms")
    e2e("query_p90_ms") = (Stats.pct(w.latMs, 0.90), "ms")
    e2e("warm_heap_mb") = (Stats.median(setup.warmHeapMb), "MB")
    e2e("build_docs_per_s") = (NDocs / setup.arrivalSec, "docs/s")
    e2e("build_sorted_docs_per_s") = (NDocs / setup.sortedSec, "docs/s")
    e2e("index_bytes_per_text_byte") = (setup.indexBytes.toDouble / corpus.textBytes, "ratio")
    // the per-layer probes run on the reader the window used, before any
    // delete or compaction changes its directory
    if (args.trace) { probeLayers(pool, reader, setup, w); phase("probe") }

    val (delMs, refSec) = updates(reader, setup.arrival, pool, ref, inFlight = args.workload == "serve_concurrent")
    phase("updates")
    e2e("delete_p50_ms") = (Stats.median(delMs), "ms")
    e2e("refresh_s") = (Stats.median(refSec), "s")
    if (args.trace) {
      layer("index.Deletes.deleteByUrl_ms") = spanMedian("index.Deletes.deleteByUrl")
      layer("index.Deletes.compact_s") = spanMedian("index.Deletes.compact") / 1000
      layer("index.InvertedIndex.reopen_warm_s") = spanMedian("index.InvertedIndex.reopen_warm") / 1000
    }
    layer("bench.error_rate") = failures.size.toDouble / math.max(1L, attempted)
    layer("host.nproc") = cpus
    layer("host.heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0

    println(s"host: nproc=$cpus heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"jdk=${System.getProperty("java.version")} spark=${spark.version}")
    println(f"queries: ${w.latMs.size} over ${args.seconds} s; deletes: ${delMs.size}; refreshes: ${refSec.size}")
    println(f"spark floor: collect ${layer("spark.floor_collect_ms")}%.1f ms, shuffle ${layer("spark.floor_shuffle_ms")}%.1f ms")
    println(f"error_rate: ${failures.size.toDouble / math.max(1L, attempted)}%.6f (${failures.size} of $attempted operations)")
    failures.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (what, fs) =>
      println(s"  FAILED ${fs.size} x $what: ${fs.head._2.take(300)}")
    }
    e2e.foreach { case (k, (v, u)) => println(f"  $k%-28s $v%14.4f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        println("per-layer (traced run) -> the end-to-end metric it should move:")
        LayerMetrics.all.map { m =>
          val v = layer.getOrElse(m.name, sys.error(s"layer metric ${m.name} not measured"))
          println(f"  ${m.name}%-44s $v%14.4f ${m.unit}%-6s -> ${m.moves}")
          (m.name, v, m.unit)
        }
      }
    if (args.trace) tr.write(args.work.getParent.resolve(s"trace-${args.workload}-${args.seed}.jsonl"))
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${jnum(v)}, "unit": "$u"}""" }.mkString(", ")
    val json = s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$body}}"""
    Files.write(args.out, json.getBytes("UTF-8"))
  }

  private def spanMedian(name: String): Double = {
    val xs = tr.ms(name)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric $v") else v.toString

  // ---- Spark floor ---------------------------------------------------

  private def floor(): Unit = {
    def p50(name: String, n: Int)(f: => Unit): Double = {
      f // first call pays class loading and codegen
      Stats.median((1 to n).map { _ => val t0 = System.nanoTime(); tr.span(name)(f); secs(t0) * 1000 })
    }
    layer("spark.floor_collect_ms") = p50("spark.floor_collect", 4)(spark.range(1).collect())
    layer("spark.floor_shuffle_ms") = p50("spark.floor_shuffle", 4)(
      spark.range(0, 100, 1, 2).groupBy((col("id") % 3).as("g")).count().collect())
  }

  // ---- setup: stage, build both modes, open, warm --------------------

  final class Setup(val reader: Reader, val arrival: InvertedIndex,
                    val setupSec: Seq[Double], val arrivalSec: Double,
                    val sortedSec: Double, val warmHeapMb: Seq[Double],
                    val indexBytes: Long)

  private def config(arrival: Boolean): IndexConfig =
    IndexConfig(numPartitions = 4, partsPerSegment = 1, hotTermDf = 1500,
      numSalts = 4, hotSampleRate = 0.25, inputOrdered = arrival)

  /** Heap in use after a full GC; the second GC runs after Spark's
    * ContextCleaner has had time to drop shuffles and broadcasts whose
    * owners the first one collected. */
  private def usedHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  private def release(r: InvertedIndex): Unit = {
    r.postings.unpersist(blocking = true)
    r.docs.unpersist(blocking = true)
    r.termStats.unpersist(blocking = true)
  }

  private def stage(c: Corpus, dir: String): Unit =
    spark.createDataset(sc.parallelize(c.pages.toSeq, 4)).write.parquet(dir)

  /** Setup, three times: stage the pages, build, open and warm — in
    * url-sorted mode (the reader that serves), in arrival order, and in
    * url-sorted mode again. The first build of the JVM pays class
    * loading and JIT, which a running service has paid long before it
    * rebuilds an index, so the url-sorted throughput comes from the
    * second url-sorted build. The caches of the readers that do not
    * serve are released again. */
  private def setupReps(c: Corpus): Setup = {
    final case class Rep(mode: String, idx: InvertedIndex, setupSec: Double,
                         buildSec: Double, heapMb: Double)
    def once(mode: String, rep: Int): Rep = {
      val staged = args.work.resolve(s"stage-$mode-$rep").toString
      val t0 = System.nanoTime()
      stage(c, staged)
      val stageSec = secs(t0)
      val dir = args.work.resolve(s"idx-$mode-$rep").toString
      def build(): Unit =
        IndexBuilder.build(spark, spark.read.parquet(staged).as[Page], dir, config(mode == "arrival"))
      val tb = System.nanoTime()
      // the traced run counts each mode's Spark work on its first build
      if (rep == 0) group(s"build-$mode")(tr.span(s"index.IndexBuilder.$mode")(build()))
      else build()
      val buildSec = secs(tb)
      val before = usedHeapMb()
      val tw = System.nanoTime()
      val idx = tr.span("index.InvertedIndex.open")(InvertedIndex.open(spark, dir))
      tr.span("index.InvertedIndex.warm")(idx.warm())
      val warmSec = secs(tw)
      val heap = usedHeapMb() - before
      if (mode != "sorted" || rep != 0) release(idx)
      phase(f"setup $mode $rep: stage $stageSec%.2f build $buildSec%.2f warm $warmSec%.2f s")
      Rep(mode, idx, stageSec + buildSec + warmSec, buildSec, heap)
    }
    val reps = Seq("sorted" -> 0, "arrival" -> 0, "sorted" -> 1).map { case (m, r) => once(m, r) }
    val sorted = reps.head.idx
    val d = sorted.dir
    val bytes = dirBytes(Paths.get(d, "postings")) + dirBytes(Paths.get(d, "docs"))
    new Setup(new Reader(sorted), reps(1).idx, reps.map(_.setupSec),
      reps(1).buildSec, reps(2).buildSec, reps.map(_.heapMb), bytes)
  }

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_))
      .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .map(Files.size).sum

  /** CheckIndex on both builds; collection stats and a seeded sample of
    * per-term df against counts derived from the generated text; the
    * two build modes must agree. */
  private def buildChecks(ref: Ref, s: Setup): Unit = {
    val sorted = s.reader.idx
    val rnd = new java.util.Random(args.seed * 7 + 1)
    val sample = ref.oracle.postings.keys.toSeq.sorted
    val terms = Seq.fill(64)(sample(rnd.nextInt(sample.size))).distinct
    for ((mode, idx) <- Seq("sorted" -> sorted, "arrival" -> s.arrival)) {
      op(s"build.$mode.CheckIndex")(CheckIndex.audit(idx).headOption)
      op(s"build.$mode.stats")(
        if (idx.stats.docCount == ref.docCount && idx.stats.sumTotalTermFreq == ref.sumTotalTermFreq) None
        else Some(s"stats ${idx.stats}, want (${ref.docCount}, ${ref.sumTotalTermFreq})"))
      val dfs = idx.termStats.filter(col("term").isin(terms: _*)).select("term", "df")
        .as[(String, Long)].collect().toMap
      terms.foreach { t =>
        op(s"build.$mode.df")(if (dfs.getOrElse(t, 0L) == ref.df(t)) None
          else Some(s"df($t) = ${dfs.getOrElse(t, 0L)}, want ${ref.df(t)}"))
      }
    }
  }

  // ---- measured windows ----------------------------------------------

  final class Window(val latMs: Seq[Double], val tracedMs: Seq[Double],
                     val untracedMs: Seq[Double])

  final case class Timed(id: Long, ans: Either[Throwable, Ans], ms: Double)

  private val reqIds = new AtomicLong()

  /** One request, in its own job group and span when traced. */
  private def timed(req: Req, r: Reader, traced: Boolean): Timed = {
    val id = reqIds.incrementAndGet()
    val t0 = System.nanoTime()
    val ans =
      try Right(
        if (traced) group(s"req-$id")(tr.span(s"search.${req.family}", id)(Pool.exec(req, r)))
        else Pool.exec(req, r))
      catch { case e: Throwable => Left(e) }
    Timed(id, ans, (System.nanoTime() - t0) / 1e6)
  }

  /** After one untimed request per family, `clients` closed-loop
    * clients (each waits for its answer before sending the next
    * request) share one seeded request stream for `--seconds`.
    * In a traced run the window alternates `TraceSliceMs` slices with
    * tracing off (no job groups, no spans, the counting listener
    * removed) and on; a request that crosses a slice boundary counts
    * toward the latency but not toward the tracing overhead. Answers are
    * checked afterwards. */
  private def window(pool: Map[String, IndexedSeq[Req]], reader: Reader, ref: Ref,
                     clients: Int): Window = {
    // a warm searcher has planned and compiled every query shape once:
    // one untimed request per family before the clock starts
    Pool.Families.foreach(f => timed(pool(f).head, reader, traced = false))
    val stream = new Pool.Stream(args.seed, pool)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Req, Timed, Int, Int)]()
    val end = System.nanoTime() + args.seconds * 1000000000L
    val slice = new java.util.concurrent.atomic.AtomicInteger(0) // odd: tracing on
    if (args.trace) sc.removeSparkListener(counts)
    val toggler = new Thread(() => {
      while (System.nanoTime() < end) {
        Thread.sleep(math.max(1L, math.min(TraceSliceMs, (end - System.nanoTime()) / 1000000L)))
        if (slice.get % 2 == 0) { sc.addSparkListener(counts); slice.incrementAndGet() }
        else { slice.incrementAndGet(); sc.removeSparkListener(counts) }
      }
      if (slice.get % 2 == 0) sc.addSparkListener(counts)
    })
    if (args.trace) toggler.start()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        sc.setLocalProperty("spark.scheduler.pool", "queries")
        while (System.nanoTime() < end) {
          val s0 = slice.get
          val req = stream.synchronized(stream.next())
          val t = timed(req, reader, traced = args.trace && s0 % 2 == 1)
          done.add((req, t, s0, slice.get))
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    if (args.trace) toggler.join()
    val ds = done.asScala.toSeq
    // the oracle is read-only: check on every core, count in order
    implicit val ec: ExecutionContext = ExecutionContext.global
    val verdicts = Await.result(Future.traverse(ds) { case (req, t, _, _) =>
      Future(Try(t.ans.fold(e => throw e, a => ref.check(req, a))))
    }, Duration.Inf)
    ds.zip(verdicts).foreach { case ((req, _, _, _), v) => op(s"query.${req.family}")(v.get) }
    phase("answer checks")
    def within(odd: Int) = ds.collect { case (_, t, s0, s1) if s0 == s1 && s0 % 2 == odd => t.ms }
    new Window(ds.map(_._2.ms), within(1), within(0))
  }

  /** The update epilogue: `Refreshes` cycles, each of `DeleteBatches`
    * deleteByUrl batches of seeded urls and then compact, reopen and
    * re-warm, after which the new reader takes over. With `inFlight`,
    * one client keeps querying the current reader while the deletes
    * land — the tombstone read path — and no url acknowledged as
    * deleted before a query was sent may appear in its answer.
    * `Deletes.compact` moves and removes the directories an open reader
    * reads, so no reader is usable across a compaction: the client
    * finishes its request and waits while the writer compacts, reopens
    * and publishes the new reader, then resumes on it.
    * Returns (delete ack ms, refresh s). */
  private def updates(start: Reader, arrival: InvertedIndex, pool: Map[String, IndexedSeq[Req]],
                      ref: Ref, inFlight: Boolean): (Seq[Double], Seq[Double]) = {
    val rnd = new java.util.Random(args.seed * 17 + 5)
    val doomed = rnd.ints(0, ref.url.length).distinct().limit(Refreshes * DeleteBatches * DeleteBatch)
      .toArray.map(ref.url(_)).grouped(DeleteBatch).toSeq.grouped(DeleteBatches).toSeq
    // one untimed cycle on the arrival-order index, which no reader
    // serves: the first delete and compaction of the JVM pay class
    // loading and JIT
    Deletes.deleteByUrl(arrival, doomed.head.head.toSeq)
    Deletes.compact(arrival)
    release(arrival.reopenIfChanged().warm())
    phase("update warm-up")
    val current = new AtomicReference(start)
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String])]()
    def deletedBefore(t: Long): Set[String] = acked.asScala.filter(_._1 < t).flatMap(_._2).toSet
    @volatile var writing = true
    // held by the client for one request, by the writer for a refresh
    val gate = new java.util.concurrent.Semaphore(1, true)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Req, Either[Throwable, Ans], Long)]()
    val client = new Thread(() => {
      sc.setLocalProperty("spark.scheduler.pool", "queries")
      val stream = new Pool.Stream(args.seed + 1, pool)
      while (writing) {
        val req = stream.next()
        gate.acquire()
        try {
          val sent = System.nanoTime()
          if (writing) seen.add((req, timed(req, current.get, traced = false).ans, sent))
        } finally gate.release()
      }
    })
    if (inFlight) client.start()
    val delMs, refSec = mutable.ArrayBuffer.empty[Double]
    doomed.zipWithIndex.foreach { case (cycle, c) =>
      val idx = current.get.idx
      cycle.zipWithIndex.foreach { case (urls, b) =>
        val t0 = System.nanoTime()
        op("delete.deleteByUrl")({
          group(s"delete-$c-$b")(tr.span("index.Deletes.deleteByUrl")(Deletes.deleteByUrl(idx, urls.toSeq)))
          None
        })
        acked.add((System.nanoTime(), urls.toSeq))
        delMs += secs(t0) * 1000
      }
      if (args.trace && c == 0) probeTombstoned(current.get, pool, ref, deletedBefore(System.nanoTime()))
      gate.acquire()
      try {
        val tc = System.nanoTime()
        op("delete.compact")({
          group(s"compact-$c")(tr.span("index.Deletes.compact")(Deletes.compact(idx)))
          val fresh = group(s"reopen-$c")(tr.span("index.InvertedIndex.reopen_warm")(
            idx.reopenIfChanged().warm()))
          current.set(new Reader(fresh))
          None
        })
        refSec += secs(tc)
      } finally gate.release()
    }
    writing = false
    if (inFlight) client.join()
    seen.asScala.foreach { case (req, ans, sent) =>
      op(s"inflight.${req.family}")(ans.fold(e => throw e, { a =>
        val deleted = deletedBefore(sent)
        Pool.urls(a, ref.urlOfDocNum).find(deleted).map(u =>
          s"url $u acknowledged deleted before the query was sent")
      }))
    }
    (delMs.toSeq, refSec.toSeq)
  }

  /** Traced run: the tombstone read path, timed once per run on the
    * first cycle's reader after its deletes and before its compaction —
    * docs-cogroup scoring with the filter cache off, edismax's general
    * plan, the sorted read's widened windows. No deleted url may appear
    * in an answer. */
  private def probeTombstoned(r: Reader, pool: Map[String, IndexedSeq[Req]], ref: Ref,
                              deleted: Set[String]): Unit = {
    val ts = LayerMetrics.TombstoneFamilies.flatMap(f => pool(f).take(2)).map { req =>
      val t = timed(req, r, traced = true)
      op(s"tombstoned.${req.family}")(t.ans.fold(e => throw e, a =>
        Pool.urls(a, ref.urlOfDocNum).find(deleted).map(u => s"url $u was deleted")))
      t
    }
    drain()
    layer("search.tombstoned.p50_ms") = Stats.median(ts.map(_.ms))
    layer("search.tombstoned.jobs") = Stats.median(ts.map(t => counts.jobs(s"req-${t.id}").toDouble))
  }

  // ---- traced run: per-layer metrics ---------------------------------

  private def probeLayers(pool: Map[String, IndexedSeq[Req]], reader: Reader, s: Setup, w: Window): Unit = {
    // every family: its first three pool requests, twice each, traced
    Pool.Families.foreach { f =>
      val reqs = pool(f).take(3)
      val ts = (reqs ++ reqs).map(timed(_, reader, traced = true))
      drain()
      def med(count: String => Double) = Stats.median(ts.map(t => count(s"req-${t.id}")))
      layer(s"search.$f.p50_ms") = Stats.median(ts.map(_.ms))
      layer(s"search.$f.jobs") = med(counts.jobs(_).toDouble)
      layer(s"search.$f.shuffle_bytes") = med(counts.shuffleWrite(_).toDouble)
      layer(s"search.$f.exchanges") = med(counts.exchanges(_).toDouble)
    }
    // driver phases of the scorer path; the merge of stored fields is
    // topK minus scoredHits of the same request
    val scored = Seq("term_hot", "term_rare", "and", "or", "filter", "fuzzy").flatMap(pool(_).take(3))
      .collect { case Scored(_, q, k) => (q, k) }
    val hitsMs, mergeMs = mutable.ArrayBuffer.empty[Double]
    scored.foreach { case (q, k) =>
      tr.span("search.Rewriter.rewrite")(
        graft.search.Rewriter.rewrite(q, new graft.search.IndexTermDict(reader.idx)))
      val t0 = System.nanoTime()
      tr.span("search.Searcher.scoredHits")(reader.searcher.scoredHits(q, k).collect())
      val hits = secs(t0) * 1000
      val t1 = System.nanoTime()
      reader.searcher.topK(q, k).collect()
      hitsMs += hits
      mergeMs += secs(t1) * 1000 - hits
    }
    layer("search.Rewriter.rewrite_ms") = spanMedian("search.Rewriter.rewrite")
    layer("search.Searcher.scoredHits_ms") = Stats.median(hitsMs.toSeq)
    layer("search.Searcher.merge_fields_ms") = math.max(0.0, Stats.median(mergeMs.toSeq))

    layer("index.InvertedIndex.open_ms") = spanMedian("index.InvertedIndex.open")
    layer("index.InvertedIndex.warm_s") = spanMedian("index.InvertedIndex.warm") / 1000
    layer("index.cached_storage_mb") =
      sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

    // build stages: each mode's manifest metrics and Spark counts
    drain()
    for (mode <- Seq("arrival", "sorted")) {
      val m = graft.util.Json.obj(graft.util.Json.parse(new String(Files.readAllBytes(
        args.work.resolve(s"idx-$mode-0").resolve("manifest.json")))))
      val stages = graft.util.Json.obj(m("metrics"))
      LayerMetrics.BuildStages.foreach { st =>
        layer(s"index.IndexBuilder.$mode.${st}_s") =
          stages.get(st).map(v => graft.util.Json.double(v)).getOrElse(0.0)
      }
      layer(s"index.IndexBuilder.$mode.jobs") = counts.jobs(s"build-$mode")
      layer(s"index.IndexBuilder.$mode.shuffle_write_bytes") = counts.shuffleWrite(s"build-$mode").toDouble
      layer(s"index.IndexBuilder.$mode.spill_bytes") = counts.spill(s"build-$mode").toDouble
    }
    val d = s.reader.idx.dir
    layer("index.postings_bytes") = dirBytes(Paths.get(d, "postings")).toDouble
    layer("index.docs_bytes") = dirBytes(Paths.get(d, "docs")).toDouble
    val pr = spark.read.parquet(s"$d/postings")
    layer("index.postings_rows") = pr.count().toDouble
    layer("index.blocks") = pr.select(fsum(fsize(col("blocks")))).head().getLong(0).toDouble

    // analysis: one thread over a fixed text sample
    val texts = spark.read.parquet(s"$d/docs").select("text").as[String].limit(2000).collect()
    var toks = 0L
    val ta = System.nanoTime()
    while (secs(ta) < 0.5) texts.foreach(t => toks += Analysis.analyze(t).length)
    layer("analysis.Analysis.analyze.tokens_per_s") = toks / secs(ta)

    // codec: PFor + varint over blocks sampled from the built index
    val blocks = spark.read.parquet(s"$d/postings").as[PostingsRow]
      .orderBy(col("df").desc).limit(64).collect().flatMap(_.blocks)
    val decoded = blocks.map { b =>
      val tfs = PFor.decodeInts(b.tfs, b.count)
      (PFor.decodeDeltas(b.docs, b.count, b.firstDocId), tfs, VarInt.decodePositions(b.positions, tfs))
    }
    val mb = blocks.map(b => b.docs.length + b.tfs.length + b.positions.length).sum / 1048576.0
    def rate(f: => Unit): Double = {
      var n = 0; val t0 = System.nanoTime()
      while (secs(t0) < 0.4) { f; n += 1 }
      n * mb / secs(t0)
    }
    layer("util.Codec.encode_mb_per_s") = rate(decoded.foreach { case (ds, tfs, ps) =>
      PFor.encodeDeltas(ds, ds(0)); PFor.encodeInts(tfs); VarInt.encodePositions(ps) })
    layer("util.Codec.decode_mb_per_s") = rate(blocks.foreach { b =>
      val tfs = PFor.decodeInts(b.tfs, b.count)
      PFor.decodeDeltas(b.docs, b.count, b.firstDocId); VarInt.decodePositions(b.positions, tfs) })

    layer("bench.trace_overhead_frac") =
      if (w.tracedMs.isEmpty || w.untracedMs.isEmpty) 1.0
      else Stats.median(w.tracedMs) / Stats.median(w.untracedMs)
  }
}
