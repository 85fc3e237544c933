package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed span: name, start/end (ns, monotonic), the span that
  * caused it (-1 = root) and the request it belongs to (-1 = none). */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, req: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call of its
  * body; enabled, it records one Span per call (parent = the enclosing
  * span on the same thread) and the spans are written when the run
  * ends. Spans wrap calls into the engine's public API from the
  * benchmark's side only. */
final class Tracer {
  @volatile var on: Boolean = false
  private val ids = new AtomicInteger()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val r = if (req >= 0) req else outer.headOption.map(_._2).getOrElse(-1L)
      stack.set((id, r) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(),
          outer.headOption.map(_._1).getOrElse(-1), r))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Durations (ms) of every span with this name. */
  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},"parent":${s.parent},"req":${s.req}}\n"""
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Per-job-group Spark counts: jobs, shuffle write bytes, spill bytes,
  * and Exchange nodes in each SQL execution's final physical plan.
  * Registered by the benchmark on its own session; requests are told
  * apart by the job group the benchmark sets around each one. */
final class GroupCounts extends SparkListener {
  final class Acc {
    val jobs = new AtomicInteger()
    val shuffleWrite = new AtomicLong()
    val spill = new AtomicLong()
  }
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execPlan = new ConcurrentHashMap[Long, SparkPlanInfo]()

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      acc(grp).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageGroup.put(s, grp))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val grp = stageGroup.get(e.stageId)
    if (grp != null && e.taskMetrics != null) {
      val a = acc(grp)
      a.shuffleWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(e.taskMetrics.memoryBytesSpilled + e.taskMetrics.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      execPlan.putIfAbsent(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execPlan.put(u.executionId, u.sparkPlanInfo)
    case _ => ()
  }

  def jobs(g: String): Int = Option(groups.get(g)).map(_.jobs.get).getOrElse(0)
  def shuffleWrite(g: String): Long = Option(groups.get(g)).map(_.shuffleWrite.get).getOrElse(0L)
  def spill(g: String): Long = Option(groups.get(g)).map(_.spill.get).getOrElse(0L)

  /** Shuffle Exchange nodes over the final plans of the group's SQL
    * executions; the plans of cached relations are not descended into
    * (they ran once, at warm time). */
  def exchanges(g: String): Int =
    execGroup.asScala.iterator.filter(_._2 == g)
      .map { case (id, _) => Option(execPlan.get(id)).map(GroupCounts.exchanges).getOrElse(0) }
      .sum
}

object GroupCounts {
  def exchanges(p: SparkPlanInfo): Int =
    if (p.nodeName.startsWith("InMemoryTableScan")) 0
    else (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(exchanges).sum
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** A per-layer metric: name, unit, better-direction, and the
  * end-to-end metric (and workload) it should move. */
final case class LayerMetric(name: String, unit: String, better: String, moves: String)

object LayerMetrics {
  /** Families whose plan changes while deletes are pending. */
  val TombstoneFamilies: Seq[String] = Seq("term_hot", "and", "filter", "edismax", "sorted_early")
  val BuildStages: Seq[String] = Seq("bounds", "counts", "docs", "hotsample",
    "postings", "termstats", "stats", "lineage", "segments")

  private def heavy(f: String): String =
    if (Set("fuzzy", "edismax", "spannear", "intervals")(f)) "query_p90_ms on serve and serve_concurrent"
    else "query_p50_ms on serve and serve_concurrent"

  val all: Seq[LayerMetric] = Seq(
    LayerMetric("spark.floor_collect_ms", "ms", "lower", "floor under query_p50_ms on serve"),
    LayerMetric("spark.floor_shuffle_ms", "ms", "lower", "floor under query_p50_ms on serve")
  ) ++ Pool.Families.flatMap { f =>
    Seq(LayerMetric(s"search.$f.p50_ms", "ms", "lower", heavy(f)),
      LayerMetric(s"search.$f.jobs", "count", "lower", heavy(f)),
      LayerMetric(s"search.$f.shuffle_bytes", "bytes", "lower", heavy(f)),
      LayerMetric(s"search.$f.exchanges", "count", "lower", heavy(f)))
  } ++ Seq(
    LayerMetric("search.Rewriter.rewrite_ms", "ms", "lower", "query_p50_ms on serve"),
    LayerMetric("search.Searcher.scoredHits_ms", "ms", "lower", "query_p50_ms on serve"),
    LayerMetric("search.Searcher.merge_fields_ms", "ms", "lower", "query_p50_ms on serve"),
    LayerMetric("index.InvertedIndex.open_ms", "ms", "lower", "setup_s on serve"),
    LayerMetric("index.InvertedIndex.warm_s", "s", "lower", "setup_s and warm_heap_mb; refresh_s"),
    LayerMetric("index.cached_storage_mb", "MB", "lower", "warm_heap_mb on serve"),
    LayerMetric("search.tombstoned.p50_ms", "ms", "lower",
      "read path between delete_p50_ms and refresh_s (the in-flight client of serve_concurrent)"),
    LayerMetric("search.tombstoned.jobs", "count", "lower",
      "read path between delete_p50_ms and refresh_s (the in-flight client of serve_concurrent)"),
    LayerMetric("index.Deletes.deleteByUrl_ms", "ms", "lower", "delete_p50_ms"),
    LayerMetric("index.Deletes.compact_s", "s", "lower", "refresh_s"),
    LayerMetric("index.InvertedIndex.reopen_warm_s", "s", "lower", "refresh_s")
  ) ++ Seq("arrival", "sorted").flatMap { m =>
    val e2e = if (m == "arrival") "build_docs_per_s" else "build_sorted_docs_per_s and setup_s"
    BuildStages.map(s => LayerMetric(s"index.IndexBuilder.$m.${s}_s", "s", "lower", e2e)) ++
      Seq(LayerMetric(s"index.IndexBuilder.$m.jobs", "count", "lower", e2e),
        LayerMetric(s"index.IndexBuilder.$m.shuffle_write_bytes", "bytes", "lower", e2e),
        LayerMetric(s"index.IndexBuilder.$m.spill_bytes", "bytes", "lower", e2e))
  } ++ Seq(
    LayerMetric("index.postings_bytes", "bytes", "lower", "index_bytes_per_text_byte"),
    LayerMetric("index.docs_bytes", "bytes", "lower", "index_bytes_per_text_byte"),
    LayerMetric("index.postings_rows", "count", "lower", "index_bytes_per_text_byte"),
    LayerMetric("index.blocks", "count", "lower", "index_bytes_per_text_byte"),
    LayerMetric("analysis.Analysis.analyze.tokens_per_s", "1/s", "higher", "build_docs_per_s"),
    LayerMetric("util.Codec.encode_mb_per_s", "MB/s", "higher", "build_docs_per_s; search.term_hot.p50_ms on serve"),
    LayerMetric("util.Codec.decode_mb_per_s", "MB/s", "higher", "build_docs_per_s; search.term_hot.p50_ms on serve"),
    LayerMetric("bench.trace_overhead_frac", "ratio", "lower", "traced p50 over untraced p50 (listener off), alternating slices of one window"),
    LayerMetric("bench.error_rate", "fraction", "lower", "failed or wrong operations over attempted"),
    LayerMetric("host.nproc", "count", "higher", "host fact"),
    LayerMetric("host.heap_mb", "MB", "higher", "host fact"))
}
