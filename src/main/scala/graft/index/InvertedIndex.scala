package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.{DocRow, PostingsRow}
import graft.search.Bm25Stats
import graft.util.Json

/** A queryable view of an index: the contract the search paths
  * (Searcher, RelationalPath, IndexTermDict, CheckIndex) depend on —
  * satisfied by a single committed directory (InvertedIndex) or a union
  * of streamed generations (GenerationalIndex). */
trait IndexView {
  def spark: SparkSession
  def stats: Bm25Stats
  def postings: Dataset[PostingsRow]
  /** The postings rows of `terms` — the seam every per-query postings
    * reader goes through, so a warm reader can serve them from memory. */
  def postingsOf(terms: Seq[String]): Dataset[PostingsRow] =
    postings.filter(org.apache.spark.sql.functions.col("term").isin(terms.distinct: _*))
  def docs: Dataset[DocRow]
  def termStats: DataFrame
  /** Document frequencies of `terms`; a term absent from the dictionary
    * is absent from the map. The one term → df lookup of the query
    * paths: a bounded termStats collect here. */
  def termDfs(terms: Seq[String]): Map[String, Long] =
    if (terms.isEmpty) Map.empty
    else termStats.filter(org.apache.spark.sql.functions.col("term").isin(terms.distinct: _*))
      .select("term", "df").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  /** Tombstoned docIds (live-docs complement); default: none. */
  def hasDeletes: Boolean = false
  def tombstones: Dataset[java.lang.Long] =
    spark.emptyDataset(org.apache.spark.sql.Encoders.LONG)
}

/** Read handle over a committed index directory (manifest.json present).
  * The IndexSearcher-side analogue of a Lucene `DirectoryReader` over a
  * `segments_N` commit point [U lucene/core/.../index/SegmentInfos.java,
  * DirectoryReader]. Warmed (`warm()`), it keeps each segment resident,
  * postings and doc columns together, and a query without pending
  * deletes, attribute filters included, reads them in one job. */
final class InvertedIndex(val spark: SparkSession, val dir: String) extends IndexView {
  import spark.implicits._

  /** The manifest this reader opened at. */
  private val manifest = InvertedIndex.readManifest(dir)

  /** Collection stats from the manifest — no job needed at query time. */
  val stats: Bm25Stats = Bm25Stats(Json.long(manifest("docCount")),
    Json.long(manifest("sumTotalTermFreq")))

  /** Generation this reader opened at. */
  val generation: Long = InvertedIndex.generationOf(manifest)

  /** Directory of this reader's generation's tables: what `warm()` pins. */
  val tablesDir: String = InvertedIndex.tablesDir(dir, manifest)

  /** Directory of the on-disk generation's tables. Uncached reads go
    * there: a compaction deletes the previous generation's tables once
    * its manifest is committed, so an open reader follows it. */
  private def diskTables: String = InvertedIndex.tablesDir(dir, InvertedIndex.readManifest(dir))

  @volatile private var cached: Option[InvertedIndex.Warm] = None

  /** The whole postings table, always read from parquet: warm serving
    * reads postings through `postingsOf` and the resident segments. */
  def postings: Dataset[PostingsRow] =
    InvertedIndex.read(spark, diskTables, "postings").as[PostingsRow]

  /** The warm reader's resident segments: one cached partition per
    * segment, holding its postings and its doc columns. */
  def resident: Option[ResidentSegments] = cached.map(_.segments)

  /** A warm reader reads `terms`' rows from its resident segments: one
    * narrow pass over the cached partitions, no parquet scan. */
  override def postingsOf(terms: Seq[String]): Dataset[PostingsRow] =
    resident match {
      case Some(segs) =>
        val ts = terms.distinct
        spark.createDataset(segs.persisted.mapPartitions(_.flatMap(_.postings.rows(ts))))
      case None => super.postingsOf(terms)
    }

  /** DocRow columns of the docs table (the stored `text` field is
    * explicitly pruned — readers that want it use `storedFields`). */
  private def docRowCols(df: DataFrame): Dataset[DocRow] =
    df.select("segId", "docId", "url", "lang", "dl", "norm", "dlq", "ts")
      .as[DocRow]

  def docs: Dataset[DocRow] = cached.map(_.docs)
    .getOrElse(docRowCols(InvertedIndex.read(spark, diskTables, "docs")))

  /** Stored fields (docId, url, text) — the .fdt analogue; the text
    * column lives in the docs parquet but is column-pruned away from
    * every scoring path. */
  def storedFields: DataFrame =
    InvertedIndex.read(spark, diskTables, "docs").select("docId", "url", "text")

  def termStats: DataFrame = cached.map(_.termStats)
    .getOrElse(InvertedIndex.read(spark, diskTables, "termstats"))

  def lineage: DataFrame = InvertedIndex.read(spark, dir, "lineage")

  /** Current on-disk generation (one tiny driver file read) — drifts
    * past `generation` when `Deletes.compact` commits a new generation
    * under this open reader. */
  def diskGeneration: Long = InvertedIndex.generationOf(InvertedIndex.readManifest(dir))

  /** Fresh reader if the directory moved to a new generation
    * (DirectoryReader.openIfChanged). */
  def reopenIfChanged(): InvertedIndex =
    if (diskGeneration != generation) new InvertedIndex(spark, dir) else this

  /** Per-segment docId ranges (driver-side, O(numSegments), from the
    * manifest — no job) — the SegmentInfos the early-terminating sorted
    * read plans against. Read from the ON-DISK manifest: a compaction
    * under a live reader must NOT leave the dense-prefix consumers
    * (MatchAll docId-cutoff, early-terminating sorted reads) planning
    * against pre-compaction ranges — they would silently drop the live
    * docs that now sit past the stale dense window. The refreshed table
    * shows the sparse post-compaction ranges, so those consumers fall
    * back to the full scan. */
  def segments: Array[graft.model.SegmentInfo] =
    InvertedIndex.segmentsOf(InvertedIndex.readManifest(dir))

  /** Whether every segment's docIds form a gap-free range — the
    * precondition for dense-prefix reads (MatchAll docId-cutoff,
    * early-terminating sorted top-k). False after a compaction has
    * punched holes into the docId space. */
  def segmentsDense: Boolean =
    segments.forall(s => s.nDocs == s.maxDocId - s.minDocId + 1)

  override def hasDeletes: Boolean = Deletes.hasTombstones(dir)
  override def tombstones: Dataset[java.lang.Long] = Deletes.tombstones(spark, dir)

  /** Driver-side term dictionary cache for serving mode: loaded once
    * when the dictionary is small enough (it is on test corpora; a
    * web-scale deployment keeps the hot slice). Saves one Spark job per
    * query (the stats lookup). */
  @volatile private var statsMap: Option[Map[String, Long]] = None
  @volatile private var statsOverCap: Boolean = false
  def termDfMap(): Option[Map[String, Long]] = {
    // memoize the over-cap outcome too — without it every eligibility
    // probe on a big index re-collects CacheCap+1 dictionary rows
    if (statsMap.isEmpty && !statsOverCap) {
      val rows = termStats.select("term", "df").limit(InvertedIndex.CacheCap + 1).collect()
      if (rows.length <= InvertedIndex.CacheCap)
        statsMap = Some(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
      else statsOverCap = true
    }
    statsMap
  }

  /** Served from the driver dictionary when `termDfMap` has loaded it
    * (no job), else the bounded termStats collect. Never loads it: the
    * serving paths (`Searcher`, edismax) call `termDfMap()` first. */
  override def termDfs(terms: Seq[String]): Map[String, Long] =
    statsMap match {
      case Some(m) => terms.flatMap(t => m.get(t).map(t -> _)).toMap
      case None => super.termDfs(terms)
    }

  /** The loaded `termDfMap` dictionary in Spark's string order (code
    * point order) — never triggers a job, so multi-term rewrites expand
    * on the driver only once serving has loaded the dictionary. */
  @volatile private var sortedTerms: Option[Array[String]] = None
  def sortedTermsIfLoaded: Option[Array[String]] = {
    if (sortedTerms.isEmpty)
      statsMap.foreach(m => sortedTerms = Some(m.keys.toArray.sorted(InvertedIndex.CodePointOrder)))
    sortedTerms
  }

  /** Driver-side stored-fields cache for serving mode: docId → url,
    * loaded on demand when the docs table is small enough. Saves the
    * GET_FIELDS job per query, and every serving path (Searcher, the
    * edismax kernel, the position-verified doc lists) maps its winning
    * docIds to urls and doc_ids through it on the driver (a web-scale
    * deployment fronts this with a key-value store or keeps the hot
    * slice). */
  @volatile private var urlsMap: Option[Map[Long, String]] = None
  def urlMap(): Option[Map[Long, String]] = {
    if (urlsMap.isEmpty && stats.docCount <= InvertedIndex.CacheCap)
      urlsMap = Some(urlsOf(docs))
    urlsMap
  }

  /** The url cache if warm() loaded it — never triggers a job. */
  def urlMapIfLoaded: Option[Map[Long, String]] = urlsMap

  private def urlsOf(d: Dataset[DocRow]): Map[Long, String] =
    d.select("docId", "url").as[(Long, String)].collect().toMap

  /** Materializes the cached docs table `d` and, under the url cache's
    * doc cap, loads the url cache from the same scan. */
  private def loadUrlMap(d: Dataset[DocRow]): Unit =
    if (stats.docCount > InvertedIndex.CacheCap) d.count() else urlsMap = Some(urlsOf(d))

  /** Pin the segment tables in executor memory and materialize them —
    * the analogue of a warm MMapDirectory in the reference's "warm
    * searcher" serving mode. Each segment becomes one resident partition
    * (`ResidentSegments`) holding its postings as a flat layout
    * (SegmentPostings) and its doc columns (SegmentDocs), which also
    * answer attribute filters: a warm query evaluates its predicates on
    * each segment's own doc columns, the per-segment filter bits of the
    * reference. Docs and the term dictionary also stay cached Datasets,
    * and the url cache (`urlMap`) loads from the same docs scan. Norms
    * need no load of their own: every posting carries its doc's norm
    * byte, and the scorers read it there.
    *
    * The persisted segments RDD is the only copy of the segments and the
    * only way to rebuild one. A warm query's resident job runs over a
    * lineage-free view of its cached blocks (`ResidentSegments.run`), so
    * it ships only its own function, never the parquet scans that built
    * the segments; a job that finds a block missing reruns once over the
    * persisted RDD, which recomputes the lost segment from parquet and
    * caches it again, and counts a rebuild.
    *
    * The tables are this reader's generation's (`tablesDir`): each
    * generation has a directory of its own, so Spark's cache, which
    * matches a plan by its paths, never hands one generation's cached
    * tables to another's reader. Opt-in: at full corpus scale you warm
    * only the hot working set, so nothing in the query path REQUIRES
    * this. */
  def warm(): InvertedIndex = {
    if (cached.isEmpty) {
      val segIds = InvertedIndex.segmentsOf(manifest).map(_.segId).toSeq
      val segments = ResidentSegments.build(spark, tablesDir, segIds)
      val docs = docRowCols(InvertedIndex.read(spark, tablesDir, "docs")).persist()
      val termStats = InvertedIndex.read(spark, tablesDir, "termstats").persist()
      // each materialization is a few small tasks, bound by scheduling
      // latency rather than cores: run them side by side
      InvertedIndex.inParallel(() => segments.count(), () => termStats.count(),
        () => loadUrlMap(docs))
      cached = Some(InvertedIndex.Warm(new ResidentSegments(segments), docs, termStats))
    }
    this
  }

  /** Releases what `warm()` and serving loaded: unpersists the resident
    * segments and the cached docs and termstats, and drops the driver url
    * and dictionary caches. The reader then answers cold. A resident job
    * that finds its blocks gone under it, a filter query's too, reruns
    * over the unpersisted segments RDD, from parquet, so a query running
    * across `close()` still answers; e.g. close a reader once a refresh
    * has published the one that replaces it. Spark caches a Dataset by
    * its plan, so another warm reader of the same generation shares the
    * docs and termstats cache entries and loses them too. */
  def close(): Unit = {
    cached.foreach { w =>
      w.segments.persisted.unpersist(blocking = false)
      w.docs.unpersist(); w.termStats.unpersist()
    }
    cached = None
    urlsMap = None
    statsMap = None; statsOverCap = false; sortedTerms = None
  }
}

object InvertedIndex {
  import org.apache.spark.sql.types._

  /** What `warm()` pinned: the resident segments, one partition per
    * segment, and the cached docs and termstats tables. */
  private final case class Warm(segments: ResidentSegments,
                                docs: Dataset[DocRow], termStats: DataFrame)

  /** Size cap of every driver-side serving cache: the term dictionary
    * (`termDfMap`, in terms) and the url map (in docs). An index past it
    * answers without the cache. */
  val CacheCap: Int = 1 << 20

  /** Schema of the postings parquet: PostingsRow's, as written. */
  val PostingsSchema: StructType = org.apache.spark.sql.Encoders.product[PostingsRow].schema

  /** The schemas of an index's tables, as written. A read that passes
    * its schema runs no footer job. */
  val Schemas: Map[String, StructType] = Map(
    "postings" -> PostingsSchema,
    "docs" -> org.apache.spark.sql.Encoders.product[graft.model.StagedDoc].schema,
    "termstats" -> StructType(Seq(StructField("term", StringType), StructField("df", LongType),
      StructField("ttf", LongType), StructField("tlen", IntegerType), StructField("cmask", LongType))),
    "lineage" -> org.apache.spark.sql.Encoders.product[graft.model.LineageRow].schema,
    "tombstones" -> StructType(Seq(StructField("docId", LongType))))

  /** Table `name` under `tables`, read with its known schema. */
  def read(spark: SparkSession, tables: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(s"$tables/$name")

  /** The committed manifest of `dir`, parsed. */
  def readManifest(dir: String): Map[String, Any] = Json.obj(Json.parse(
    new String(Files.readAllBytes(Paths.get(dir, "manifest.json")))))

  def generationOf(m: Map[String, Any]): Long =
    m.get("generation").map(Json.long).getOrElse(1L)

  /** The manifest's table directory: `tables` names a subdirectory of
    * `dir` for a compacted generation; a fresh build keeps its tables in
    * `dir` itself. */
  def tablesDir(dir: String, m: Map[String, Any]): String =
    m.get("tables").map(t => s"$dir/$t").getOrElse(dir)

  /** The manifest's per-segment docId ranges, by segId. */
  def segmentsOf(m: Map[String, Any]): Array[graft.model.SegmentInfo] =
    Json.arr(m("segments")).map { v =>
      val s = Json.obj(v)
      graft.model.SegmentInfo(Json.long(s("segId")).toInt,
        Json.long(s("nDocs")), Json.long(s("minDocId")),
        Json.long(s("maxDocId")))
    }.toArray.sortBy(_.segId)

  /** Runs `tasks` on threads of their own and waits for all of them;
    * the threads inherit the caller's Spark job group and pool. */
  private[index] def inParallel(tasks: (() => Any)*): Unit = {
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = tasks.map(f => new Thread(() =>
      try f() catch { case e: Throwable => failed.compareAndSet(null, e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failed.get).foreach(e => throw e)
  }

  /** Code point order — the order of UTF-8 bytes, which is how Spark
    * sorts strings (String.compareTo orders UTF-16 units instead). */
  val CodePointOrder: Ordering[String] = (a: String, b: String) => {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) Integer.compare(a.length, b.length)
    else Integer.compare(a.codePointAt(i), b.codePointAt(i))
  }

  /** The terms of `sorted` (in code point order) that start with `p`:
    * one contiguous run, found by binary search. */
  def withPrefix(sorted: Array[String], p: String): Iterator[String] = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (CodePointOrder.lt(sorted(mid), p)) lo = mid + 1 else hi = mid
    }
    Iterator.range(lo, sorted.length).map(sorted(_)).takeWhile(_.startsWith(p))
  }

  def open(spark: SparkSession, dir: String): InvertedIndex = {
    require(Files.exists(Paths.get(dir, "manifest.json")),
      s"no committed index at $dir (manifest.json missing)")
    new InvertedIndex(spark, dir)
  }
}
