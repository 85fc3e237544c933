package graft.index

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._

import graft.model.{PostingsRow, SegmentInfo}
import graft.search.Bm25Stats
import graft.util.{Json, PFor, VarInt}

/** Delete-by-term / delete-by-key tombstones + compaction — the
  * analogue of the reference's live-docs bitsets and merge-time
  * reclamation [U lucene/core/.../index/PendingDeletes.java, the `.liv`
  * files, IndexWriter#deleteDocuments; SURVEY.md §2.3].
  *
  * Layout: `<dir>/tombstones/` holds one parquet file per delete batch,
  * `part-<uuid>.parquet`, in the table's schema (`optional int64
  * docId`). The driver writes each file under a hidden name and renames
  * it into place, so a listed part file is always complete; there is no
  * `_SUCCESS` marker. A batch that matches no doc writes nothing.
  *
  * Write: `deleteByUrl` on a warm reader resolves its urls on the driver,
  * from the url cache, and runs no Spark job — as the reference resolves
  * a unique-key term without distributed work. Otherwise, and for
  * `deleteWhere`/`expire`, one job collects the matching docIds.
  *
  * Visibility: once a delete call returns, every reader of the
  * directory, warm or cold, sees it — `hasDeletes` lists the directory
  * on each query and the tombstones are read with the table schema.
  * Queries subtract them INSIDE the per-segment scorer (so a deleted doc
  * never occupies a top-k slot) and the relational path anti-joins them.
  *
  * `compact` rewrites postings/docs without the deleted docs into a new
  * generation (docIds stay stable, as in a Lucene merge without
  * renumbering). It applies and then deletes exactly the part files it
  * listed at its start: a batch that lands while it runs stays pending,
  * and applies to the new generation because docIds are stable. */
object Deletes {

  def tombstonePath(dir: String): String = s"$dir/tombstones"

  /** Whether the tombstones directory holds a published part file (one
    * driver listing). */
  def hasTombstones(dir: String): Boolean = tombstoneFiles(dir).nonEmpty

  /** The published part files: Spark's reader skips names that start
    * with `.` or `_`, so a batch still being written is never listed. */
  private def tombstoneFiles(dir: String): Seq[Path] = {
    val d = Paths.get(tombstonePath(dir))
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val files = Files.list(d)
      try files.iterator.asScala.filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toVector
      finally files.close()
    }
  }

  /** An upper bound on the pending tombstoned docs, from the part files'
    * footers, read on the driver with no Spark job: their row counts
    * summed, so a doc deleted in two batches counts twice. */
  def pendingRows(idx: InvertedIndex): Long =
    tombstoneFiles(idx.dir).map(f => readPart(idx, f)(_.getRecordCount)).sum

  /** Current tombstoned docIds (empty if none). */
  def tombstones(spark: SparkSession, dir: String): Dataset[java.lang.Long] = {
    import spark.implicits._
    if (!hasTombstones(dir)) spark.emptyDataset[java.lang.Long]
    else InvertedIndex.read(spark, dir, "tombstones").select("docId").as[java.lang.Long]
  }

  /** Tombstone docs by unique key (url) — the reference's
    * deleteDocuments(term on the uniqueKey field). A warm reader finds
    * the docIds in its url cache: every doc whose url is in the batch,
    * with no Spark job. */
  def deleteByUrl(idx: InvertedIndex, urls: Seq[String]): Unit =
    writeTombstones(idx, idx.urlMapIfLoaded match {
      case Some(byDocId) =>
        val doomed = urls.toSet
        byDocId.iterator.collect { case (d, u) if doomed(u) => d }.toArray
      case None => docIdsWhere(idx, col("url").isin(urls: _*))
    })

  /** Tombstone every doc matching an arbitrary docs-table predicate
    * (delete-by-query): one job collects the docIds. */
  def deleteWhere(idx: InvertedIndex, pred: Column): Unit =
    writeTombstones(idx, docIdsWhere(idx, pred))

  /** TTL expiration: tombstone every doc with warc_ts older than the
    * cutoff — the DocExpirationUpdateProcessor analogue
    * [U solr/core/.../update/processor/DocExpirationUpdateProcessorFactory].
    * Pair with `compact` to reclaim. */
  def expire(idx: InvertedIndex, olderThan: java.sql.Timestamp): Unit =
    deleteWhere(idx, col("ts") < olderThan)

  private def docIdsWhere(idx: InvertedIndex, pred: Column): Array[Long] = {
    import idx.spark.implicits._
    idx.docs.filter(pred).select("docId").as[Long].collect()
  }

  private lazy val TombstoneType: MessageType =
    new SparkToParquetSchemaConverter().convert(InvertedIndex.Schemas("tombstones"))

  /** Publishes `docIds` as one tombstone part file, written on the
    * driver under a hidden name and then renamed into place. Writes
    * nothing for an empty batch, so a delete that matches no doc
    * leaves the index without pending deletes. */
  private def writeTombstones(idx: InvertedIndex, docIds: Array[Long]): Unit =
    if (docIds.nonEmpty) {
      val conf = idx.spark.sparkContext.hadoopConfiguration
      val name = s"part-${UUID.randomUUID()}.parquet"
      val tmp = new HadoopPath(tombstonePath(idx.dir), s".$name.tmp")
      val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(TombstoneType).build()
      try {
        val rows = new SimpleGroupFactory(TombstoneType)
        docIds.foreach(d => out.write(rows.newGroup().append("docId", d)))
      } finally out.close()
      val published = new HadoopPath(tombstonePath(idx.dir), name)
      if (!tmp.getFileSystem(conf).rename(tmp, published))
        throw new java.io.IOException(s"could not publish tombstones $published")
    }

  /** Opens a published part file with parquet-hadoop's reader on the
    * driver — the counterpart of `writeTombstones`. */
  private def readPart[T](idx: InvertedIndex, f: Path)(read: ParquetFileReader => T): T = {
    val in = HadoopInputFile.fromPath(new HadoopPath(f.toUri),
      idx.spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try read(r) finally r.close()
  }

  /** The docIds the part files `files` hold, read on the driver. */
  private def readDocIds(idx: InvertedIndex, files: Seq[Path]): Array[Long] = {
    val out = mutable.ArrayBuilder.make[Long]
    files.foreach(f => readPart(idx, f) { r =>
      val schema = r.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(schema)
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rows = io.getRecordReader(pages, new GroupRecordConverter(schema))
        var n = pages.getRowCount
        while (n > 0) {
          val g = rows.read()
          if (g.getFieldRepetitionCount("docId") > 0) out += g.getLong("docId", 0)
          n -= 1
        }
        pages = r.readNextRowGroup()
      }
    })
    out.result()
  }

  /** Rewrite the index without its tombstoned docs as the next
    * generation — a merge-policy compaction in one pass:
    *  - the part files published when it starts are listed once; the
    *    driver reads their docIds, with no Spark job, into a sorted
    *    `Array[Long]` and broadcasts it: driver and executor memory is
    *    bounded by 8 bytes per pending delete;
    *  - one docs aggregate grouped by segId (count, Σdl, min and max
    *    docId) gives the new collection stats, the segments table and
    *    the manifest's segment ranges;
    *  - postings: ONE narrow pass over the postings rows, no shuffle (a
    *    row is already one (segId, term, salt) key in docId order):
    *    each row drops its deleted docIds and re-blocks the survivors
    *    under the new stats (`postingsWithout`); emptied rows vanish;
    *  - docs: a narrow filter; termstats regrouped from the new postings.
    * The tables go to `tables-<generation>`, a directory of the new
    * generation's own that the manifest names, so no cached plan of an
    * older reader ever matches them. The manifest commit publishes the
    * generation; then the previous generation's tables and the applied
    * part files are deleted, under any reader still reading them. A
    * batch published after the listing stays pending. */
  def compact(idx: InvertedIndex): InvertedIndex = {
    val spark = idx.spark
    import spark.implicits._
    val dir = idx.dir
    val applied = tombstoneFiles(dir)
    if (applied.isEmpty) return idx

    val manifest = InvertedIndex.readManifest(dir)
    val from = InvertedIndex.tablesDir(dir, manifest)
    val gen = InvertedIndex.generationOf(manifest) + 1
    val tables = s"tables-$gen"
    val to = s"$dir/$tables"

    val dead = readDocIds(idx, applied)
    java.util.Arrays.sort(dead)
    val bcDead = spark.sparkContext.broadcast(dead)
    val live = udf((d: Long) => java.util.Arrays.binarySearch(bcDead.value, d) < 0)

    // raw parquet (not idx.docs): the stored text column must survive
    // compaction with the rest of the row
    val docs = InvertedIndex.read(spark, from, "docs").filter(live(col("docId")))
    val segs = docs.groupBy("segId")
      .agg(count(lit(1)), sum("dl").cast("long"), min("docId"), max("docId"))
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    // segments metadata MUST track the compacted docs: min/max stay
    // correct but docIds are now SPARSE inside them, and the dense-
    // prefix consumers (MatchAll docId-cutoff, early-terminating sorted
    // reads) decide from nDocs == max-min+1 whether a segment is dense
    val segInfos = segs.map { case (s, n, _, lo, hi) => SegmentInfo(s, n, lo, hi) }
    val bm = Bm25Stats(segs.map(_._2).sum, segs.map(_._3).sum)
    val blockSize = manifest.get("config")
      .map(c => Json.long(Json.obj(c)("blockSize")).toInt).getOrElse(128)

    InvertedIndex.inParallel(
      () => {
        postingsWithout(InvertedIndex.read(spark, from, "postings").as[PostingsRow],
          bcDead, bm, blockSize).write.mode("overwrite").parquet(s"$to/postings")
        // term stats from the just-written postings (columnar term/df/ttf)
        TermFilters.withFilterCols(InvertedIndex.read(spark, to, "postings").groupBy("term")
          .agg(sum("df").as("df"), sum("ttf").as("ttf")))
          .write.mode("overwrite").parquet(s"$to/termstats")
      },
      () => docs.write.mode("overwrite").parquet(s"$to/docs"),
      () => spark.createDataset(segInfos.toSeq).coalesce(1)
        .write.mode("overwrite").parquet(s"$to/segments"))

    val updated = Json.write(manifest
      .updated("generation", gen)
      .updated("tables", tables)
      .updated("docCount", bm.docCount)
      .updated("sumTotalTermFreq", bm.sumTotalTermFreq)
      .updated("avgdl", bm.sumTotalTermFreq.toDouble / math.max(1L, bm.docCount))
      .updated("segments", segInfos.toVector.map(s => ListMap[String, Any](
        "segId" -> s.segId.toLong, "nDocs" -> s.nDocs,
        "minDocId" -> s.minDocId, "maxDocId" -> s.maxDocId))))
    val tmp = Paths.get(dir, ".manifest.json.tmp")
    Files.write(tmp, updated.getBytes)
    Files.move(tmp, Paths.get(dir, "manifest.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

    // a fresh build keeps its tables in the index directory itself
    if (from == dir) Seq("postings", "docs", "termstats", "segments")
      .foreach(t => deleteRecursive(Paths.get(dir, t)))
    else deleteRecursive(Paths.get(from))
    // with Hadoop's checksum files beside them
    applied.foreach { f =>
      Files.deleteIfExists(f)
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    InvertedIndex.open(spark, dir)
  }

  /** `postings` without the docIds in `dead` (sorted): each row's
    * survivors re-blocked under `stats` with the build's block layout,
    * rows left empty dropped. One narrow pass — the rows keep their
    * partitions, so no shuffle runs. */
  private[index] def postingsWithout(postings: Dataset[PostingsRow], dead: Broadcast[Array[Long]],
                                     stats: Bm25Stats, blockSize: Int): Dataset[PostingsRow] = {
    import postings.sparkSession.implicits._
    postings.mapPartitions { rows =>
      val gone = dead.value
      rows.flatMap { r =>
        val docIds = mutable.ArrayBuilder.make[Long]
        val tfs = mutable.ArrayBuilder.make[Int]
        val norms = mutable.ArrayBuilder.make[Byte]
        val positions = mutable.ArrayBuilder.make[Array[Int]]
        r.blocks.foreach { b =>
          val ds = PFor.decodeDeltas(b.docs, b.count, b.firstDocId)
          val ts = PFor.decodeInts(b.tfs, b.count)
          val ps = VarInt.decodePositions(b.positions, ts)
          var i = 0
          while (i < b.count) {
            if (java.util.Arrays.binarySearch(gone, ds(i)) < 0) {
              docIds += ds(i); tfs += ts(i); norms += b.norms(i); positions += ps(i)
            }
            i += 1
          }
        }
        val kept = docIds.result()
        if (kept.isEmpty) None
        else Some(IndexBuilder.reblock(r.segId, r.term, r.salt, kept, tfs.result(),
          norms.result(), positions.result(), stats.cache, blockSize))
      }
    }
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
}
