package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, lit}

import graft.SparkSpec
import graft.functions.ValueSources
import graft.index.{Deletes, IndexBuilder, IndexConfig, InvertedIndex}
import graft.model.Page

/** A warm reader's resident doc columns answer the docs-reading
  * relational families (frange, geo, sorted reads) exactly as a cold
  * reader's docs plans do: the same doc_ids in the same rank order. */
class ResidentDocsSpec extends SparkSpec {

  /** Docs 0 until N at urls `https://d/<i>` (unpadded, so url rank and
    * doc_id orders differ), of 1 to 23 tokens, over four segments. */
  private val N = 500
  private lazy val base: InvertedIndex = {
    import spark.implicits._
    val words = "spark join merge window sort batch the data query index".split(' ')
    val pages = (0 until N).map { i =>
      val text = Seq.tabulate(1 + i * 7 % 23)(j => words((i + j * j) % words.length)).mkString(" ")
      Page(s"https://d/$i", new java.sql.Timestamp(1700000000000L + i * 60000L),
        s"<p>$text</p>".getBytes, text, Seq("en", "de", "fr")(i % 3))
    }.toDS()
    IndexBuilder.build(spark, pages, java.nio.file.Files.createTempDirectory("graft-resident").toString,
      IndexConfig(numPartitions = 4, partsPerSegment = 1))
  }
  private lazy val warm = InvertedIndex.open(spark, indexCopy(base.dir)).warm()
  private lazy val cold = InvertedIndex.open(spark, indexCopy(base.dir))

  private val LatSql = "cast(doc_id % 120 as double) - 59.5"
  private val LonSql = "cast((doc_id * 7) % 360 as double) - 179.5"

  private def ids(df: DataFrame): Seq[Long] = df.collect().toSeq.map(_.getLong(1))

  /** The warm answer, checked to come from the resident columns (no SQL
    * execution), and the cold one. */
  private def warmAndCold(read: InvertedIndex => DataFrame): (Seq[Long], Seq[Long]) = {
    val r = warm // warmed outside the count
    var df: DataFrame = null
    val c = org.apache.spark.JobCounts.of(spark.sparkContext) { df = read(r) }
    assert(c.sqlExecutions === 0 && c.jobs === 1, c)
    (ids(df), ids(read(cold)))
  }

  private def frange(m: Int, lo: Double, hi: Double, k: Int)(r: InvertedIndex) =
    new RelationalPath(r).frangeTopK(ValueSources.fn("mod", col("dl"), lit(m)), lo, hi, k)

  private def geo(lat: Double, lon: Double, km: Double, k: Int)(r: InvertedIndex) =
    new RelationalPath(r).geoTopK(LatSql, LonSql, lat, lon, km, k)

  test("frange: seeded bounds over mod 5/7/11, empty ranges included") {
    val rnd = new java.util.Random(11)
    var nonEmpty = 0
    for (_ <- 0 until 30) {
      val m = Seq(5, 7, 11)(rnd.nextInt(3))
      val lo = rnd.nextInt(m + 1) - 1
      val hi = lo + rnd.nextInt(3) - 1 // hi < lo: an empty range
      val k = Seq(1, 10, 50, 5000)(rnd.nextInt(4))
      val (w, c) = warmAndCold(frange(m, lo, hi, k))
      assert(w === c, s"mod $m [$lo, $hi] k=$k")
      if (w.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 10)
    val (w, c) = warmAndCold(frange(5, 3, 1, 10))
    assert(w.isEmpty && c.isEmpty)
    // one function bound once, its bounds in argument slots: a second
    // range over it answers its own range, not the first one's
    val ranges = Seq((0.0, 1.0), (3.0, 4.0), (2.0, 6.0)).map { case (lo, hi) =>
      val (w, c) = warmAndCold(frange(7, lo, hi, 50))
      assert(w.nonEmpty && w === c, s"mod 7 [$lo, $hi]")
      w
    }
    assert(ranges.distinct.size === ranges.size)
  }

  test("frange over a column the resident docs lack takes the docs plan, same answer") {
    val fn = length(col("url"))
    val w = ids(new RelationalPath(warm).frangeTopK(fn, 0, 1000, 20))
    assert(w.nonEmpty && w === ids(new RelationalPath(cold).frangeTopK(fn, 0, 1000, 20)))
  }

  test("geo: centres and radii, no match, k above the match count, equal-distance ties") {
    val rnd = new java.util.Random(7)
    val cases = Seq.fill(24)((-60.0 + rnd.nextInt(120), -180.0 + rnd.nextInt(360),
      Seq(300.0, 1000.0, 5000.0, 30000.0)(rnd.nextInt(4)), Seq(1, 10, 50, 5000)(rnd.nextInt(4)))) ++ Seq(
      (0.1, 0.1, 1.0, 10),          // no doc within 1 km
      (0.0, 0.0, 30000.0, 5000),    // every doc, k above the corpus
      // points repeat every 360 doc_ids: docs 1 and 361 share this one,
      // so every distance from a centre ties
      (-58.5, -172.5, 0.0, 1),
      (-58.5, -172.5, 0.0, 2),
      (-58.5, -172.5, 500.0, 3),
      (-58.5, -172.5, 500.0, 50))
    cases.foreach { case (lat, lon, km, k) =>
      val (w, c) = warmAndCold(geo(lat, lon, km, k))
      assert(w === c, s"($lat, $lon) within $km k=$k")
    }
    assert(warmAndCold(geo(0.1, 0.1, 1.0, 10))._1.isEmpty)
    assert(warmAndCold(geo(-58.5, -172.5, 0.0, 2))._1.toSet === Set(1L, 361L))
    val all = warmAndCold(geo(0.0, 0.0, 30000.0, 5000))._1
    assert(all.size === N)
  }

  test("sorted reads with k up to past the corpus size") {
    Seq(1, 10, 100, N, 5000).foreach { k =>
      val (early, earlyCold) = warmAndCold(SortedRead.earlyTopK(_, k))
      val (full, fullCold) = warmAndCold(SortedRead.fullScanTopK(_, k))
      assert(early === earlyCold && full === fullCold && early === full, s"k=$k")
      assert(full.size === math.min(k, N))
    }
  }

  test("a warm reader with pending tombstones answers as a cold one, and never with a deleted doc") {
    val dir = indexCopy(base.dir)
    val warmDel = InvertedIndex.open(spark, dir).warm()
    val urls = warmDel.urlMap().get
    val doomed = urls.collect { case (d, u) if d % 5 == 0 => u }.toSeq ++
      warmDel.segments.map(s => urls(s.minDocId))
    Deletes.deleteByUrl(warmDel, doomed)
    val deleted = doomed.map(RelationalPath.docIdOfUrl).toSet
    val coldDel = InvertedIndex.open(spark, dir)
    assert(warmDel.hasDeletes && warmDel.resident.isDefined)
    val reads: Seq[InvertedIndex => DataFrame] = Seq(
      frange(5, 0, 1, 50), frange(7, 2, 2, 10), geo(0.0, 0.0, 3000.0, 50), geo(20.0, -40.0, 1000.0, 5),
      SortedRead.earlyTopK(_, 10), SortedRead.fullScanTopK(_, 10), SortedRead.earlyTopK(_, 5000))
    reads.foreach { read =>
      val w = ids(read(warmDel))
      assert(w.nonEmpty && w === ids(read(coldDel)))
      assert(w.forall(d => !deleted(d)), w.filter(deleted))
    }
    warmDel.close()
  }
}
