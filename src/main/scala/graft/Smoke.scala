package graft

import org.apache.spark.sql.SparkSession

import graft.search.{AttrQ, BoolQ, BoostQ, PrefixQ, Query, Searcher, TermQ}

/** Manual smoke driver: flagship entry + scorer-path vs relational-path
  * rank agreement on a few queries. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    println("=== entry() flagship (scorer path, AND spark join) ===")
    val e = SparkEntry.entry(spark)
    e.show(10, truncate = false)
    println(s"entry rows: ${e.count()}")

    val idx = SparkEntry.index(spark, sfDir)
    val searcher = new Searcher(idx)
    val rel = new graft.search.RelationalPath(idx)

    // scorer path ranks by docId, the relational path outputs the
    // corpus doc_id: map through the url suffix
    val docIdOf = idx.docs.collect().map(d =>
      d.docId -> graft.search.RelationalPath.docIdOfUrl(d.url)).toMap
    val checks: Seq[(String, Query)] = Seq(
      "q01 term spark" -> TermQ("spark"),
      "q04 and spark join" -> Query.and("spark", "join"),
      "q06 or window batch" -> Query.or("window", "batch"),
      "q07 or-mm2" -> Query.orMM(2, "sort", "merge", "window"),
      "q08 spark -merge" -> Query.not("spark", "merge"),
      "q09 spark +lang:en" -> BoolQ(must = Seq(TermQ("spark")), filter = Seq(AttrQ("lang", "en"))),
      "q11 prefix s*" -> PrefixQ("s"),
      "q15 spark^2 merge" -> BoolQ(should = Seq(BoostQ(TermQ("spark"), 2f), TermQ("merge"))))
    var ok = true
    checks.foreach { case (name, q) =>
      val got = searcher.topK(q, 10).collect().map(r => docIdOf(r.getLong(1))).toSeq
      val expect = rel.forParsed(q, 10).collect().map(_.getLong(1)).toSeq
      val agree = got == expect
      ok &= agree
      println(f"$name%-22s scorer=$got relational=$expect agree=$agree")
    }
    println(if (ok) "SCORER==RELATIONAL: ALL AGREE" else "MISMATCH FOUND")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
