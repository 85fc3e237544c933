package graft.search

import java.nio.file.Files

import scala.util.Random

import graft.SparkSpec
import graft.index.{IndexBuilder, IndexConfig}
import graft.model.Page

import org.apache.spark.sql.Dataset

/** Randomized equivalence testing (the LuceneTestCase discipline,
  * SURVEY.md §5.2 item 2): seeded random corpora × random query trees,
  * engine topK must equal the SpecOracle rank- and float-score-exactly.
  * Failures print the seed for reproduction. */
class RandomizedSearchSpec extends SparkSpec {

  private val vocab = Seq(
    "the", "spark", "join", "merge", "sort", "window", "batch", "hash",
    "scan", "filter", "group", "agg", "row", "column", "table", "data",
    "key", "value", "stream", "query", "fast", "slow", "big", "small",
    "rare1", "rare2", "zz1")
  private val langs = Seq("en", "de", "fr")

  private def mkCorpus(rnd: Random, nDocs: Int): Seq[(String, String, String)] =
    (0 until nDocs).map { i =>
      val len = 3 + rnd.nextInt(40)
      // zipfish: low vocab indices much more likely
      val words = (0 until len).map { _ =>
        val z = math.min(vocab.length - 1,
          (math.pow(rnd.nextDouble(), 2.5) * vocab.length).toInt)
        vocab(z)
      }
      (f"https://r/$i%05d", words.mkString(" "), langs(rnd.nextInt(langs.length)))
    }

  private def randTerm(rnd: Random): String =
    if (rnd.nextInt(10) == 0) "absent_term" else vocab(rnd.nextInt(vocab.length))

  private def randQuery(rnd: Random, depth: Int = 0): Query =
    rnd.nextInt(if (depth == 0) 17 else 8) match {
      case 0 => TermQ(randTerm(rnd))
      case 1 => Query.and((0 until 2 + rnd.nextInt(2)).map(_ => randTerm(rnd)): _*)
      case 2 => Query.or((0 until 2 + rnd.nextInt(3)).map(_ => randTerm(rnd)): _*)
      case 3 =>
        val ts = (0 until 3).map(_ => randTerm(rnd))
        Query.orMM(1 + rnd.nextInt(2), ts: _*)
      case 4 => Query.not(randTerm(rnd), randTerm(rnd))
      case 5 => PhraseQ((0 until 2 + rnd.nextInt(2)).map(_ => randTerm(rnd)),
        rnd.nextInt(3))
      case 6 => TermSetQ((0 until 2 + rnd.nextInt(3)).map(_ => randTerm(rnd)).distinct)
      case 7 => DisMaxQ(Seq(TermQ(randTerm(rnd)), TermQ(randTerm(rnd))),
        rnd.nextFloat() * 0.5f)
      case 8 => BoolQ(must = Seq(TermQ(randTerm(rnd))),
        filter = Seq(AttrQ("lang", langs(rnd.nextInt(langs.length)))))
      case 9 => BoostQ(randQuery(rnd, depth + 1), 0.5f + rnd.nextFloat() * 2f)
      case 10 => ConstScoreQ(randQuery(rnd, depth + 1), rnd.nextFloat() * 2f)
      case 11 => BoolQ(
        must = Seq(randQuery(rnd, depth + 1)),
        should = Seq(TermQ(randTerm(rnd))),
        mustNot = if (rnd.nextBoolean()) Seq(TermQ(randTerm(rnd))) else Nil)
      case 12 => if (rnd.nextBoolean()) MatchAllQ
        else BoolQ(must = Seq(MatchAllQ), mustNot = Seq(TermQ(randTerm(rnd))))
      // attr-only required part + optional / negated term clauses —
      // a segment with none of the terms must still emit attr matches
      case 13 => BoolQ(
        must = Seq(AttrQ("lang", langs(rnd.nextInt(langs.length)))),
        should = Seq(TermQ(randTerm(rnd)), TermQ(randTerm(rnd))),
        minShouldMatch = rnd.nextInt(2),
        mustNot = if (rnd.nextBoolean()) Seq(TermQ(randTerm(rnd))) else Nil)
      case 14 =>
        val a = rnd.nextInt(300); val b = a + rnd.nextInt(300)
        BoolQ(must = Seq(TermQ(randTerm(rnd))),
          filter = Seq(AttrRangeQ("url",
            Some(f"https://r/$a%05d"), Some(f"https://r/$b%05d"),
            includeLo = rnd.nextBoolean(), includeHi = rnd.nextBoolean())))
      case 15 => BoolQ(
        should = Seq(AttrQ("lang", langs(rnd.nextInt(langs.length))),
          TermQ(randTerm(rnd))),
        minShouldMatch = 1 + rnd.nextInt(2))
      case 16 => SpanNearQ(
        (0 until 2 + rnd.nextInt(2)).map(_ => randTerm(rnd)),
        rnd.nextInt(6), inOrder = rnd.nextBoolean())
    }

  private def toPages(corpus: Seq[(String, String, String)]): Dataset[Page] = {
    import spark.implicits._
    corpus.map { case (url, text, lang) =>
      Page(url, java.sql.Timestamp.valueOf("2025-10-24 00:00:00"),
        s"<p>$text</p>".getBytes, text, lang)
    }.toDS()
  }

  test("engine ≡ SpecOracle on random corpora × random query trees") {
    // extra seeds via env for soak runs: GRAFT_RAND_EXTRA_SEEDS=7,8,9
    // (malformed tokens fail fast with the env var named, instead of an
    // opaque NumberFormatException aborting the suite before any seed)
    val extra = sys.env.get("GRAFT_RAND_EXTRA_SEEDS").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map { tok =>
        require(tok.matches("-?\\d+"),
          s"GRAFT_RAND_EXTRA_SEEDS: malformed seed token '$tok'")
        tok.toLong
      }
    (Seq(42L, 1337L, 90210L) ++ extra).foreach { seed =>
      val rnd = new Random(seed)
      val corpus = mkCorpus(rnd, 150 + rnd.nextInt(150))
      val cfg = IndexConfig(
        numPartitions = 2 + rnd.nextInt(4),
        partsPerSegment = 1 + rnd.nextInt(2),
        blockSize = Seq(16, 64, 128)(rnd.nextInt(3)), // force multi-block paths
        hotTermDf = 20, numSalts = 1 + rnd.nextInt(3), hotSampleRate = 1.0)
      val idx = IndexBuilder.build(spark, toPages(corpus),
        Files.createTempDirectory(s"graft-rand$seed").toString, cfg)
      val oracle = new SpecOracle(corpus)
      val searcher = new Searcher(idx)
      val queries = (1 to 25).map(_ => randQuery(rnd))

      def check(mode: String): Unit = queries.zipWithIndex.foreach { case (q, qi) =>
        val got = searcher.topK(q, 10).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getFloat(3))).toSeq
        val expected = oracle.topK(q, 10)
        assert(got === expected, s"$mode seed=$seed query#${qi + 1} $q")
      }
      // the cold reader's parquet plans, then the same reader warm
      // (resident segment postings, driver caches, filter bitmaps)
      check("cold")
      idx.warm()
      check("warm")
    }
  }
}
