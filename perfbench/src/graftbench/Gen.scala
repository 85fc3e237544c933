package graftbench

import scala.collection.mutable

import graft.model.Page

/** Seeded corpus generator. Everything here is a pure function of the
  * seed and the size parameters, so the same seed gives the same rows.
  *
  *  - vocabulary of pseudo-words drawn by Zipf–Mandelbrot rank
  *    frequency: hot, mid and rare terms all exist, and the generator
  *    rank of each word is known without asking the index;
  *  - log-normal document lengths (a real spread, clamped);
  *  - skewed `lang` shares;
  *  - a fraction of near-duplicate pages (copies of an earlier page
  *    with a few tokens replaced and a short tail appended). */
final class Corpus(val vocab: Array[String], val pages: Array[Page],
                   val docIds: Array[Long]) {
  val textBytes: Long =
    pages.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum
}

object Gen {

  /** Language shares (skewed, as crawl language mixes are). */
  val Langs: Array[(String, Double)] = Array(
    "en" -> 0.58, "de" -> 0.14, "fr" -> 0.09, "es" -> 0.07, "ja" -> 0.05,
    "it" -> 0.03, "pt" -> 0.02, "nl" -> 0.015, "ru" -> 0.005)

  /** Term-rank boundaries of the df classes the query pool draws from. */
  val HotRanks: (Int, Int) = (0, 40)
  val MidRanks: (Int, Int) = (40, 2000)
  val RareRanks: (Int, Int) = (3000, 20000)

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m",
    "n", "p", "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "gr",
    "pl", "pr", "sh", "st", "th", "tr")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
  private val Codas = Array("", "", "", "n", "r", "s", "t", "l", "m", "x")

  def vocabulary(rnd: java.util.Random, size: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      // frequent words tend to be short, as in natural language
      val syl = 1 + (if (seen.size < 200) rnd.nextInt(2) else 1 + rnd.nextInt(3))
      val sb = new StringBuilder
      var i = 0
      while (i < syl) {
        sb ++= Onsets(rnd.nextInt(Onsets.length))
        sb ++= Vowels(rnd.nextInt(Vowels.length))
        i += 1
      }
      sb ++= Codas(rnd.nextInt(Codas.length))
      seen += sb.toString
    }
    seen.toArray
  }

  /** Cumulative Zipf–Mandelbrot weights 1/(r+q)^s over `n` ranks. */
  def zipfCdf(n: Int, s: Double, q: Double): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += 1.0 / math.pow(r + 1 + q, s); c(r) = acc; r += 1 }
    r = 0
    while (r < n) { c(r) /= acc; r += 1 }
    c
  }

  def draw(cdf: Array[Double], rnd: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  def weighted[T](xs: Array[(T, Double)], rnd: java.util.Random): T = {
    var u = rnd.nextDouble() * xs.iterator.map(_._2).sum
    var i = 0
    while (i < xs.length - 1 && u >= xs(i)._2) { u -= xs(i)._2; i += 1 }
    xs(i)._1
  }

  /** `nDocs` pages over a `vocabSize` vocabulary; `dupFrac` of them are
    * near-duplicates of an earlier page. */
  def corpus(seed: Long, nDocs: Int, vocabSize: Int = 20000,
             medianLen: Int = 90, dupFrac: Double = 0.06): Corpus = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    val vocab = vocabulary(rnd, vocabSize)
    val cdf = zipfCdf(vocabSize, 1.0, 2.7)
    val hostCdf = zipfCdf(400, 1.1, 1.0)
    val texts = new Array[Array[Int]](nDocs)
    val pages = new Array[Page](nDocs)
    val ids = new Array[Long](nDocs)
    val ts0 = java.sql.Timestamp.valueOf("2025-10-01 00:00:00").getTime
    var d = 0
    while (d < nDocs) {
      val toks: Array[Int] =
        if (d > 20 && rnd.nextDouble() < dupFrac) {
          val src = texts(rnd.nextInt(d))
          val copy = src.clone()
          val edits = 1 + copy.length / 40
          var e = 0
          while (e < edits) { copy(rnd.nextInt(copy.length)) = draw(cdf, rnd); e += 1 }
          copy ++ Array.fill(rnd.nextInt(6))(draw(cdf, rnd))
        } else {
          val len = math.max(8, math.min(1500,
            math.round(medianLen * math.exp(0.75 * rnd.nextGaussian())).toInt))
          Array.fill(len)(draw(cdf, rnd))
        }
      texts(d) = toks
      val sb = new StringBuilder(toks.length * 7)
      var i = 0
      while (i < toks.length) {
        val w = vocab(toks(i))
        if (i > 0) sb ++= (if (i % 13 == 0) ". " else " ")
        if (i % 13 == 0) sb ++= w.capitalize else sb ++= w
        i += 1
      }
      sb += '.'
      // doc ids are sparse and unordered w.r.t. url order, so the
      // url-sorted docId space is a real permutation of them
      val docNum = 1000000L + d.toLong * 7 + rnd.nextInt(7)
      val lang = weighted(Langs, rnd)
      val host = draw(hostCdf, rnd)
      val url = f"https://site$host%03d.example/$lang/$docNum%d"
      val text = sb.toString
      val html = s"<html><head><title>$docNum</title></head><body><p>$text</p></body></html>"
        .getBytes("UTF-8")
      pages(d) = Page(url, new java.sql.Timestamp(ts0 + rnd.nextInt(86400 * 30) * 1000L),
        html, text, lang)
      ids(d) = docNum
      d += 1
    }
    new Corpus(vocab, pages, ids)
  }
}
