package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analysis.Analysis

/** Best-passage highlighting over stored text — the role of the
  * reference's UnifiedHighlighter [U lucene/highlighter/, solr
  * HighlightComponent; SURVEY.md §2.12]: re-analyze the stored text
  * with offsets (scanTokens yields char offsets), slide a token window,
  * pick the window with the most query-term matches (earliest wins
  * ties), wrap matches in <em>. */
object Highlighter {

  def bestFragment(text: String, terms: Set[String], window: Int = 8,
                   pre: String = "<em>", post: String = "</em>"): String = {
    if (text == null || text.isEmpty || terms.isEmpty) return ""
    val offsets = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Boolean)]
    Analysis.scanTokens(text, Analysis.MaxTokenLength) { (s, e) =>
      val tok = Analysis.lowercase(text.substring(s, e))
      offsets += ((s, e, terms.contains(tok)))
    }
    if (offsets.isEmpty) return ""
    val n = offsets.length
    val w = math.min(window, n)
    // best window of `w` tokens by match count (prefix sums)
    val matches = offsets.map(o => if (o._3) 1 else 0).toArray
    val prefix = matches.scanLeft(0)(_ + _)
    var best = 0
    var bestCount = -1
    var i = 0
    while (i + w <= n) {
      val c = prefix(i + w) - prefix(i)
      if (c > bestCount) { bestCount = c; best = i }
      i += 1
    }
    if (bestCount <= 0) return ""
    val win = offsets.slice(best, best + w)
    val fragStart = win.head._1
    val fragEnd = win.last._2
    val sb = new StringBuilder
    var cur = fragStart
    win.foreach { case (s, e, hit) =>
      sb.append(text.substring(cur, s))
      if (hit) sb.append(pre).append(text.substring(s, e)).append(post)
      else sb.append(text.substring(s, e))
      cur = e
    }
    sb.append(text.substring(cur, fragEnd))
    sb.toString
  }

  /** Column form: highlight `text` for a fixed query-term set. */
  def highlightCol(text: Column, terms: Seq[String], window: Int = 8): Column = {
    val set = terms.map(Analysis.lowercase).toSet
    udf((t: String) => bestFragment(t, set, window)).apply(text)
  }

  /** Attach a `snippet` column to topK results joined with the corpus
    * (the GET_FIELDS + highlight response-writer phase). */
  def highlightResults(hits: DataFrame, pages: DataFrame, q: Query,
                       window: Int = 8): DataFrame = {
    val terms = Query.collectTerms(q)
    hits.join(pages.select(col("url"), col("text")), "url")
      .withColumn("snippet", highlightCol(col("text"), terms, window))
      .drop("text")
  }
}

/** MoreLikeThis: the top tf·idf terms of a document become a
  * disjunction query [U lucene/queries/.../mlt/MoreLikeThis.java;
  * SURVEY.md §2.12]. */
object MoreLikeThis {

  /** Build an OR query from a text's most significant terms, using the
    * index's global df for idf (`IndexView.termDfs` of only the doc's
    * own terms). */
  def fromText(idx: graft.index.IndexView, text: String, maxTerms: Int = 10,
               minDocFreq: Long = 1): Query = {
    val tf = Analysis.analyze(text).groupBy(identity).view.mapValues(_.length)
    if (tf.isEmpty) return BoolQ()
    val dfMap = idx.termDfs(tf.keys.toSeq)
    val n = idx.stats.docCount
    val scored = tf.toSeq.flatMap { case (t, f) =>
      dfMap.get(t).filter(_ >= minDocFreq).map { df =>
        (t, f * math.log(1.0 + (n - df + 0.5) / (df + 0.5)))
      }
    }
    val top = scored.sortBy { case (t, s) => (-s, t) }.take(maxTerms).map(_._1)
    BoolQ(should = top.map(TermQ.apply))
  }
}
