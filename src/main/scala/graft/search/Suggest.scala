package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.index.{IndexView, InvertedIndex}

/** Spellcheck / suggest over the term dictionary — the
  * SpellCheckComponent / suggesters family re-expressed as
  * pushdown-pruned termstats scans (Parquet min/max stats play the role
  * of the FST/Levenshtein automata)
  * [U lucene/suggest/, solr/core/.../handler/component/SpellCheckComponent.java,
  * SURVEY.md §2.12]. Popularity ranking = document frequency, as in the
  * reference's suggesters with weight=df. */
object Suggest {

  /** Autocomplete: dictionary terms with the prefix, most frequent
    * first (df desc, term asc tie-break). An InvertedIndex loads its
    * driver dictionary (`termDfMap`, as the scorer's lookups do) and
    * answers from it with no job: the prefix's terms are one run of the
    * sorted dictionary. Over the dictionary cache cap, and on other
    * views, a termstats plan answers. */
  def suggest(idx: IndexView, prefix: String, k: Int = 10): DataFrame = {
    val loaded = idx match {
      case inv: InvertedIndex =>
        inv.termDfMap().flatMap(dfs => inv.sortedTermsIfLoaded.map(dfs -> _))
      case _ => None
    }
    loaded match {
      case Some((dfs, sorted)) =>
        // the run is in term order, and a stable sort by df keeps it
        // as the tie-break
        val top = InvertedIndex.withPrefix(sorted, prefix).toArray.sortBy(t => -dfs(t)).take(k)
        ResultFrames.of(idx.spark, ResultFrames.TermDf, top.toSeq.map(t => Row(t, dfs(t))))
      case None =>
        idx.termStats
          .filter(col("term").startsWith(prefix))
          .select(col("term"), col("df").cast("long").as("df"))
          .orderBy(desc("df"), asc("term"))
          .limit(k)
    }
  }

  /** AnalyzingInfixSuggester analogue [U lucene/suggest/.../analyzing/
    * AnalyzingInfixSuggester.java — which INDEXES the suggest corpus
    * with edge n-grams and answers lookups from that index]: a
    * materialized suggest table keyed by the edge n-grams of every
    * dictionary term. Lookup becomes an EQUALITY on the gram column —
    * pushdown-able parquet point predicate on range-sorted row groups
    * (min/max prunes), where the live `suggest` above leans on a LIKE
    * prefix scan of the whole dictionary. Build once per commit
    * generation, O(dict × maxGram) rows. */
  def buildNgramIndex(idx: IndexView, dir: String,
                      minGram: Int = 1, maxGram: Int = 8): Unit =
    buildSuggestIndex(
      idx.termStats.select(col("term"), col("df").cast("long").as("weight")),
      dir, minGram, maxGram)

  /** General suggester build over caller-supplied (term, weight)
    * entries — the reference's suggesters take an arbitrary weight
    * expression, not just df [U lucene/suggest/.../Lookup.java#build
    * (InputIterator.weight), solr DocumentDictionaryFactory weightField].
    * Rows carry (glen, gmask) prefilter columns on the GRAM so fuzzy
    * lookups prune with the same shape spellcheck uses on the term
    * dictionary. */
  def buildSuggestIndex(entries: DataFrame, dir: String,
                        minGram: Int = 1, maxGram: Int = 8,
                        infix: Boolean = false): Unit = {
    val base = entries.select(col("term"), col("weight").cast("long").as("weight"))
    // infix mode — the TRUE AnalyzingInfixSuggester shape
    // [U lucene/suggest/.../analyzing/AnalyzingInfixSuggester.java —
    // indexes grams at EVERY position so "park" surfaces "spark..."]:
    // all-position char n-grams, deduped to one row per (gram, term),
    // with an `edge` flag (gram occurs at position 0) so lookups can
    // rank prefix matches ahead of infix matches (the blended sort).
    // O(dict × len × gramSizes) rows — ~len× the edge build, the same
    // trade the reference makes (it indexes the whole suggestion text).
    // gram expansion as two Generate (explode) operators rather than
    // nested higher-order-function lambdas: same rows, but the nested
    // NamedLambdaVariable form trips Spark's janino codegen ("isNull is
    // not an rvalue") and silently falls back to interpreted eval —
    // the explode plan stays inside whole-stage codegen
    val sized = base.filter(length(col("term")) >= minGram)
      .withColumn("n", explode(
        sequence(lit(minGram), least(lit(maxGram), length(col("term"))))))
    val grams =
      if (infix)
        sized
          .withColumn("i", explode(
            sequence(lit(1), length(col("term")) - col("n") + lit(1))))
          .withColumn("gram", col("term").substr(col("i"), col("n")))
          .groupBy("gram", "term").agg(max("weight").as("weight"))
          .withColumn("edge", col("term").startsWith(col("gram")))
      else
        sized
          .withColumn("gram", col("term").substr(lit(1), col("n")))
          .withColumn("edge", lit(true))
    graft.index.TermFilters
      .withFilterCols(grams.select("gram", "term", "weight", "edge"),
        src = "gram", lenCol = "glen", maskCol = "gmask")
      .repartitionByRange(8, col("gram"))
      .sortWithinPartitions("gram", "term")
      .write.mode("overwrite").parquet(dir)
    // gram bounds ride with the table: a lookup must slice its prefix
    // with the BUILD's maxGram, not a caller-supplied guess (underscore
    // prefix keeps the sidecar invisible to the parquet reader)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_gram_meta.json"),
      graft.util.Json.write(scala.collection.immutable.ListMap[String, Any](
        "minGram" -> minGram.toLong, "maxGram" -> maxGram.toLong,
        "infix" -> (if (infix) 1L else 0L))))
  }

  /** Autocomplete from the ngram suggest index: equality on the gram
    * (+ a residual prefix check only when the prefix exceeds the
    * build's maxGram; a range predicate on the minGram-length grams
    * when the prefix is shorter than the smallest indexed gram — both
    * read from the table's own metadata, so lookup parameters can
    * never silently disagree with the build's). Terms shorter than the
    * build minGram are not indexed (as with the reference suggester's
    * minPrefixChars). */
  def suggestNgram(spark: org.apache.spark.sql.SparkSession, dir: String,
                   prefix: String, k: Int = 10): DataFrame = {
    val m = graft.util.Json.obj(graft.util.Json.parse(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_gram_meta.json"))))
    val minG = graft.util.Json.long(m("minGram")).toInt
    val maxG = graft.util.Json.long(m("maxGram")).toInt
    val table = spark.read.parquet(dir)
    val hits =
      if (prefix.length < minG)
        // each term carries exactly ONE gram of length minGram (its own
        // prefix) — still a pushdown-able range on the sorted grams
        table.filter(length(col("gram")) === minG &&
          col("gram").startsWith(prefix))
      else {
        val g = prefix.substring(0, math.min(prefix.length, maxG))
        val base = table.filter(col("gram") === g)
        if (prefix.length <= maxG) base
        else base.filter(col("term").startsWith(prefix))
      }
    hits.select(col("term"), col("weight").as("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(k)
  }

  /** Infix lookup from an infix `buildSuggestIndex` table: suggestions
    * containing the query at ANY position (equality on the
    * all-position gram column — the same pushdown-able point predicate
    * as the edge lookup), ranked edge-first then weight — prefix
    * matches beat infix matches at any weight, the
    * AnalyzingInfixSuggester blended-sort shape [U lucene/suggest/
    * .../analyzing/AnalyzingInfixSuggester.java lookup highlighted
    * prefix ordering]. */
  def suggestInfix(spark: org.apache.spark.sql.SparkSession, dir: String,
                   q: String, k: Int = 10): DataFrame = {
    val m = graft.util.Json.obj(graft.util.Json.parse(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_gram_meta.json"))))
    val minG = graft.util.Json.long(m("minGram")).toInt
    val maxG = graft.util.Json.long(m("maxGram")).toInt
    require(m.get("infix").exists(graft.util.Json.long(_) == 1L),
      s"suggestInfix needs an infix build (buildSuggestIndex infix=true): $dir")
    val table = spark.read.parquet(dir)
    val hits =
      if (q.length < minG)
        // every position's minGram-length gram is indexed: a shorter
        // query is a prefix predicate on those (range-pushdown-able)
        table.filter(length(col("gram")) === minG &&
          col("gram").startsWith(q))
      else {
        val g = q.substring(0, math.min(q.length, maxG))
        val base = table.filter(col("gram") === g)
        // residual for queries past the gram cap: true containment —
        // and the stored edge flag (term starts with the GRAM) must be
        // recomputed against the full query, or a term starting with
        // q's first maxG chars but containing q only later would rank
        // as a prefix match in the blended sort
        if (q.length <= maxG) base
        else base.filter(col("term").contains(q))
          .withColumn("edge", col("term").startsWith(q))
      }
    // a term can match via several gram positions when q < minGram:
    // collapse to its best (edge-first) row
    hits.groupBy("term")
      .agg(max("weight").as("weight"), max("edge").as("edge"))
      .orderBy(desc("edge"), desc("weight"), asc("term"))
      .limit(k)
      .select(col("term"), col("weight"), col("edge"))
  }

  /** Weighted lookup from a `buildSuggestIndex` table — identical
    * pushdown shape, ranked by the caller's weight. */
  def suggestWeighted(spark: org.apache.spark.sql.SparkSession, dir: String,
                      prefix: String, k: Int = 10): DataFrame =
    suggestNgram(spark, dir, prefix, k)
      .select(col("term"), col("df").as("weight"))

  /** Fuzzy-prefix lookup — the FuzzySuggester analogue
    * [U lucene/suggest/.../analyzing/FuzzySuggester.java]: suggestions
    * whose indexed edge-gram is within `maxEdits` of the typed prefix
    * (so `sparc` still completes to `spark...`), ranked by weight. The
    * gram scan is pruned BEFORE the levenshtein by the pushdown-able
    * `glen` length band and the `gmask` character-presence prefilter —
    * the same automaton-over-FST analogue as spellcheck; prefilters are
    * exact supersets, the banded levenshtein decides membership, so
    * results are value-identical to an unpruned scan. A term can match
    * through several gram lengths → max-weight per term (weights are
    * constant per term; max is tie-safe). */
  def suggestFuzzy(spark: org.apache.spark.sql.SparkSession, dir: String,
                   prefix: String, maxEdits: Int = 1, k: Int = 10): DataFrame = {
    val m = graft.util.Json.obj(graft.util.Json.parse(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_gram_meta.json"))))
    val maxG = graft.util.Json.long(m("maxGram")).toInt
    require(prefix.length <= maxG,
      s"fuzzy prefix longer than the build's maxGram=$maxG: '$prefix'")
    val table = spark.read.parquet(dir)
    graft.index.TermFilters
      .fuzzyPruned(table, prefix, maxEdits, lenCol = "glen", maskCol = "gmask")
      .filter(graft.index.TermFilters.withinEdits(col("gram"), prefix, maxEdits))
      .groupBy("term").agg(max("weight").as("weight"))
      .orderBy(desc("weight"), asc("term"))
      .limit(k)
  }

  /** Phonetic "sounds-like" suggestions [U lucene/analysis/phonetic/
    * .../PhoneticFilter.java (commons-codec Soundex); solr phonetic
    * field types]: dictionary terms sharing the query's American
    * Soundex code, most frequent first. Soundex preserves the first
    * letter, so the dictionary scan is pruned by a PUSHDOWN-able
    * prefix predicate before the (non-pushdown-able) code compare —
    * the same automaton-analogue pruning shape as spellcheck. */
  def soundsLike(idx: IndexView, word: String, k: Int = 10): DataFrame = {
    // soundex handles [A-Za-z] only — a non-ASCII initial would pass
    // through unchanged and the compare could never match; reject it
    // loudly instead of silently returning no rows. Lowercasing uses
    // the index's own locale-independent fold (Locale.ROOT), not the
    // JVM default locale (tr-TR would break the prefix prune on 'I').
    require(word.nonEmpty &&
      (word.head.isUpper || word.head.isLower) && word.head < 0x80,
      s"bad phonetic query: '$word'")
    val w = graft.analysis.Analysis.lowercase(word)
    idx.termStats
      .filter(col("term").startsWith(w.substring(0, 1)))
      .filter(soundex(col("term")) === soundex(lit(w)) &&
        col("term") =!= w)
      .select(col("term"), col("df").cast("long").as("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(k)
  }

  /** Spell correction: dictionary terms within `maxEdits` of the word
    * (excluding the word itself), most frequent first. The scan is
    * pruned BEFORE the levenshtein runs — a pushdown-able `tlen` band
    * plus a character-presence bitmask (TermFilters, the Levenshtein-
    * automata-over-FST analogue), then a banded O(len·e) levenshtein
    * on the survivors; results are value-identical to a full scan. */
  def spellcheck(idx: IndexView, word: String, maxEdits: Int = 2,
                 k: Int = 10): DataFrame =
    graft.index.TermFilters.fuzzyPruned(idx.termStats, word, maxEdits)
      .filter(graft.index.TermFilters.withinEdits(col("term"), word, maxEdits) &&
        col("term") =!= word)
      .select(col("term"), col("df").cast("long").as("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(k)
}
