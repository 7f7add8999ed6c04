package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star scope,
  * BASELINE.md): token counting, quality scoring, language-ID heuristic,
  * document fingerprinting. All pure column expressions — whole-stage
  * codegen keeps them in one narrow map stage over the scan, and every
  * one is ANSI-SQL-expressible for the DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace tokens, empties removed ([[bpeishTokens]] is the
    * subword-boundary variant). */
  def tokens(text: Column): Column = array_remove(split(text, " "), "")

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer regex: contraction suffixes, letter runs,
    * digit runs, punctuation runs — each optionally carrying its leading
    * space, the way byte-level BPE vocabularies see text. Restricted to
    * syntax BOTH Java regex and RE2 support (no lookahead), so the
    * DuckDB oracle evaluates the identical pattern. */
  val BpeishPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}']+"

  /** BPE-ish pre-tokens of the text (array of strings). */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeishPattern), lit(0))

  /** BPE-ish token count — the (proxy) "how many tokens will the LLM
    * see" statistic; int for SQL parity via CAST. */
  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  /** Distinct-token count. */
  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Non-space character count = summed token lengths. */
  def charCount(text: Column): Column = length(regexp_replace(text, " ", ""))

  /** Mean token length (double). */
  def avgTokenLen(text: Column): Column =
    charCount(text).cast("double") / tokenCount(text)

  /** Type-token ratio — lexical diversity in [0,1]. */
  def typeTokenRatio(text: Column): Column =
    distinctTokenCount(text).cast("double") / tokenCount(text)

  /** Stopword hits against a fixed lexicon (SQL IN-list for parity). */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stopwords.map(x => x: Any): _*)))

  /** Stopword ratio. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordHits(text, stopwords).cast("double") / tokenCount(text)

  /** Composite quality score in [0,1]: rewards lexical diversity, a sane
    * 3-12 char mean token length, and a moderate stopword rate — the
    * standard web-scale quality-filter shape (length/stopword heuristics). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val ttr = typeTokenRatio(text)
    val len = avgTokenLen(text)
    val sw = stopwordRatio(text, stopwords)
    val lenOk = when(len >= 3.0 && len <= 12.0, lit(1.0)).otherwise(lit(0.0))
    val swOk = when(sw >= 0.01 && sw <= 0.5, lit(1.0)).otherwise(lit(0.0))
    (ttr + lenOk + swOk) / lit(3.0)
  }

  /** Language-ID heuristic: per-language marker-word hit counts + CJK /
    * Hangul character presence, argmax with fixed precedence
    * (zh > en > de > es > fr > unknown on ties). Marker sets are tiny by
    * design — the operator shape (hit-count → argmax) is what scales;
    * swap in real frequency tables for production. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "in"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  def cjkCharCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\u4e00-\\u9fff]", ""))

  def hangulCharCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\uac00-\\ud7af]", ""))

  def langId(text: Column): Column = {
    val hits = langMarkers.map { case (l, ws) => l -> stopwordHits(text, ws) }
    when(cjkCharCount(text) > 0, lit("zh"))
      .when(hangulCharCount(text) > 0, lit("ko"))
      .when(hits("en") >= hits("de") && hits("en") >= hits("es") &&
            hits("en") >= hits("fr") && hits("en") > 0, lit("en"))
      .when(hits("de") >= hits("es") && hits("de") >= hits("fr") &&
            hits("de") > 0, lit("de"))
      .when(hits("es") >= hits("fr") && hits("es") > 0, lit("es"))
      .when(hits("fr") > 0, lit("fr"))
      .otherwise(lit("unknown"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text
    * (the canonical near-exact-dup key). The whitespace class is spelled
    * out explicitly because Java's \s includes U+000B while RE2's (the
    * oracle engine's) does not — an implicit \s would diverge on
    * vertical-tab input. */
  def docFingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "[ \\t\\n\\x0B\\f\\r]+", " ")).cast("binary"))

  /** Word bigrams ("w1 w2" strings); empty when fewer than 2 tokens.
    * The building block of the repetition filters below. */
  def wordBigrams(text: Column): Column = {
    val t = tokens(text)
    when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Occurrence count of the most frequent bigram (0 when <2 tokens).
    *
    * COST CAVEAT: distinct × filter is O(k²) per document over the
    * bigram array — fine for short texts (and handy as a scalar
    * expression), but on multi-thousand-token documents the quadratic
    * per-row work dominates everything (measured: ~1000× slower than
    * the aggregation form corpus-wide at sf0.1). Corpus-scale scans
    * must use [[repetitionProfile]], whose explode + two-level
    * aggregation is linear in total bigrams. */
  def topBigramCount(text: Column): Column = {
    val bg = wordBigrams(text)
    coalesce(
      array_max(transform(array_distinct(bg), x => size(filter(bg, y => y === x)))),
      lit(0))
  }

  /** Repetition signals in the Gopher-filter family (Rae et al. 2021,
    * "fraction of characters in the most common n-gram" / "duplicate
    * n-gram fraction", word-level form): docs dominated by one repeated
    * phrase or by repeated bigrams are boilerplate/spam candidates. */
  def topBigramFraction(text: Column): Column = {
    val nbg = size(wordBigrams(text))
    when(nbg > 0, topBigramCount(text).cast("double") / nbg).otherwise(lit(0.0))
  }

  /** Fraction of bigram instances that repeat an earlier one. */
  def dupBigramFraction(text: Column): Column = {
    val bg = wordBigrams(text)
    when(size(bg) > 0,
      (size(bg) - size(array_distinct(bg))).cast("double") / size(bg))
      .otherwise(lit(0.0))
  }

  /** (topCount, nBigrams, nDistinct) per token array via one linear
    * hash-count pass. A UDF is justified here the same way it is for
    * MinHash: a document's bigrams all live in ONE row, so per-row
    * counting needs no shuffle at all, while the relational explode +
    * two-level aggregate shuffles every bigram twice (measured ~5×
    * slower at sf0.1), and the scalar-expression form is O(k²) per row
    * (~100× slower again on long documents). */
  private val repStatsUdf = udf { (toks: Seq[String]) =>
    if (toks == null || toks.lengthCompare(2) < 0) (0L, 0L, 0L)
    else {
      val m = new java.util.HashMap[String, Int]()
      var top = 0
      var i = 0
      while (i < toks.length - 1) {
        val c = m.merge(toks(i) + " " + toks(i + 1), 1, Integer.sum _)
        if (c > top) top = c
        i += 1
      }
      (top.toLong, (toks.length - 1).toLong, m.size.toLong)
    }
  }

  /** Corpus-scale repetition profile — a single narrow map over the
    * scan (no shuffle, no quadratic per-row work): linear hash-count of
    * each document's bigrams. Identical output to the scalar
    * expressions above (parity asserted in TextChunkerSpec; one DuckDB
    * oracle gates both formulations). Docs with <2 tokens report zero
    * counts and 0.0 fractions. */
  def repetitionProfile(docs: DataFrame, docCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    docs.select(col(docCol), tokens(col(textCol)).as("__t"))
      .withColumn("__s", repStatsUdf(col("__t")))
      .select(col(docCol),
        size(col("__t")).cast("long").as("n_tokens"),
        col("__s._1").as("top_bigram_n"),
        when(col("__s._2") > 0, col("__s._1").cast("double") / col("__s._2"))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when(col("__s._2") > 0,
          (col("__s._2") - col("__s._3")).cast("double") / col("__s._2"))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))

  /** Corpus term statistics — the IDF building block: per token, its
    * document frequency (docs containing it), total occurrences, and
    * language spread. One explode + one hash-agg shuffle; integer
    * outputs keep the oracle hash-exact (logs are applied by the
    * consumer, where cross-engine libm parity stops mattering). */
  def termStats(docs: DataFrame, textCol: String = "text",
                docCol: String = "doc_id", langCol: String = "lang"): DataFrame =
    docs
      .select(col(docCol), col(langCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(
        countDistinct(col(docCol)).as("doc_freq"),
        count(lit(1)).as("total_tf"),
        countDistinct(col(langCol)).as("n_langs"))

  /** Per-document n-gram novelty against the corpus — the rare-n-gram
    * quality signal (a doc whose n-grams are all corpus-common is
    * boilerplate; one whose n-grams are mostly rare is fresh text or
    * noise — both ends inform curation thresholds). For each doc:
    * total n-gram occurrences, occurrences whose corpus frequency is
    * ≤ `rareThreshold`, and their ratio.
    *
    * Plan: one explode of adjacent-token n-grams (a narrow zip_with,
    * no self-join); corpus frequency as a MAP-SIDE-COMBINED count by
    * gram (a hot gram — "of the" at web scale — reduces to ~1 row per
    * mapper before its shuffle; a count WINDOW partitioned by gram
    * would instead co-locate and buffer every occurrence of it in one
    * task); then the occurrence stream joins the frequency table (the
    * hot gram's occurrences stream against its single freq row —
    * spill-safe sort, no group buffering) and rolls up per doc. The
    * occurrence explode is computed twice (once per join side) BY
    * DESIGN: re-tokenizing is a narrow recompute, where persisting a
    * corpus-sized gram stream at 100 TB is a second copy of the
    * corpus on scratch disk. A (doc, gram) pre-agg buys nothing —
    * adjacent n-grams barely repeat within a document (the
    * dsirTrainScore argument); the original formulation also paid it,
    * un-persisted, on BOTH join inputs (3.3 s at sf0.1 vs ~1 s now).
    * All counts are exact integers; the ratio is a single IEEE
    * division of two exact longs (bitwise cross-engine). Docs with
    * fewer than `n` tokens have no n-grams and are absent from the
    * output (count them upstream; a novelty score for "no evidence"
    * would be noise). */
  def ngramNovelty(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", n: Int = 2,
                   rareThreshold: Long = 1L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = tokens(col(textCol))
    // adjacent n-grams as an iterated zip_with: acc_k[i] = the k-gram
    // starting at i, built by zipping acc_{k-1}'s prefix with the
    // (k-1)-shifted token array. Linear work, no per-position slice —
    // the transform(sequence)+slice(i, n) formulation re-sliced the
    // token array at EVERY start position and measured ~5x slower on
    // the fixture (1.7 s vs 0.37 s for the bigram explode at sf0.1).
    // Guarded because a <n-token doc must yield zero grams (and the
    // inner slices only evaluate on the guarded branch).
    val nTok = size(toks)
    val gramN = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(slice(acc, lit(1), nTok - (k - 1)),
        slice(toks, lit(k), nTok - (k - 1)),
        (a, b) => concat(a, lit(" "), b))
    }
    val grams = when(nTok >= n, gramN)
      .otherwise(array().cast("array<string>"))
    val occ = docs.select(col(idCol), explode(grams).as("ngram"))
    val freq = occ.groupBy(col("ngram"))
      .agg(count(lit(1)).as("__corpus_freq"))
    val rare = sum(when(col("__corpus_freq") <= rareThreshold, 1L).otherwise(0L))
    occ.join(freq, Seq("ngram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"), rare.as("n_rare"),
        (rare.cast("double") / count(lit(1)).cast("double")).as("novelty"))
  }

  /** Full per-document profile. */
  def profile(docs: DataFrame, textCol: String = "text",
              stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    val t = col(textCol)
    docs.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_distinct_tokens", distinctTokenCount(t))
      .withColumn("n_chars_nospace", charCount(t))
      .withColumn("avg_token_len", avgTokenLen(t))
      .withColumn("type_token_ratio", typeTokenRatio(t))
      .withColumn("stopword_ratio", stopwordRatio(t, stopwords))
      .withColumn("quality_score", qualityScore(t, stopwords))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", docFingerprint(t))
      .drop(textCol)
  }
}
