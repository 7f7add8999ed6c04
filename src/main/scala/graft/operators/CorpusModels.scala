package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical corpus models for training-data curation: unigram-LM
  * perplexity scoring (the CCNet-style quality signal), a multinomial
  * Naive-Bayes quality classifier (the fastText-classifier role in
  * LLaMA-style pipelines), and hashed-n-gram importance weights (DSIR,
  * Xie et al. 2023). The reference exposes none of these — they are
  * north-star scope: the model-based curation stages a 100 TB
  * training-data pipeline runs between raw ingest and export.
  *
  * All three share one architecture:
  *  - TRAIN is one explode + one map-side-combined hash-agg over the
  *    corpus (token or hashed-feature counts) — the same shuffle shape
  *    as `t_word_freq`, THE canonical scalable aggregation. The model
  *    (vocab/bucket table) is tiny relative to the corpus: capped
  *    vocab, or a fixed bucket space.
  *  - The ln() mapping from counts to fixed-point log-probabilities
  *    happens ONCE, Spark-side, per model row. Natural log is not
  *    correctly-rounded-guaranteed across libm implementations (the
  *    Bm25 scaladoc rule), so the oracle never recomputes it: the
  *    model table is the parquet handoff, DuckDB independently
  *    re-derives every COUNT in it (dropping any row Spark got wrong)
  *    and replays all scoring downstream as exact integer sums.
  *  - SCORE is a broadcast join (model rows ride to the data; the
  *    corpus never shuffles) + one integer aggregation per document.
  *    Summing pre-quantized longs is exact and associative — bit-equal
  *    under any partitioning, task order, or engine.
  *
  * 100 TB posture: corpus-sized data crosses the wire once (the count
  * agg, map-side combined to |vocab| rows); scoring is shuffle-free on
  * the feature side (broadcast ≤ a few 100 MB even at 1M-row vocabs)
  * plus one per-doc combine. No window functions, no driver loops.
  */
object CorpusModels {

  /** Fixed-point scale for log-probabilities: floor(ln(p)·1e9) as
    * BIGINT. 1e9 keeps 9 sub-ln-unit digits; doc sums stay far inside
    * int64 (a 100k-token doc scores ≥ −ln(V)·1e9·100k ≈ −2e15). */
  val LpScale = 1.0e9

  private def lpFp(p: Column): Column = floor(log(p) * lit(LpScale)).cast("long")

  /** The one smoothed log-likelihood-ratio vote both classifiers use:
    * floor((ln((cA+1)/denomA) − ln((cB+1)/denomB))·1e9) as BIGINT —
    * counts +1-smoothed, denominators passed pre-summed (N + V). */
  private def llrFp(cA: Column, denomA: Column, cB: Column, denomB: Column): Column =
    floor((log((cA + lit(1)).cast("double") / denomA.cast("double")) -
           log((cB + lit(1)).cast("double") / denomB.cast("double"))) *
      lit(LpScale)).cast("long")

  // ---------------------------------------------------------- unigram LM

  /** Train a Laplace-smoothed unigram LM over `textCol` tokens.
    *
    * Returns (vocab, stats):
    *  - vocab: (token, cnt, logp_fp) — the `vocabCap` most frequent
    *    tokens (count desc, token asc — deterministic), with
    *    logp_fp = floor(ln((cnt+1)/(N+V))·1e9);
    *  - stats: one row (n_tokens, vocab_total, oov_logp_fp) where N is
    *    the corpus token count, V the UNCAPPED distinct-token count,
    *    and oov_logp_fp = floor(ln(1/(N+V))·1e9) — tokens outside the
    *    capped table score as unseen (the standard cap-the-table
    *    engineering tradeoff; the smoothing denominator still uses the
    *    true V so capping never changes in-vocab probabilities).
    *
    * The cap bounds the scoring broadcast at any corpus size; the
    * count agg is the only corpus-wide shuffle. */
  def unigramLm(docs: DataFrame, textCol: String, vocabCap: Int)
      : (DataFrame, DataFrame) = {
    require(vocabCap > 0, s"vocabCap must be positive, got $vocabCap")
    val counts = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("vocab_total"))
    val denom = (col("n_tokens") + col("vocab_total")).cast("double")
    val vocab = counts
      .orderBy(col("cnt").desc, col("token")).limit(vocabCap)
      .crossJoin(broadcast(totals))
      .withColumn("logp_fp", lpFp((col("cnt") + lit(1)).cast("double") / denom))
      .select(col("token"), col("cnt"), col("logp_fp"))
    val stats = totals
      .withColumn("oov_logp_fp", lpFp(lit(1.0) / denom))
    (vocab, stats)
  }

  /** Per-document cross-entropy under a [[unigramLm]] model: (idCol,
    * n_tokens, nll_fp, cross_entropy) for EVERY input document
    * (zero-token docs keep their row at 0 / 0.0).
    *
    * nll_fp = −Σ logp_fp over token occurrences (exact long sum);
    * cross_entropy = nll_fp/1e9/n_tokens — nats per token, two IEEE
    * divisions applied to exactly-representable integers, so the
    * double is engine-identical. High cross-entropy = far from the
    * corpus distribution (noise / wrong language / gibberish) — the
    * CCNet filter sorts on exactly this. */
  def perplexity(docs: DataFrame, idCol: String, textCol: String,
                 vocab: DataFrame, stats: DataFrame): DataFrame = {
    // Σ_occurrences logp ≡ Σ_distinct cnt·logp over exact longs, so the
    // model join touches one row per (doc, DISTINCT token) — on natural
    // corpora a fraction of the token stream (Heaps' law), and the
    // per-doc count agg combines map-side before anything joins.
    val tok = docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__tc"))
    val scored = tok
      .join(broadcast(vocab.select(col("token"), col("logp_fp"))), Seq("token"), "left")
      .crossJoin(broadcast(stats.select(col("oov_logp_fp"))))
      .withColumn("lp", coalesce(col("logp_fp"), col("oov_logp_fp")))
      .groupBy(col(idCol))
      .agg(sum(col("__tc")).as("n"), (-sum(col("__tc") * col("lp"))).as("nll"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        coalesce(col("nll"), lit(0L)).as("nll_fp"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("nll").cast("double") / lit(LpScale) /
            col("n").cast("double"))
          .as("cross_entropy"))
  }

  // --------------------------------------------------- grouped unigram LMs

  /** Train one Laplace-smoothed unigram LM PER GROUP — the grouped
    * twin of [[unigramLm]] (same math, every count keyed by
    * `groupCol`). CCNet's filter is per-LANGUAGE (one LM per language,
    * each doc scored by its own language's model); DoReMi-style
    * mixture work needs one LM per DOMAIN. Both are this operator
    * with a different group column.
    *
    * Returns (vocab, stats):
    *  - vocab: (grp, token, cnt, logp_fp) — per group, the `vocabCap`
    *    most frequent tokens (count desc, token asc — deterministic);
    *  - stats: (grp, n_tokens, vocab_total, oov_logp_fp), one row per
    *    group with ≥1 token occurrence (a group whose docs all
    *    tokenize empty trains no model).
    *
    * Scale shape: the corpus-wide work is ONE explode + one
    * map-side-combined (grp, token) count agg — identical to the
    * global train. The per-group cap is a `row_number` window over
    * the COUNT table (Σ_g V_g rows, never the corpus), and Catalyst's
    * WindowGroupLimit rewrite keeps each map task's local top-cap per
    * group before that exchange. The model broadcast is ≤ groups·cap
    * rows — bounded when the group column is a curation axis
    * (languages ~10², DoReMi-scale domains 10–10²), which is the
    * operator's contract; it is NOT for high-cardinality keys. */
  def groupedUnigramLm(docs: DataFrame, groupCol: String, textCol: String,
                       vocabCap: Int): (DataFrame, DataFrame) = {
    require(vocabCap > 0, s"vocabCap must be positive, got $vocabCap")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col(groupCol).as("grp"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("grp"), col("token")).agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("grp")).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("vocab_total"))
    val denom = (col("n_tokens") + col("vocab_total")).cast("double")
    val vocab = counts
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("cnt").desc, col("token"))))
      .filter(col("__rn") <= vocabCap)
      .join(broadcast(totals), Seq("grp"))
      .withColumn("logp_fp", lpFp((col("cnt") + lit(1)).cast("double") / denom))
      .select(col("grp"), col("token"), col("cnt"), col("logp_fp"))
    val stats = totals
      .withColumn("oov_logp_fp", lpFp(lit(1.0) / denom))
      .select(col("grp"), col("n_tokens"), col("vocab_total"), col("oov_logp_fp"))
    (vocab, stats)
  }

  /** Per-document cross-entropy where each doc is scored by ITS OWN
    * group's [[groupedUnigramLm]] model — (idCol, grp, n_tokens,
    * nll_fp, cross_entropy) for EVERY input document (zero-token docs
    * keep their row at 0 / 0.0, carrying their group). Same
    * fixed-point contract as [[perplexity]]: the model join touches
    * one row per (doc, distinct token), sums are exact longs, the
    * division chain is engine-identical IEEE. A doc whose group
    * trained no model (possible only when scoring a foreign corpus)
    * keeps n_tokens but scores null — fail-loud beats silently
    * scoring with the wrong group's distribution. */
  def groupedPerplexity(docs: DataFrame, idCol: String, groupCol: String,
                        textCol: String, vocab: DataFrame,
                        stats: DataFrame): DataFrame = {
    val tok = docs.select(col(idCol), col(groupCol).as("grp"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("grp"), col("token")).agg(count(lit(1)).as("__tc"))
    val scored = tok
      .join(broadcast(vocab.select(col("grp"), col("token"), col("logp_fp"))),
        Seq("grp", "token"), "left")
      // LEFT on stats: an inner join would DROP every token row of an
      // unmodeled group, making foreign-group docs indistinguishable
      // from empty ones (n_tokens 0, cross_entropy 0.0 — the best
      // possible score, silently keeping exactly the docs the model
      // knows nothing about). Unmodeled groups keep their token
      // counts and score NULL — the scaladoc's fail-loud contract.
      .join(broadcast(stats.select(col("grp"), col("oov_logp_fp"))),
        Seq("grp"), "left")
      .withColumn("lp", coalesce(col("logp_fp"), col("oov_logp_fp")))
      .groupBy(col(idCol), col("grp"))
      // a group present in vocab but absent from stats (possible only
      // when the two frames were not built together) leaves lp null on
      // just the OOV rows; a bare sum would SKIP those and report a
      // partial nll — any null lp in the group poisons the whole score
      // to NULL, same fail-loud contract as the fully-unmodeled case
      .agg(sum(col("__tc")).as("n"),
        when(max(col("lp").isNull.cast("int")) === 1, lit(null))
          .otherwise(-sum(col("__tc") * col("lp"))).as("nll"))
    docs.select(col(idCol), col(groupCol).as("grp"))
      .join(scored, Seq(idCol, "grp"), "left")
      .select(col(idCol), col("grp"),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        // empty doc (no scored row): 0; unmodeled group (tokens but
        // every lp null): NULL rides through sum -> stays NULL
        when(col("n").isNull, lit(0L)).otherwise(col("nll")).as("nll_fp"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("nll").cast("double") / lit(LpScale) /
            col("n").cast("double"))
          .as("cross_entropy"))
  }

  // ------------------------------------------- multiclass NB (language ID)

  /** Smoothed per-class document priors for [[multiclassNbPredict]]:
    * (grp, n_docs, prior_fp) with prior_fp =
    * floor(ln((n_c+1)/(N+K))·1e9) — +1-smoothed over the K observed
    * classes. One count agg to K rows; nothing corpus-sized. */
  def multiclassNbPriors(docs: DataFrame, classCol: String): DataFrame = {
    val perClass = docs.groupBy(col(classCol).as("grp"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = perClass.agg(sum(col("n_docs")).as("__nd"), count(lit(1)).as("__k"))
    perClass.crossJoin(broadcast(tot))
      .withColumn("prior_fp", lpFp((col("n_docs") + lit(1)).cast("double") /
        (col("__nd") + col("__k")).cast("double")))
      .select(col("grp"), col("n_docs"), col("prior_fp"))
  }

  /** Multiclass multinomial Naive Bayes — the fastText-classifier role
    * for language/domain TAGGING (CCNet tags every doc with a language
    * before its per-language LM filter; the binary [[nbTrain]] covers
    * the keep/drop gate). Generatively, NB with per-class unigram
    * likelihoods IS one [[groupedUnigramLm]] per class plus a doc
    * prior, so training reuses that operator verbatim: score(c) =
    * prior_fp(c) + Σ_tokens logp_fp(token|c), argmax over classes with
    * the deterministic (score desc, class asc) tie-break.
    *
    * Scoring never multiplies the token stream by K: the (doc,
    * distinct-token) count frame joins the capped vocab BY TOKEN ONLY
    * (≤K matches per token, sparse), aggregates to a compact
    * (doc, class) matched frame, and the OOV mass is reconstructed
    * arithmetically — score(c) = prior(c) + matched_sum(c) +
    * (n_tokens − matched_cnt(c))·oov(c), exact longs throughout. Only
    * doc-keyed, K-bounded frames shuffle after the one token-count
    * agg; the model (≤ K·cap rows) and the K-row class table ride
    * broadcasts. Classes whose training docs all tokenize empty train
    * no LM and are not scoreable (dropped by the stats join) —
    * fail-soft by omission rather than scoring on an undefined
    * distribution.
    *
    * Output: (idCol, n_tokens, pred_class, score_fp) for every input
    * document; zero-token docs score prior-only (argmax of priors). */
  def multiclassNbPredict(docs: DataFrame, idCol: String, textCol: String,
                          vocab: DataFrame, stats: DataFrame,
                          priors: DataFrame): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__tc"))
    val matched = tok
      .join(broadcast(vocab.select(col("grp"), col("token"), col("logp_fp"))),
        Seq("token"))
      .groupBy(col(idCol), col("grp"))
      .agg(sum(col("__tc") * col("logp_fp")).as("__msum"),
        sum(col("__tc")).as("__mcnt"))
    val n = tok.groupBy(col(idCol)).agg(sum(col("__tc")).as("__n"))
    val classes = stats.select(col("grp"), col("oov_logp_fp"))
      .join(priors.select(col("grp"), col("prior_fp")), Seq("grp"))
    val scored = docs.select(col(idCol))
      .join(n, Seq(idCol), "left")
      .crossJoin(broadcast(classes))
      .join(matched, Seq(idCol, "grp"), "left")
      .withColumn("score_fp",
        col("prior_fp") + coalesce(col("__msum"), lit(0L)) +
          (coalesce(col("__n"), lit(0L)) - coalesce(col("__mcnt"), lit(0L))) *
            col("oov_logp_fp"))
      .select(col(idCol), col("grp"), col("score_fp"),
        coalesce(col("__n"), lit(0L)).as("__n"))
    // deterministic argmax: top-1 per doc by (score desc, class asc)
    // — ONE doc-keyed exchange (a max-agg + self-join spends three on
    // the same K-row frames); the rn=1 filter triggers Catalyst's
    // WindowGroupLimit rewrite, so each map task keeps only its local
    // best per doc before the exchange
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_fp").desc, col("grp"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__n").as("n_tokens"),
        col("grp").as("pred_class"), col("score_fp"))
  }

  /** (pred_class, score_fp) under closure-sized multiclass NB model
    * maps — one pass over the tokens accumulating all K class sums
    * (vocab: token → per-class lp present in the capped table; missing
    * classes take that class's OOV), then the deterministic
    * (score desc, class asc) argmax. Exactly
    * [[multiclassNbPredict]]'s integers; classes arrive sorted asc so
    * the first strict max wins ties toward the smaller class. */
  private[graft] def mcNbKernel(toks: Seq[String],
                                vocab: Map[String, Map[String, Long]],
                                classesAsc: Array[(String, Long, Long)])
      : (String, Long) = {
    val k = classesAsc.length
    // fail LOUD with the actual problem: an empty class table (a model
    // trained on docs that all tokenized empty) would otherwise AIOOBE
    // inside the serving/streaming UDF, where the batch path degrades
    // to an empty result frame
    require(k > 0, "mcNbKernel: empty class table — the model has no " +
      "trained classes (training corpus tokenized empty?)")
    val sums = new Array[Long](k)
    var c = 0
    while (c < k) { sums(c) = classesAsc(c)._3; c += 1 } // priors
    if (toks != null) {
      var i = 0
      while (i < toks.length) {
        val byClass = vocab.getOrElse(toks(i), null)
        var j = 0
        while (j < k) {
          val cls = classesAsc(j)
          val lp = if (byClass == null) cls._2
                   else byClass.getOrElse(cls._1, cls._2)
          sums(j) += lp
          j += 1
        }
        i += 1
      }
    }
    var bi = 0
    var b = sums(0)
    c = 1
    while (c < k) { if (sums(c) > b) { b = sums(c); bi = c }; c += 1 }
    (classesAsc(bi)._1, b)
  }

  /** Spark orders strings by unsigned UTF-8 BYTES (UTF8String binary
    * comparison); JVM `String.compareTo` orders by UTF-16 code units
    * — they disagree when a supplementary-plane character (UTF-8
    * lead byte F0, UTF-16 surrogate D800–DBFF) meets a U+E000–U+FFFF
    * one (UTF-8 lead EE–EF, UTF-16 code unit above the surrogates).
    * Every driver-side class ordering that must reproduce a Spark
    * tie-break sorts with THIS, or batch and serve/stream could pick
    * different classes on tied scores. */
  private[graft] val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val c = (ab(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      ab.length - bb.length
    }
  }

  /** Collect a multiclass NB model into the closure-sized maps
    * [[mcNbScoreColumn]] and the serving probe want: (token →
    * (class → lp), classes sorted asc as (grp, oov_fp, prior_fp)).
    * Bounded by K·cap rows by construction. Classes sort in UTF-8
    * BYTE order ([[utf8Ordering]]) — the batch argmax window's
    * tie-break order, which JVM string order does not match for
    * supplementary-plane labels. */
  def mcNbModelMaps(vocab: DataFrame, stats: DataFrame, priors: DataFrame)
      : (Map[String, Map[String, Long]], Array[(String, Long, Long)]) = {
    val v = vocab.select(col("token"), col("grp"), col("logp_fp")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
    val cls = stats.select(col("grp"), col("oov_logp_fp"))
      .join(priors.select(col("grp"), col("prior_fp")), Seq("grp")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)(utf8Ordering)
    (v, cls)
  }

  /** Per-ROW multiclass NB prediction for the streaming/serving path —
    * same contract as the rest of the closure-scoring family: capped
    * maps ride the closure, rows score independently (stateless, any
    * streaming output mode), integers and argmax exactly
    * [[multiclassNbPredict]]'s (batch==stream parity spec-gated).
    * Returns a struct (pred_class, score_fp); null text predicts the
    * prior argmax like the batch path's left joins. */
  def mcNbScoreColumn(vocab: Map[String, Map[String, Long]],
                      classesAsc: Array[(String, Long, Long)])(text: Column): Column = {
    val scoreUdf = udf { (toks: Seq[String]) =>
      val (cls, s) = mcNbKernel(toks, vocab, classesAsc)
      McNbRow(cls, s)
    }
    scoreUdf(TextAnalysis.tokens(text))
  }

  /** Row shape of [[mcNbScoreColumn]], named as the batch output. */
  case class McNbRow(pred_class: String, score_fp: Long)

  /** DoReMi-flavored domain mixture weights (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining" — the published idea: upweight domains where a
    * generalist reference model has the most LEARNABLE HEADROOM over
    * a domain-fit model; here both models are unigram LMs, the same
    * cheap proxy family the rest of the curation suite uses).
    *
    * Per domain: excess_fp = clamp(Σ nll_global − Σ nll_self, ≥0)
    * over that domain's tokenized docs — how many fixed-point nats
    * the GLOBAL model loses to the domain's OWN model on the
    * domain's text (0 = the domain is already perfectly modeled
    * globally; large = distinctive, under-served). The mixture
    * weight is the exact rational excess_fp / Σ excess_fp (uniform
    * 1/k when every excess is 0 — e.g. a corpus whose domains are
    * distributionally identical): one IEEE division of exact longs
    * per row, engine-identical, no softmax/temperature (an exp()
    * would put libm on the verify path — the Bm25 rule).
    *
    * Output: (domain, n_docs, n_tokens, nll_global_fp, nll_self_fp,
    * excess_fp, mix_weight) — one row per domain with ≥1 tokenized
    * doc, n_docs counting exactly those docs.
    *
    * Scale shape: ONE pass over the token stream — both models ride
    * broadcast joins onto the same (doc, domain, distinct-token)
    * count frame, and the aggregation goes STRAIGHT to the
    * per-domain row (sums of per-doc longs == sums of per-occurrence
    * longs, associativity of exact arithmetic), so there is no
    * per-doc shuffle at all: one map-side-combined agg to |domains|
    * rows. Nothing corpus-sized broadcasts (both models capped),
    * nothing funnels to one task. */
  def domainMixWeights(docs: DataFrame, idCol: String, domainCol: String,
                       textCol: String,
                       globalVocab: DataFrame, globalStats: DataFrame,
                       grpVocab: DataFrame, grpStats: DataFrame): DataFrame = {
    val tok = docs.select(col(idCol), col(domainCol).as("grp"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("grp"), col("token")).agg(count(lit(1)).as("__tc"))
    val per = tok
      .join(broadcast(globalVocab.select(col("token"), col("logp_fp").as("__glp"))),
        Seq("token"), "left")
      .join(broadcast(grpVocab.select(col("grp"), col("token"),
        col("logp_fp").as("__dlp"))), Seq("grp", "token"), "left")
      .join(broadcast(grpStats.select(col("grp"), col("oov_logp_fp").as("__doov"))),
        Seq("grp"))
      .crossJoin(broadcast(globalStats.select(col("oov_logp_fp").as("__goov"))))
      .groupBy(col("grp").as("domain"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        sum(col("__tc")).as("n_tokens"),
        (-ExactSums.guardedLongSum(col("__tc") * coalesce(col("__glp"), col("__goov")),
          "nll_global_fp")).as("nll_global_fp"),
        (-ExactSums.guardedLongSum(col("__tc") * coalesce(col("__dlp"), col("__doov")),
          "nll_self_fp")).as("nll_self_fp"))
      .withColumn("excess_fp",
        greatest(col("nll_global_fp") - col("nll_self_fp"), lit(0L)))
    val tot = per.agg(ExactSums.guardedLongSum(col("excess_fp"), "__te").as("__te"),
      count(lit(1)).as("__nd"))
    per.crossJoin(broadcast(tot))
      .withColumn("mix_weight",
        when(col("__te") === 0, lit(1.0) / col("__nd").cast("double"))
          .otherwise(col("excess_fp").cast("double") / col("__te").cast("double")))
      .drop("__te", "__nd")
  }

  // ----------------------------------------------------------- bigram LM

  /** (ctx, tok) transition rows without round-tripping through the
    * concatenated "u w" gram string (build + re-split doubled the
    * bytes in the hot explode): two clamped slices zipped into named
    * structs. Empty/one-token docs produce empty arrays → explode
    * drops them. */
  private def transitions(docs: DataFrame, keep: Seq[Column],
                          textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val len = greatest(size(toks) - lit(1), lit(0))
    val zipped = zip_with(
      slice(toks, lit(1), len), slice(toks, lit(2), len),
      (c, t) => struct(c.as("ctx"), t.as("tok")))
    docs.select(keep :+ explode(zipped).as("__tr"): _*)
      .select(keep :+ col("__tr.ctx") :+ col("__tr.tok"): _*)
  }

  /** Train a Laplace-smoothed BIGRAM LM — the context-aware upgrade of
    * [[unigramLm]] (CCNet's filter uses exactly this family's
    * perplexity, just at higher order): p(w|u) = (c(u,w)+1)/(c(u)+V).
    *
    * Returns (bigrams, contexts):
    *  - bigrams: (ctx, tok, c_uw, logp_fp) — the `bigramCap` most
    *    frequent transitions (count desc, ctx asc, tok asc);
    *  - contexts: (ctx, c_u, v, oov_logp_fp) — the `contextCap` most
    *    frequent contexts (c_u desc, ctx asc), where c_u = Σ_w c(u,w),
    *    v is the corpus distinct-token count (constant per row, so a
    *    verifier can re-derive EVERY integer input to both ln
    *    mappings from the model tables alone), and oov_logp_fp =
    *    floor(ln(1/(c_u+V))·1e9) — the score of a transition out of a
    *    known context whose target fell outside the capped transition
    *    table. The ln values are precomputed per model row, so
    *    scoring needs no separate stats handoff.
    *
    * BOTH caps bound the scoring broadcasts at any corpus size
    * (web-scale distinct tokens run to 1e9 — an uncapped context
    * table would not broadcast): transitions to a capped-out target
    * score the context OOV; transitions out of a capped-out context
    * DROP, the same contract as an unknown context
    * ([[bigramPerplexity]]).
    *
    * Same shuffle shape as the unigram train: one explode + two
    * map-side-combined aggs ((ctx,tok) then ctx). */
  def bigramLm(docs: DataFrame, textCol: String, bigramCap: Int,
               contextCap: Int): (DataFrame, DataFrame) = {
    require(bigramCap > 0, s"bigramCap must be positive, got $bigramCap")
    require(contextCap > 0, s"contextCap must be positive, got $contextCap")
    val tok = TextAnalysis.tokens(col(textCol))
    val trans = transitions(docs, Seq.empty, textCol)
    val pairCounts = trans.groupBy(col("ctx"), col("tok"))
      .agg(count(lit(1)).as("c_uw"))
    val ctxAll = pairCounts.groupBy(col("ctx")).agg(sum(col("c_uw")).as("c_u"))
    val ctxCapped =
      if (contextCap == Int.MaxValue) ctxAll
      else ctxAll.orderBy(col("c_u").desc, col("ctx")).limit(contextCap)
    val vocab = docs.select(explode(tok).as("t")).agg(
      countDistinct(col("t")).as("v"))
    val contexts = ctxCapped.crossJoin(broadcast(vocab))
      .withColumn("oov_logp_fp",
        lpFp(lit(1.0) / (col("c_u") + col("v")).cast("double")))
      .select(col("ctx"), col("c_u"), col("v"), col("oov_logp_fp"))
    // bigram log-probs use the TRUE (uncapped) context totals: a
    // capped-in transition under a capped-out context is simply never
    // reached by scoring (the contexts join drops it first)
    val pairCapped =
      // mirror the contextCap sentinel: an "uncapped" Int.MaxValue must
      // not plan a top-2^31 global sort-limit over the corpus-sized
      // pair table (the exact single-task funnel the cap exists to
      // prevent)
      if (bigramCap == Int.MaxValue) pairCounts
      else pairCounts
        .orderBy(col("c_uw").desc, col("ctx"), col("tok")).limit(bigramCap)
    val bigrams = pairCapped
      .join(ctxAll, Seq("ctx"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp_fp",
        lpFp((col("c_uw") + lit(1)).cast("double") /
             (col("c_u") + col("v")).cast("double")))
      .select(col("ctx"), col("tok"), col("c_uw"), col("logp_fp"))
    (bigrams, contexts)
  }

  /** Per-document cross-entropy over bigram TRANSITIONS: (idCol,
    * n_transitions, nll_fp, cross_entropy) for every document; docs
    * with < 2 tokens have no transitions and score 0. Transitions out
    * of a known context to a capped-out target take the context's OOV
    * log-prob (scoring the training corpus, every context is known —
    * the inner contexts join is total by construction, and a foreign
    * doc's unknown context drops the transition, spec-pinned). */
  def bigramPerplexity(docs: DataFrame, idCol: String, textCol: String,
                       bigrams: DataFrame, contexts: DataFrame): DataFrame = {
    val trans = transitions(docs, Seq(col(idCol)), textCol)
    val scored = trans
      .join(broadcast(bigrams.select(col("ctx"), col("tok"), col("logp_fp"))),
        Seq("ctx", "tok"), "left")
      .join(broadcast(contexts.select(col("ctx"), col("oov_logp_fp"))), Seq("ctx"))
      .withColumn("lp", coalesce(col("logp_fp"), col("oov_logp_fp")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n"), (-sum(col("lp"))).as("nll"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).as("n_transitions"),
        coalesce(col("nll"), lit(0L)).as("nll_fp"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("nll").cast("double") / lit(LpScale) /
            col("n").cast("double"))
          .as("cross_entropy"))
  }

  /** The stupid-backoff alpha, ln(0.4) in [[LpScale]] fixed point —
    * Brants et al. 2007's constant. An ALGORITHM constant (like the
    * ln mapping itself), not data-derived: the oracle interpolates
    * the same literal, nothing rides a handoff. */
  val StupidBackoffAlphaFp: Long = math.floor(math.log(0.4) * LpScale).toLong

  /** Stupid-backoff perplexity (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — THE web-scale smoothing: no
    * normalization, just back off to the lower order with a constant
    * penalty): a transition scores its capped-table bigram log-prob
    * if present, else alpha + the token's UNIGRAM log-prob (capped
    * vocab, OOV fallback). Nothing drops — unknown contexts back off
    * like everything else, so n counts ALL transitions (contrast
    * [[bigramPerplexity]]'s unknown-context drop). Output shape =
    * [[bigramPerplexity]]. Every ln is precomputed per model row
    * (both tables capped, both broadcasts bounded); scoring is two
    * broadcast left joins + exact long sums — the same
    * engine-portable fixed-point contract as the whole family. */
  def backoffPerplexity(docs: DataFrame, idCol: String, textCol: String,
                        bigrams: DataFrame, vocab: DataFrame, stats: DataFrame,
                        alphaFp: Long = StupidBackoffAlphaFp): DataFrame = {
    val trans = transitions(docs, Seq(col(idCol)), textCol)
    val scored = trans
      .join(broadcast(bigrams.select(col("ctx"), col("tok"),
        col("logp_fp").as("__bi"))), Seq("ctx", "tok"), "left")
      .join(broadcast(vocab.select(col("token").as("tok"),
        col("logp_fp").as("__uni"))), Seq("tok"), "left")
      .crossJoin(broadcast(stats.select(col("oov_logp_fp"))))
      .withColumn("lp", coalesce(col("__bi"),
        lit(alphaFp) + coalesce(col("__uni"), col("oov_logp_fp"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n"), (-sum(col("lp"))).as("nll"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).as("n_transitions"),
        coalesce(col("nll"), lit(0L)).as("nll_fp"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("nll").cast("double") / lit(LpScale) /
            col("n").cast("double"))
          .as("cross_entropy"))
  }

  // ------------------------------------------- Naive-Bayes quality classifier

  /** Train a multinomial Naive-Bayes classifier from boolean-labeled
    * documents (label true = the class to keep; in the curation
    * pipeline the labels come from the rule-based quality gate, making
    * this the classic weak-supervision bootstrap: rules label a seed,
    * the classifier generalizes them).
    *
    * Returns (model, prior):
    *  - model: (token, c_pos, c_neg, llr_fp) — the `vocabCap` tokens
    *    with the highest total count (c_pos+c_neg desc, token asc —
    *    deterministic, the [[unigramLm]] cap pattern), with
    *    llr_fp = floor((ln((c_pos+1)/(N_pos+V)) −
    *                    ln((c_neg+1)/(N_neg+V)))·1e9)
    *    — the per-occurrence log-likelihood-ratio vote;
    *  - prior: one row (n_pos_docs, n_neg_docs, n_pos_tok, n_neg_tok,
    *    vocab_size, prior_fp) with prior_fp the (+1-smoothed) log doc
    *    prior. The five count fields exist so a verifier can re-derive
    *    every input to the ln()s; N_pos/N_neg/V are always the
    *    UNCAPPED totals, so capping never changes an in-model LLR.
    *
    * The cap bounds the scoring broadcast ([[nbScore]]) and the
    * closure map ([[nbModelMap]]) at any corpus size — web-scale
    * distinct tokens run to 1e9, far beyond broadcast range. Capped-out
    * tokens score the same neutral 0 as tokens never seen in training
    * (rare-token LLRs carry ~zero evidence, so the cap is also
    * statistically benign); the scoring contract is unchanged. */
  def nbTrain(docs: DataFrame, textCol: String, labelCol: String,
              vocabCap: Int): (DataFrame, DataFrame) = {
    require(vocabCap > 0, s"vocabCap must be positive, got $vocabCap")
    val tok = docs.select(col(labelCol).as("__lbl"),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val counts = tok.groupBy(col("token")).agg(
      sum(when(col("__lbl"), 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("__lbl"), 0L).otherwise(1L)).as("c_neg"))
    val totals = counts.agg(
      sum(col("c_pos")).as("n_pos_tok"),
      sum(col("c_neg")).as("n_neg_tok"),
      count(lit(1)).as("vocab_size"))
    val docTotals = docs.agg(
      sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos_docs"),
      sum(when(col(labelCol), 0L).otherwise(1L)).as("n_neg_docs"))
    val model = counts
      .orderBy((col("c_pos") + col("c_neg")).desc, col("token")).limit(vocabCap)
      .crossJoin(broadcast(totals))
      .withColumn("llr_fp", llrFp(
        col("c_pos"), col("n_pos_tok") + col("vocab_size"),
        col("c_neg"), col("n_neg_tok") + col("vocab_size")))
      .select(col("token"), col("c_pos"), col("c_neg"), col("llr_fp"))
    val prior = docTotals.crossJoin(totals)
      .withColumn("prior_fp",
        lpFp((col("n_pos_docs") + lit(1)).cast("double") /
             (col("n_neg_docs") + lit(1)).cast("double")))
      .select(col("n_pos_docs"), col("n_neg_docs"),
        col("n_pos_tok"), col("n_neg_tok"), col("vocab_size"), col("prior_fp"))
    (model, prior)
  }

  /** Score documents under a [[nbTrain]] model: (idCol, n_tokens,
    * score_fp, keep_pred) for every input document. score_fp =
    * prior_fp + Σ llr_fp over token occurrences; keep_pred =
    * score_fp > 0 (the Bayes decision boundary). Tokens absent from
    * the model (possible when scoring a different corpus than the
    * training one) vote 0 — the neutral no-evidence choice. Zero-token
    * docs score exactly the prior. */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
              model: DataFrame, prior: DataFrame): DataFrame = {
    // (doc, distinct-token) counts before the model join — the same
    // cnt-weighted exact-sum reshape as [[perplexity]]
    val tok = docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__tc"))
    val scored = tok
      .join(broadcast(model.select(col("token"), col("llr_fp"))), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("__tc")).as("n"),
        sum(col("__tc") * coalesce(col("llr_fp"), lit(0L))).as("s"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .crossJoin(broadcast(prior.select(col("prior_fp"))))
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        (coalesce(col("s"), lit(0L)) + col("prior_fp")).as("score_fp"))
      .withColumn("keep_pred", col("score_fp") > 0)
  }

  /** Per-ROW NB scoring for the streaming/serving path: the model
    * rides the closure as a plain Map (kilobytes at capped vocabs)
    * and every row scores independently — stateless, no aggregation,
    * so it runs under any streaming output mode with zero state
    * store. Produces exactly [[nbScore]]'s integers (same long sums,
    * same neutral-0 unknowns); batch==stream parity is spec-gated. */
  def nbScoreColumn(model: Map[String, Long], priorFp: Long)(text: Column): Column = {
    val scoreUdf = udf { (toks: Seq[String]) => nbKernel(toks, model, priorFp) }
    scoreUdf(TextAnalysis.tokens(text))
  }

  // ------------------------- closure-scoring kernels (ONE loop per model)
  // Shared by the streaming UDFs above/below and the driver-side
  // probes (graft.serving.Serving.scoreNb/scorePpl/scoreBigramPpl):
  // parity-critical logic lives exactly once, so the batch==stream and
  // batch==serve contracts cannot fork between hand-synced copies.
  // null toks = null text: the batch paths' left joins produce the
  // same neutral row (prior-only / zeros).

  /** Driver-side twin of [[TextAnalysis.tokens]] for the probes:
    * whitespace split, empties dropped. */
  private[graft] def splitTokens(text: String): Array[String] =
    if (text == null) null else text.split(" ").filter(_.nonEmpty)

  /** score_fp = prior + Σ LLR votes (unknown/capped-out → 0). */
  private[graft] def nbKernel(toks: Seq[String], model: Map[String, Long],
                              priorFp: Long): Long = {
    var s = priorFp
    if (toks != null) {
      var i = 0
      while (i < toks.length) { s += model.getOrElse(toks(i), 0L); i += 1 }
    }
    s
  }

  /** (n_tokens, nll_fp) under a capped unigram vocab + OOV scalar. */
  private[graft] def pplKernel(toks: Seq[String], vocab: Map[String, Long],
                               oovFp: Long): (Long, Long) = {
    var n = 0L
    var nll = 0L
    if (toks != null) {
      var i = 0
      while (i < toks.length) { nll -= vocab.getOrElse(toks(i), oovFp); i += 1 }
      n = toks.length.toLong
    }
    (n, nll)
  }

  /** (n_transitions, nll_fp) under stupid backoff — capped-table
    * bigram lp, else alpha + unigram lp (vocab or OOV); nothing
    * drops ([[backoffPerplexity]]'s contract). */
  private[graft] def backoffPplKernel(toks: Seq[String],
                                      bigrams: Map[(String, String), Long],
                                      vocab: Map[String, Long], oovFp: Long,
                                      alphaFp: Long): (Long, Long) = {
    var n = 0L
    var nll = 0L
    if (toks != null && toks.length >= 2) {
      var i = 0
      while (i < toks.length - 1) {
        n += 1
        nll -= (bigrams.get((toks(i), toks(i + 1))) match {
          case Some(lp) => lp
          case None => alphaFp + vocab.getOrElse(toks(i + 1), oovFp)
        })
        i += 1
      }
    }
    (n, nll)
  }

  /** Per-ROW stupid-backoff cross-entropy for the streaming path —
    * contract as [[bigramPplScoreColumn]]; parity with
    * [[backoffPerplexity]] spec-gated. */
  def backoffPplScoreColumn(bigrams: Map[(String, String), Long],
                            vocab: Map[String, Long], oovFp: Long,
                            alphaFp: Long = StupidBackoffAlphaFp)(text: Column): Column = {
    val scoreUdf = udf { (toks: Seq[String]) =>
      val (n, nll) = backoffPplKernel(toks, bigrams, vocab, oovFp, alphaFp)
      BigramPplRow(n, nll, if (n == 0L) 0.0 else nll.toDouble / LpScale / n.toDouble)
    }
    scoreUdf(TextAnalysis.tokens(text))
  }

  /** (n_transitions, nll_fp) under capped bigram/context maps —
    * capped-out target scores its context's OOV; unknown/capped-out
    * context DROPS the transition (the [[bigramPerplexity]] inner
    * join). */
  private[graft] def bigramPplKernel(toks: Seq[String],
                                     bigrams: Map[(String, String), Long],
                                     contexts: Map[String, Long]): (Long, Long) = {
    var n = 0L
    var nll = 0L
    if (toks != null && toks.length >= 2) {
      var i = 0
      while (i < toks.length - 1) {
        contexts.get(toks(i)) match {
          case Some(ctxOov) =>
            n += 1
            nll -= bigrams.getOrElse((toks(i), toks(i + 1)), ctxOov)
          case None => // unknown or capped-out context: drops
        }
        i += 1
      }
    }
    (n, nll)
  }

  /** Collect a [[nbTrain]] model into the closure-sized form
    * [[nbScoreColumn]] wants. Bounded by the vocab (cap it at scale —
    * the same contract as the scoring broadcast). */
  def nbModelMap(model: DataFrame): Map[String, Long] =
    model.select(col("token"), col("llr_fp")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Persist a trained NB model next to its corpus (`dir/model`,
    * `dir/prior`) — the batch-train / online-serve split: a nightly
    * job rebuilds the model, resident scorers
    * ([[graft.serving.Serving.scoreNb]]) read the layout with no
    * Spark session. The model is vocab-bounded → coalesce(1). */
  def saveNbModel(model: DataFrame, prior: DataFrame, dir: String): Unit = {
    model.coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    prior.coalesce(1).write.mode("overwrite").parquet(s"$dir/prior")
  }

  /** Persist a trained [[unigramLm]] (`dir/vocab`, `dir/stats`) for
    * [[graft.serving.Serving.scorePpl]] — same split as
    * [[saveNbModel]]: nightly batch retrain, driver-latency serve. */
  def saveLmModel(vocab: DataFrame, stats: DataFrame, dir: String): Unit = {
    vocab.coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
    stats.coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Persist a trained [[bigramLm]] (`dir/bigrams`, `dir/contexts`)
    * for [[graft.serving.Serving.scoreBigramPpl]] — the same
    * batch-train/online-serve split as [[saveLmModel]]. Both tables
    * are capped by construction (bigramCap / contextCap are required
    * parameters) → coalesce(1). */
  def saveBigramLm(bigrams: DataFrame, contexts: DataFrame, dir: String): Unit = {
    bigrams.coalesce(1).write.mode("overwrite").parquet(s"$dir/bigrams")
    contexts.coalesce(1).write.mode("overwrite").parquet(s"$dir/contexts")
  }

  /** Persist a trained multiclass NB model (`dir/vocab`, `dir/stats`,
    * `dir/priors`) for [[graft.serving.Serving.scoreMcNb]] — the same
    * batch-train/online-serve split as [[saveNbModel]]: a nightly job
    * retrains the tagger, resident scorers read the layout with no
    * Spark session. All three tables are bounded (K·cap / K / K rows)
    * → coalesce(1). */
  def saveMcNbModel(vocab: DataFrame, stats: DataFrame, priors: DataFrame,
                    dir: String): Unit = {
    vocab.coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
    stats.coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    priors.coalesce(1).write.mode("overwrite").parquet(s"$dir/priors")
  }

  /** Collect a [[unigramLm]] vocab into the closure-sized map
    * [[pplScoreColumn]] wants — cap-bounded by construction. */
  def lmModelMap(vocab: DataFrame): Map[String, Long] =
    vocab.select(col("token"), col("logp_fp")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The OOV log-prob scalar from a [[unigramLm]] stats frame. */
  def lmOovFp(stats: DataFrame): Long =
    stats.select(col("oov_logp_fp")).collect()(0).getLong(0)

  /** Per-ROW LM cross-entropy for the streaming/serving path — the
    * perplexity twin of [[nbScoreColumn]]: the capped vocab rides the
    * closure as a plain Map, every row scores independently
    * (stateless, no aggregation, any streaming output mode), and the
    * integers are exactly [[perplexity]]'s (same long sums, same OOV
    * routing, same two-IEEE-division cross-entropy; batch==stream
    * parity is spec-gated). Returns a struct column
    * (n_tokens, nll_fp, cross_entropy); null text scores (0, 0, 0.0)
    * like the batch path's left join. */
  def pplScoreColumn(vocab: Map[String, Long], oovFp: Long)(text: Column): Column = {
    val scoreUdf = udf { (toks: Seq[String]) =>
      val (n, nll) = pplKernel(toks, vocab, oovFp)
      PplRow(n, nll, if (n == 0L) 0.0 else nll.toDouble / LpScale / n.toDouble)
    }
    scoreUdf(TextAnalysis.tokens(text))
  }

  /** Row shape of [[pplScoreColumn]] — field names match the batch
    * [[perplexity]] output so `select("ppl.*")` is the batch schema. */
  case class PplRow(n_tokens: Long, nll_fp: Long, cross_entropy: Double)

  /** Collect a [[bigramLm]] model into the closure-sized maps
    * [[bigramPplScoreColumn]] wants — both cap-bounded by
    * construction (bigramCap/contextCap are required). */
  def bigramModelMaps(bigrams: DataFrame, contexts: DataFrame)
      : (Map[(String, String), Long], Map[String, Long]) = {
    val bi = bigrams.select(col("ctx"), col("tok"), col("logp_fp")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ctx = contexts.select(col("ctx"), col("oov_logp_fp")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (bi, ctx)
  }

  /** Per-ROW bigram-LM cross-entropy for the streaming path — the
    * context-aware sibling of [[pplScoreColumn]], same contract:
    * capped maps ride the closure, rows score independently, and the
    * integers are exactly [[bigramPerplexity]]'s (same transition
    * enumeration, capped-out-target OOV, unknown/capped-out-context
    * DROP, long sums, division chain; batch==stream parity
    * spec-gated). Field names follow the batch output
    * (n_transitions). */
  def bigramPplScoreColumn(bigrams: Map[(String, String), Long],
                           contexts: Map[String, Long])(text: Column): Column = {
    val scoreUdf = udf { (toks: Seq[String]) =>
      val (n, nll) = bigramPplKernel(toks, bigrams, contexts)
      BigramPplRow(n, nll, if (n == 0L) 0.0 else nll.toDouble / LpScale / n.toDouble)
    }
    scoreUdf(TextAnalysis.tokens(text))
  }

  /** Row shape of [[bigramPplScoreColumn]], named as the batch
    * [[bigramPerplexity]] output. */
  case class BigramPplRow(n_transitions: Long, nll_fp: Long, cross_entropy: Double)

  // ---------------------------------------------------- character entropy

  /** Per-document character-level Shannon entropy (nats) — the
    * Gopher/RefinedWeb-style junk signal orthogonal to the token
    * metrics: near-zero = one repeated character (padding, ASCII-art
    * runs), near-ln(alphabet) = uniform noise (mojibake, base64
    * blobs); natural text sits in a band between.
    *
    * H = ln(n) − (Σ_ch c·ln(c))/n over the doc's character counts —
    * every ln comes from ONE tiny table: the distinct count values in
    * the corpus (≤ max doc length rows, CORPUS-SIZE-INDEPENDENT —
    * counts repeat massively), published through `publish` so a
    * verifier re-derives every count and takes only the ln value
    * mapping from the handoff (the family's ln rule). Per-doc sums
    * are exact longs; the output double is the engine-identical
    * division/subtraction chain. A doc of one repeated character
    * scores EXACTLY 0.0 (the two fixed-point terms cancel).
    *
    * Characters are UTF-16 code units on the Spark side (split("")) —
    * identical to a SQL per-char split for all BMP text; a
    * supplementary-plane character counts as its two surrogates here
    * and one char there, which the count-verifying oracle surfaces
    * LOUDLY rather than silently.
    *
    * 100 TB posture: one explode + one (doc, char) count agg (the
    * word-freq shuffle over a ≤alphabet-per-doc key space), one
    * broadcast of the tiny ln table, doc-keyed aggs after. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String,
                  publish: DataFrame => DataFrame = identity): DataFrame = {
    val cc = docs.select(col(idCol),
        explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("cnt"))
    val n = cc.groupBy(col(idCol)).agg(sum(col("cnt")).as("n_chars"))
    val vals = cc.select(col("cnt").as("v"))
      .union(n.select(col("n_chars").as("v"))).distinct()
    val lnTable = publish(vals.withColumn("ln_fp",
      floor(log(col("v").cast("double")) * lit(LpScale)).cast("long")))
    val sums = cc
      .join(broadcast(lnTable), cc("cnt") === lnTable("v"))
      .groupBy(col(idCol)).agg(sum(col("cnt") * col("ln_fp")).as("s"))
    docs.select(col(idCol))
      .join(n, Seq(idCol), "left")
      .join(sums, Seq(idCol), "left")
      .join(broadcast(lnTable.select(col("v"), col("ln_fp").as("__lnn"))),
        col("n_chars") === col("v"), "left")
      .select(col(idCol),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("s"), lit(0L)).as("sum_clnc_fp"),
        when(coalesce(col("n_chars"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("__lnn").cast("double") / lit(LpScale) -
            col("s").cast("double") / lit(LpScale) / col("n_chars").cast("double"))
          .as("entropy_nats"))
  }

  // ---------------------------------------------------- distribution drift

  /** Per-group token-distribution drift: the plug-in KL divergence of
    * each group's unigram distribution from the WHOLE corpus's —
    * KL(P_g ‖ P_all) ≈ Σ_t p̂_g(t) · ln(p_g(t)/p_all(t)) with
    * empirical weights p̂_g = c_g/N_g and Laplace-smoothed ratio
    * probabilities p_g = (c_g+1)/(N_g+V), p_all = (c_all+1)/(N_all+V)
    * (V = global distinct tokens, so both smoothing denominators share
    * one support). The quantified companion to the set-difference
    * corpus diff: "which source/snapshot drifted furthest from the
    * corpus distribution" — the monitoring signal a nightly curation
    * run alerts on (CCNet-style mixture shifts, a crawler gone wrong,
    * a domain flooding the crawl).
    *
    * Same fixed-point contract as the rest of the family: the ln
    * ratio is precomputed ONCE per (group, token) model row
    * (`lr_fp = floor((ln p_g − ln p_all)·1e9)`), published through
    * `publish` for the oracle, and the KL sum is the exact long
    * Σ c_g·lr_fp over the model table itself — kl_nats =
    * kl_fp/1e9/N_g, two engine-identical IEEE divisions. Plug-in
    * weights make zero-count tokens contribute exactly 0, so the
    * model needs only each group's OBSERVED tokens (Σ_g V_g rows).
    *
    * 100 TB posture: the corpus crosses the wire once (the (grp,
    * token) count agg — the word-freq shuffle, map-side combined);
    * everything after runs on count tables (one token-keyed join for
    * the corpus-wide counts, one group agg). NOTHING corpus-dependent
    * broadcasts — the only broadcast is the 1-row totals frame; the
    * model table goes to disk (handoff), never to memory.
    *
    * Output: (grp, n_tokens, kl_fp, kl_nats), one row per group with
    * ≥1 token occurrence, kl_nats ≥ 0 up to smoothing (the plug-in
    * estimator can dip marginally negative on near-identical
    * distributions — it is a drift SCORE, ranked not thresholded). */
  def klDrift(docs: DataFrame, groupCol: String, textCol: String,
              publish: DataFrame => DataFrame = identity): DataFrame = {
    val counts = docs
      .select(col(groupCol).as("grp"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("grp"), col("token")).agg(count(lit(1)).as("cnt"))
    val gtot = counts.groupBy(col("grp")).agg(sum(col("cnt")).as("n_g"))
    val atot = counts.agg(sum(col("cnt")).as("n_all"),
      countDistinct(col("token")).as("v"))
    val allCounts = counts.groupBy(col("token")).agg(sum(col("cnt")).as("cnt_all"))
    val model = publish(counts
      .join(allCounts, Seq("token"))
      .join(gtot, Seq("grp"))
      .crossJoin(broadcast(atot))
      .withColumn("lr_fp", llrFp(
        col("cnt"), col("n_g") + col("v"),
        col("cnt_all"), col("n_all") + col("v")))
      .select(col("grp"), col("token"), col("cnt"), col("cnt_all"), col("lr_fp")))
    model.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_tokens"),
        ExactSums.guardedLongSum(col("cnt") * col("lr_fp"), "kl_fp").as("kl_fp"))
      .withColumn("kl_nats",
        col("kl_fp").cast("double") / lit(LpScale) / col("n_tokens").cast("double"))
  }

  // ------------------------------------------------- versioned model publish

  /** Thrown by [[publishModelVersion]] when `expectCurrent` no longer
    * matches the live `_current` pointer: another publisher flipped the
    * root between the caller's snapshot resolve and this publish, so a
    * build derived from that snapshot would silently DISCARD the
    * interleaved publish's rows/tombstones if it shipped. Callers
    * re-resolve, rebuild from the fresh version, and retry (the
    * [[graft.streaming.StreamingIngest]] epoch loop). */
  final class ConcurrentPublishException(msg: String)
    extends RuntimeException(msg)

  /** One JVM-wide lock object per model root — lazily interned, never
    * evicted (roots are few and long-lived). Serializes same-driver
    * publishers; see [[withPublishLock]]. */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding this JVM's publish lock for `root`. Two
    * publishers that share one root AND one driver (the actual
    * topology for an insert stream + delete stream over one HNSW
    * root) are fully serialized: each epoch's resolve → build →
    * publish becomes atomic with respect to the sibling's, so no
    * publish can build from a snapshot the other has already
    * superseded. Cross-JVM publishers are NOT covered by the lock —
    * they rely on [[publishModelVersion]]'s `expectCurrent` abort
    * (optimistic concurrency; the doomed publish detects the moved
    * pointer and retries from the fresh version). The lock is
    * reentrant-by-structure: `publishModelVersion` does its own
    * locking via the same monitor, and Java monitors are reentrant. */
  def withPublishLock[T](root: String)(body: => T): T = {
    val lock = publishLocks.computeIfAbsent(
      root.stripSuffix("/"), _ => new Object)
    lock.synchronized(body)
  }

  /** Versioned, reader-safe model publish — `save*Model`'s
    * overwrite-in-place is racy against a RESIDENT scorer reading the
    * same path mid-overwrite, so a production nightly retrain
    * publishes each model as an immutable `v<N>` under `root` and
    * atomically flips the `_current` pointer. Exactly
    * [[Maintenance.compactParquetVersioned]]'s protocol (claim →
    * write aside → rename → flip → vacuum), sharing its primitives so
    * there is ONE pointer implementation in the repo. Readers resolve
    * the pointer driver-side
    * ([[graft.serving.Serving.currentModelDir]], no Spark session)
    * and then read an IMMUTABLE dir — no torn reads, and a resolved
    * version's freshness keys never change, so the serving cache
    * stays warm per version. `save` writes any model layout into the
    * dir it is given (e.g. `saveNbModel(model, prior, _)`). The
    * `retainPrevious` most recent prior versions are kept for
    * in-flight readers. Returns the published version name.
    *
    * Runs under this JVM's per-root publish lock ([[withPublishLock]],
    * reentrant for callers that already hold it). `expectCurrent`
    * opts into optimistic concurrency: pass the `_current` dir the
    * artifact was BUILT from, and the publish aborts with
    * [[ConcurrentPublishException]] — before claiming anything — if
    * another publisher flipped the pointer since (the
    * lost-tombstone/lost-append guard for multi-stream roots). */
  def publishModelVersion(spark: org.apache.spark.sql.SparkSession, root: String,
                          retainPrevious: Int = 1,
                          expectCurrent: Option[String] = None)
                         (save: String => Unit): String =
    withPublishLock(root) {
      publishModelVersionLocked(spark, root, retainPrevious, expectCurrent)(save)
    }

  private def publishModelVersionLocked(
      spark: org.apache.spark.sql.SparkSession, root: String,
      retainPrevious: Int, expectCurrent: Option[String])
      (save: String => Unit): String = {
    require(retainPrevious >= 1,
      s"retainPrevious must be >= 1, got $retainPrevious")
    val base = root.stripSuffix("/")
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(basePath)
    val cur = Maintenance.resolveCurrent(spark, base)
    // optimistic-concurrency guard: the caller built its artifact from
    // `expectCurrent`; if the pointer has moved since, shipping the
    // build would drop the interleaved publisher's changes — abort so
    // the caller rebuilds from the fresh version. Checked INSIDE the
    // lock, before any version is claimed, so an abort leaves no claim
    // or half-written dir behind. (A cross-JVM flip between this check
    // and flipCurrent below remains possible on a plain Hadoop FS —
    // pointer flips are not CAS — but same-JVM publishers, the
    // deployed topology for multi-stream roots, are fully serialized
    // by the lock.)
    expectCurrent.foreach { exp =>
      if (exp.stripSuffix("/") != cur.stripSuffix("/"))
        throw new ConcurrentPublishException(
          s"publish to $base: _current moved from $exp to $cur since the " +
            "caller's snapshot — rebuild from the fresh version and retry")
    }
    val curVer = if (cur == base) 0 else cur.substring(cur.lastIndexOf("/v") + 2).toInt
    val maxVer = (curVer +: fs.listStatus(basePath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v[0-9]+"))
      .map(_.getPath.getName.substring(1).toInt)).max
    val v = Maintenance.claimVersion(fs, base, maxVer + 1)
    val writing = s"$base/v${v}__writing"
    // failure-path cleanup: a throwing save must not strand the claim
    // marker (which would burn version v forever — claimVersion skips
    // live claims) or the half-written dir. Hard crashes that skip
    // this are covered by [[Maintenance.reapAbandoned]] on the root —
    // run it on model roots on the same ops schedule as table roots.
    try {
      save(writing)
      val nextPath = new org.apache.hadoop.fs.Path(s"$base/v$v")
      require(!fs.exists(nextPath),
        s"publish: claimed version dir $base/v$v already exists — claim protocol violated")
      require(fs.rename(new org.apache.hadoop.fs.Path(writing), nextPath),
        s"publish: could not publish $writing -> $base/v$v")
    } catch {
      case e: Throwable =>
        fs.delete(new org.apache.hadoop.fs.Path(writing), true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/.claim_v$v"), false)
        throw e
    }
    Maintenance.flipCurrent(fs, spark.sparkContext.hadoopConfiguration, base, v)
    Maintenance.vacuumVersions(spark, base, keep = retainPrevious + 1,
      alwaysKeep = if (curVer > 0) Set(s"v$curVer") else Set.empty)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/.claim_v$v"), false)
    s"v$v"
  }

  // ------------------------------------------------ DSIR importance weights

  /** Hashed-bigram feature bucket: top-60-md5-bits of the gram string
    * mod `numBuckets` — the [[Sharding]] hex-parse parity trick, so a
    * SQL oracle computes the identical bucket. The hashing trick keeps
    * the model a FIXED-size table no matter the corpus (DSIR's core
    * scaling idea: n-gram space → 10⁴ buckets). */
  private def gramBucket(gram: Column, numBuckets: Int): Column =
    pmod(conv(substring(md5(gram.cast("binary")), 1, 15), 16, 10).cast("long"),
      lit(numBuckets.toLong))

  /** Train DSIR importance weights: hashed-bigram counts under the
    * RAW distribution (all docs) and the TARGET distribution (docs
    * with `targetCol` true — in-pipeline, the quality gate's keeps;
    * in the paper, the high-quality target corpus).
    *
    * Returns (model, stats):
    *  - model: (bucket, c_target, c_raw, llr_fp) with llr_fp =
    *    floor((ln((c_target+1)/(N_target+B)) −
    *           ln((c_raw+1)/(N_raw+B)))·1e9);
    *  - stats: one row (n_target_grams, n_raw_grams) — the ln()
    *    inputs, re-derivable by a verifier.
    *
    * Only buckets observed in the corpus materialize (a doc can only
    * ever hit observed buckets, so scoring never needs the absent
    * ones). */
  def dsirModel(docs: DataFrame, textCol: String, targetCol: String,
                numBuckets: Int): (DataFrame, DataFrame) = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    // aggregate to DISTINCT gram strings first (the word-count shuffle
    // shape, map-side combined), hash only those — md5 runs once per
    // distinct gram, not once per occurrence
    val grams = docs.select(col(targetCol).as("__tgt"),
        explode(TextAnalysis.wordBigrams(col(textCol))).as("gram"))
      .groupBy(col("gram")).agg(
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("gt"),
        count(lit(1)).as("gr"))
    val counts = grams
      .select(gramBucket(col("gram"), numBuckets).as("bucket"),
        col("gt"), col("gr"))
      .groupBy(col("bucket")).agg(
        sum(col("gt")).as("c_target"),
        sum(col("gr")).as("c_raw"))
    val stats = counts.agg(
      sum(col("c_target")).as("n_target_grams"),
      sum(col("c_raw")).as("n_raw_grams"))
    val model = counts.crossJoin(broadcast(stats))
      .withColumn("llr_fp", llrFp(
        col("c_target"), col("n_target_grams") + lit(numBuckets),
        col("c_raw"), col("n_raw_grams") + lit(numBuckets)))
      .select(col("bucket"), col("c_target"), col("c_raw"), col("llr_fp"))
    (model, stats)
  }

  /** Per-document DSIR importance weight: (idCol, n_grams, weight_fp,
    * weight) for every input document. weight_fp = Σ llr_fp over the
    * doc's bigram-bucket occurrences (exact long sum) — the estimated
    * log target/raw likelihood ratio; importance resampling samples
    * proportionally to exp(weight). Docs with < 2 tokens have no
    * bigrams and weigh 0 (neutral). weight = weight_fp/1e9, one IEEE
    * division. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  model: DataFrame, numBuckets: Int,
                  dictEncode: Boolean = true): DataFrame = {
    // dictEncode=true: dictionary-encode the hash — the md5→bucket
    // chain runs once per GLOBALLY distinct gram (Heaps-bounded — the
    // distinct agg map-side combines, shuffling only
    // distinct-per-partition grams), producing a (gram, llr)
    // dictionary that broadcast-joins back by plain string equality.
    // The corpus-sized occurrence stream is never hashed, never
    // pre-grouped (bigrams barely repeat within a doc, so a
    // (doc, gram) pre-agg is a fat composite-key shuffle for nothing —
    // unlike [[nbScore]]'s tokens); the only corpus-sized shuffle is
    // the per-doc sum, map-side combined to one row per doc per
    // partition.
    // dictEncode=false: the hashing trick's DIRECT form for corpora
    // whose distinct-gram dictionary outgrows a broadcast (the 100 TB
    // path) — hash every occurrence and broadcast only the
    // ≤numBuckets-row bucket model; more md5 work, zero
    // corpus-dependent broadcast. Both forms produce identical
    // integers (same md5, same mod — spec-pinned).
    val occ = docs.select(col(idCol),
      explode(TextAnalysis.wordBigrams(col(textCol))).as("gram"))
    val modelB = broadcast(model.select(col("bucket"), col("llr_fp")))
    val votes =
      if (dictEncode) {
        val gramLlr = occ.select(col("gram")).distinct()
          .withColumn("bucket", gramBucket(col("gram"), numBuckets))
          .join(modelB, Seq("bucket"), "left")
          .select(col("gram"), coalesce(col("llr_fp"), lit(0L)).as("__llr"))
        occ.join(broadcast(gramLlr), Seq("gram"))
      } else {
        occ.select(col(idCol), gramBucket(col("gram"), numBuckets).as("bucket"))
          .join(modelB, Seq("bucket"), "left")
          .withColumn("__llr", coalesce(col("llr_fp"), lit(0L)))
      }
    val scored = votes
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n"), sum(col("__llr")).as("s"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).as("n_grams"),
        coalesce(col("s"), lit(0L)).as("weight_fp"),
        (coalesce(col("s"), lit(0L)).cast("double") / lit(LpScale)).as("weight"))
  }

  /** Deterministic per-document Gumbel perturbation for
    * [[dsirGumbelResample]]: h52 = the top 52 bits of
    * md5(id ":" seed) (52 so the integer is EXACTLY representable as
    * a double — the hex-parse recipe is SQL-replicable, the
    * [[Sharding]] parity trick), u = (h52+0.5)/2^52 ∈ (0,1) strictly,
    * gumbel_fp = floor(−ln(−ln(u))·1e9). The ln chain is JVM-side
    * only — like every ln in this family it rides the handoff; the
    * oracle re-derives h52 (verifying the randomness source) and
    * takes the value mapping on faith, with monotonicity-in-u
    * spec-gated. */
  private def gumbelFp(id: Column, seed: Long): (Column, Column) = {
    val h52 = conv(substring(md5(concat(id.cast("string"), lit(":"),
      lit(seed.toString)).cast("binary")), 1, 13), 16, 10).cast("long")
    val u = (h52.cast("double") + lit(0.5)) / lit((1L << 52).toDouble)
    (h52, floor(-log(-log(u)) * lit(LpScale)).cast("long"))
  }

  /** DSIR's actual RESAMPLING step (Xie et al. 2023 sample ∝
    * exp(weight); [[graft.operators.Ranking.topFraction]] on the raw
    * weight is the deterministic take-the-best variant): Gumbel-top-k
    * — add an i.i.d. Gumbel(0,1) perturbation to each log-weight and
    * keep the top fraction of key = weight + G. The Gumbel-max
    * theorem makes that EXACTLY sampling-without-replacement
    * proportional to exp(weight), and a hash-seeded Gumbel makes the
    * sample deterministic, re-runnable, and verifiable — no RNG
    * state, the same derandomization trick as the hashed shard
    * assignment. In fixed point: key_fp = weight_fp + gumbel_fp
    * (exact longs; both on the same ·1e9 scale), ranked
    * (key_fp desc, id) through the range-exchange rank — no
    * single-partition window, no corpus broadcast, one narrow
    * projection on top of the weights frame.
    *
    * `publish` hands off the per-doc (id, weight_fp, h52, gumbel_fp)
    * table: the oracle re-derives h52 from md5 and the weights from
    * the corpus, accepts rows only on full match, and replays the
    * key sum + rank + integer boundary.
    *
    * Batch/serve split: resampling is CORPUS-BATCH BY NATURE — the
    * keep/drop boundary is a global rank over every candidate's
    * perturbed key, so there is deliberately no driver-latency probe
    * for it. The serve side consumes the WEIGHTS (trained model +
    * per-doc scores ride the persisted artifact — the dsirShared
    * build-once cache / publishModelVersion); the selection itself
    * stays a nightly batch job, like `Refresh.weightedTokenBudgetMix`.
    *
    * Output: the selected rows (idCol, weight_fp, gumbel_fp, key_fp,
    * global_rank). */
  def dsirGumbelResample(weights: DataFrame, idCol: String, weightCol: String,
                         seed: Long, percent: Int,
                         publish: DataFrame => DataFrame = identity): DataFrame = {
    val (h52, gfp) = gumbelFp(col(idCol), seed)
    val keyed = publish(weights.select(col(idCol), col(weightCol))
      .withColumn("h52", h52)
      .withColumn("gumbel_fp", gfp))
    Ranking.topFraction(
      keyed.withColumn("key_fp", col(weightCol) + col("gumbel_fp"))
        .drop("h52"),
      Seq(col("key_fp").desc, col(idCol)), percent)
  }

  /** Fused train+score DSIR over one corpus (the self-weighting shape
    * the curation pipeline runs): the bigram occurrence stream
    * materializes ONCE (persisted to the query boundary) and feeds both the
    * model aggregation and the per-doc weight sums, and (with
    * `dictEncode`, the default) the train agg's distinct-gram table
    * doubles as the scoring dictionary — no second explode, no
    * separate distinct. `dictEncode = false` is the 100 TB form
    * ([[dsirWeights]]): score by re-hashing each occurrence against
    * the broadcast ≤numBuckets-row model, so nothing corpus-dependent
    * ever broadcasts. `publish` is the oracle-handoff hook for the
    * model table (identity by default). Output and integers are
    * exactly [[dsirModel]]+[[dsirWeights]] under either knob
    * (spec-pinned). */
  def dsirPipeline(docs: DataFrame, idCol: String, textCol: String,
                   targetCol: String, numBuckets: Int,
                   publish: DataFrame => DataFrame = identity,
                   dictEncode: Boolean = true): DataFrame =
    dsirTrainScore(docs, idCol, textCol, targetCol, numBuckets,
      publish, dictEncode)._2

  /** [[dsirPipeline]] returning BOTH halves — (published model,
    * per-doc weights) — so a build-once cache can persist the trained
    * model next to its corpus scores and the selection/resampling
    * queries can share one training pass instead of each retraining
    * (the trio's in-suite 3× retrain was round 9's top perf finding).
    * The `publish` hook still wraps the model BEFORE scoring consumes
    * it, so a caller that routes it to a parquet write gets weights
    * derived from the exact persisted artifact. */
  def dsirTrainScore(docs: DataFrame, idCol: String, textCol: String,
                     targetCol: String, numBuckets: Int,
                     publish: DataFrame => DataFrame = identity,
                     dictEncode: Boolean = true): (DataFrame, DataFrame) = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val occ = docs.select(col(idCol), col(targetCol).as("__tgt"),
        explode(TextAnalysis.wordBigrams(col(textCol))).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = occ.groupBy(col("gram")).agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("gt"),
      count(lit(1)).as("gr"))
    // the distinct-gram table is persisted ONLY under dictEncode —
    // it doubles as the scoring dictionary there; the per-occurrence
    // form reads it exactly once (for the model agg), so caching it
    // would only cost memory
    val bucketed0 = grams
      .select(gramBucket(col("gram"), numBuckets).as("bucket"),
        col("gram"), col("gt"), col("gr"))
    val bucketed =
      if (dictEncode)
        bucketed0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else bucketed0
    val counts = bucketed
      .groupBy(col("bucket")).agg(
        sum(col("gt")).as("c_target"),
        sum(col("gr")).as("c_raw"))
    val stats = counts.agg(
      sum(col("c_target")).as("n_target_grams"),
      sum(col("c_raw")).as("n_raw_grams"))
    val model = publish(counts.crossJoin(broadcast(stats))
      .withColumn("llr_fp", llrFp(
        col("c_target"), col("n_target_grams") + lit(numBuckets),
        col("c_raw"), col("n_raw_grams") + lit(numBuckets)))
      .select(col("bucket"), col("c_target"), col("c_raw"), col("llr_fp")))
    val modelB = broadcast(model.select(col("bucket"), col("llr_fp")))
    val votes =
      if (dictEncode) {
        val gramLlr = bucketed.select(col("gram"), col("bucket"))
          .join(modelB, Seq("bucket"), "left")
          .select(col("gram"), coalesce(col("llr_fp"), lit(0L)).as("__llr"))
        occ.join(broadcast(gramLlr), Seq("gram"))
      } else {
        occ.select(col(idCol), gramBucket(col("gram"), numBuckets).as("bucket"))
          .join(modelB, Seq("bucket"), "left")
          .withColumn("__llr", coalesce(col("llr_fp"), lit(0L)))
      }
    val scored = votes
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n"), sum(col("__llr")).as("s"))
    val out = docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).as("n_grams"),
        coalesce(col("s"), lit(0L)).as("weight_fp"),
        (coalesce(col("s"), lit(0L)).cast("double") / lit(LpScale)).as("weight"))
    Dedup.releaseAfterUse(occ)
    if (dictEncode) Dedup.releaseAfterUse(bucketed)
    (model, out)
  }
}
