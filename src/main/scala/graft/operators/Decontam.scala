package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share word
  * n-grams with an evaluation/benchmark set.
  *
  * The canonical pretraining-hygiene pass (GPT-3 §C, PaLM, Llama all
  * run a variant): any training document containing an n-gram that
  * also appears in a held-out benchmark is "contaminated" and must be
  * dropped or audited, otherwise eval scores measure memorization.
  *
  * Scale shape — the asymmetry IS the design: the benchmark side is
  * tiny (thousands of eval questions) while the corpus is 100 TB. So
  * the benchmark's distinct n-gram set is **broadcast** and the corpus
  * side is a narrow map (explode grams → broadcast hash-lookup →
  * per-doc count with map-side partial aggregation). The corpus text
  * never shuffles; the only shuffle is the id-keyed count, and that is
  * pre-aggregated map-side. A shuffle join on grams here would move
  * the whole exploded corpus — the classic mistake this operator
  * avoids.
  */
object Decontam {

  /** Overlapping word n-grams of `text` as space-joined strings;
    * empty array when the document has fewer than `n` tokens. */
  def wordGrams(text: Column, n: Int): Column = {
    require(n > 0, s"n-gram size must be positive, got $n")
    val w = TextAnalysis.tokens(text)
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-corpus-document contamination report against `benchmark`.
    *
    * Output: (idCol, n_grams, n_shared, contaminated) where `n_grams`
    * counts the doc's distinct n-grams, `n_shared` of which also occur
    * anywhere in the benchmark; `contaminated` = n_shared >= minShared.
    *
    * Gram identity is the literal string — exact, collision-free, and
    * oracle-matchable. At 100 TB you would map grams to xxhash64
    * before the broadcast to shrink the build side ~10×; the string
    * form is kept here because the gate oracle must be exact and a
    * 64-bit collision, however unlikely, would be a silent wrong
    * answer in a correctness gate. */
  def overlapReport(corpus: DataFrame, benchmark: DataFrame, n: Int,
                    minShared: Long = 1L,
                    idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val benchGrams = benchmark
      .select(explode(wordGrams(col(textCol), n)).as("gram")).distinct()
      .withColumn("bench_hit", lit(1))

    // Single corpus pass: the gram arrays are built ONCE, n_grams rides
    // along through explode_outer (docs with < n tokens keep a null-gram
    // row so they survive to the report), the broadcast left-outer
    // lookup tags benchmark hits, and one map-side-combined aggregation
    // produces the per-doc report directly — no second scan, no
    // id-keyed join-back. (A first cut computed the gram arrays twice
    // and joined the counts back on id; at sf0.1 that benched 8.3 s vs
    // the shape below, the suite's most expensive query.)
    corpus
      .select(col(idCol),
        array_distinct(wordGrams(col(textCol), n)).as("grams"))
      .select(col(idCol), size(col("grams")).cast("long").as("n_grams"),
        explode_outer(col("grams")).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(first(col("n_grams")).as("n_grams"),
        count(col("bench_hit")).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= minShared)
  }
}
