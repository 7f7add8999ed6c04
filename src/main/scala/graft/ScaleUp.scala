package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives a larger scale factor from the driver-generated fixtures by
  * key-remapped replication, so the whole gate + bench can run at 10×
  * (≈sf1) even though the driver only materializes up to sf0.1.
  *
  * Design (why replication, not synthesis): the task contract says to
  * use the driver's parquet as inputs, and the point of the sf1 run is
  * SCALE validation — shuffle volume, partition counts, candidate
  * growth — not new data semantics. Each replica i keeps every
  * intra-replica relationship intact by shifting every key family by
  * i × stride, where stride = max(key)+1 of the base table:
  * orders.o_custkey moves with customer.c_custkey, lineitem's three FKs
  * move with their parents, events.user_id moves with its own stride.
  * Fixed-cardinality dimensions (region, nation) are NOT replicated —
  * TPC-H holds them constant at every SF, and replicating them would
  * break the FK range instead of scaling it.
  *
  * Payloads (text, embeddings, timestamps) are copied verbatim. The
  * honest consequence, documented where it bites: pair-producing
  * near-dup queries see each document gain (factor−1) exact twins, so
  * their OUTPUT grows ~factor² while their candidate-generation plans
  * grow ~factor — exactly the adversarial-duplication stress a crawl
  * corpus produces, and the right thing to measure.
  *
  * Usage: runMain graft.ScaleUp [baseDir] [factor] [outDir]
  */
object ScaleUp {

  /** Replicate `df` `factor` times, shifting each column in `shift` by
    * replica × its stride. One narrow pass: explode a literal replica
    * array (no join, no shuffle); strides are computed from the base
    * table once (a cheap max over the key column). */
  def replicate(df: DataFrame, factor: Int, shift: Map[String, Long]): DataFrame = {
    val withRep = df.withColumn("__rep", explode(lit((0 until factor).toArray)))
    val shifted = shift.foldLeft(withRep) { case (d, (colName, stride)) =>
      d.withColumn(colName, col(colName) + col("__rep").cast("long") * lit(stride))
    }
    shifted.drop("__rep")
  }

  private def stride(df: DataFrame, key: String): Long = {
    // max over an empty table is null — fail with context, not an NPE
    val m = df.agg(max(col(key).cast("long"))).head.get(0)
    require(m != null, s"stride: base table is empty (key '$key')")
    m.asInstanceOf[Long] + 1L
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor  = if (args.length > 1) args(1).toInt else 10
    val outDir  = if (args.length > 2) args(2) else "target/sf1-derived"

    val spark = GraftSession.builder(GraftSession.envCpus(32))
      .appName("graft-scaleup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // Dimensions: constant at every SF (TPC-H semantics).
    write(Tables.region(spark, baseDir), "region", 1)
    write(Tables.nation(spark, baseDir), "nation", 1)

    val customer = Tables.customer(spark, baseDir)
    val orders   = Tables.orders(spark, baseDir)
    val part     = Tables.part(spark, baseDir)
    val supplier = Tables.supplier(spark, baseDir)
    val docs     = Tables.documents(spark, baseDir)
    val embs     = Tables.embeddings(spark, baseDir)
    val events   = Tables.events(spark, baseDir) // ts read as epoch-ns long

    val custS  = stride(customer, "c_custkey")
    val orderS = stride(orders, "o_orderkey")
    val partS  = stride(part, "p_partkey")
    val suppS  = stride(supplier, "s_suppkey")
    val docS   = stride(docs, "doc_id")
    val vecS   = stride(embs, "vec_id")
    val eventS = stride(events, "event_id")
    val userS  = stride(events, "user_id")

    write(replicate(customer, factor, Map("c_custkey" -> custS)), "customer", 4)
    write(replicate(supplier, factor, Map("s_suppkey" -> suppS)), "supplier", 1)
    write(replicate(part, factor, Map("p_partkey" -> partS)), "part", 4)
    write(replicate(orders, factor,
      Map("o_orderkey" -> orderS, "o_custkey" -> custS)), "orders", 8)
    write(replicate(Tables.lineitem(spark, baseDir), factor,
      Map("l_orderkey" -> orderS, "l_partkey" -> partS, "l_suppkey" -> suppS)),
      "lineitem", 32)
    write(replicate(events, factor,
      Map("event_id" -> eventS, "user_id" -> userS)), "events", 16)
    write(replicate(docs, factor, Map("doc_id" -> docS)), "documents", 8)
    write(replicate(embs, factor, Map("vec_id" -> vecS)), "embeddings", 4)

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(t => t -> spark.read.parquet(s"$outDir/$t.parquet").count())
    counts.foreach { case (t, n) => println(s"[scaleup] $t: $n rows") }
    spark.stop()
  }
}

/** VOCABULARY-scaling derived fixture — documents only. Twin
  * replication ([[ScaleUp]]) grows row counts but copies text verbatim,
  * so |vocab| stays at the base corpus's 31 words; plans whose win is
  * in vocabulary size (the fuzzy q-gram index prunes a per-query
  * LEVENSHTEIN SCAN of every distinct term) can never demonstrate a
  * crossover there. This variant holds the doc count fixed and
  * typo-perturbs tokens per doc-bucket instead: docs in bucket
  * j = doc_id % buckets have every token's hash-picked character
  * substituted with a hash-picked letter (bucket 0 stays verbatim), so
  * |vocab| grows ~31 × buckets while token counts, doc lengths, and tf
  * structure are preserved — and the variants are REAL typo shapes,
  * within small edit distances of each other, exactly the vocabulary a
  * crawl corpus's misspellings produce.
  *
  * Only `documents.parquet` is written: the fuzzy gates read nothing
  * else, and the correctness contract is unchanged (both fuzzy plans
  * still gate against the one shared DuckDB oracle at sf0.01 — this
  * fixture exists to MEASURE the crossover, SCALEBENCH.md records it).
  *
  * Usage: runMain graft.VocabScaleUp [baseDir] [buckets] [outDir]
  */
object VocabScaleUp {

  /** One deterministic typo: substitute the character at position
    * xxhash64(token, seed) mod len with a letter picked by a second
    * hash. Empty tokens and bucket 0 pass through verbatim. */
  private def mutateOnce(t: org.apache.spark.sql.Column,
                         seed: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val p = pmod(xxhash64(t, seed), length(t).cast("long")).cast("int")
    val c = lit("abcdefghijklmnopqrstuvwxyz")
      .substr(pmod(xxhash64(t, seed + 1000000L), lit(26L)).cast("int") + 1,
        lit(1))
    when(length(t) === 0 || seed === 0L, t)
      .otherwise(concat(t.substr(lit(1), p), c,
        t.substr(p + lit(2), length(t))))
  }

  /** Two chained substitutions (distinct hash streams): a single
    * substitution's mutation space is only len·26 per token (~4k
    * distinct terms over the 31-word base vocabulary, whatever the
    * bucket count); chaining two lifts it to (len·26)² so tens of
    * thousands of buckets still mint fresh variants — each at edit
    * distance ≤ 2 from its base word and ≤ 4 from its siblings, the
    * typo-cluster shape a q-gram index is built for. */
  private def mutate(t: org.apache.spark.sql.Column,
                     seed: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    // the bucket-0 verbatim guard must wrap the CHAIN: the second
    // substitution's shifted seed is non-zero even when seed is 0
    when(seed === 0L, t)
      .otherwise(mutateOnce(mutateOnce(t, seed), seed + 7777777L))

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val buckets = if (args.length > 1) args(1).toInt else 200
    val outDir  = if (args.length > 2) args(2) else "target/sfvocab-derived"
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")

    val spark = GraftSession.builder(GraftSession.envCpus(32))
      .appName("graft-vocab-scaleup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, baseDir)
    val seed = (col("doc_id") % buckets).cast("long")
    val mutated = docs.withColumn("text",
      concat_ws(" ", transform(split(col("text"), " "), t => mutate(t, seed))))
    mutated.repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val vocab = spark.read.parquet(s"$outDir/documents.parquet")
      .select(explode(graft.operators.Bm25.terms(col("text"))).as("t"))
      .agg(countDistinct(col("t")), count(lit(1))).head()
    println(s"[vocab-scaleup] buckets=$buckets vocab=${vocab.getLong(0)} " +
      s"tokens=${vocab.getLong(1)}")
    spark.stop()
  }
}

/** DISTINCT-HEAVY embedding scale fixture — embeddings only. Twin
  * replication ([[ScaleUp]]) copies vectors verbatim, so identical
  * embeddings collapse into classes and the class-collapsed cosine
  * family measures exactly where that trick is strongest (c = 2000
  * classes at any factor). On a real crawl corpus distinct embeddings
  * ≈ corpus size: c ≈ n, the exact `cosineClassPairs` oracle is O(n²)
  * again, and `dedup_apply_lsh`'s verify volume depends on true
  * bucket collision rates. This variant replicates WITHOUT collapse:
  * replica i shifts vec_id by i·stride AND jitters ONE hash-picked
  * dimension by a hash-picked ±[1e-6, 1e-3] (replica 0 verbatim), so
  * every row is a distinct class while the near-dup structure
  * survives — the base corpus is unit-normalized and a one-dim
  * ±1e-3 nudge moves any cosine by ≤ ~2e-3, so each base vector's
  * replicas are mutual near-dups (cos ≈ 1−ε) and each qualifying
  * base pair stays qualifying across replicas (flips only within
  * 2e-3 of the threshold — the honest boundary). Exactly the shape a
  * re-embedded crawl produces: near-duplicate pages whose embeddings
  * differ in the last decimals, never bit-identical.
  *
  * Only `embeddings.parquet` is written (the cosine-dedup gates read
  * nothing else). Correctness contract unchanged — the gates still
  * oracle-verify at sf0.01; this fixture exists to MEASURE the
  * exact-vs-LSH regime crossover (SCALEBENCH.md records it).
  *
  * Usage: runMain graft.EmbScaleUp [baseDir] [factor] [outDir]
  */
object EmbScaleUp {

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor  = if (args.length > 1) args(1).toInt else 100
    val outDir  = if (args.length > 2) args(2) else "target/sfembdistinct-derived"
    require(factor >= 1, s"factor must be >= 1, got $factor")

    val spark = GraftSession.builder(GraftSession.envCpus(32))
      .appName("graft-emb-scaleup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val embs = Tables.embeddings(spark, baseDir)
    val m = embs.agg(max(col("vec_id").cast("long"))).head.get(0)
    require(m != null, "EmbScaleUp: embeddings table is empty")
    val stride = m.asInstanceOf[Long] + 1L

    val rep = col("__rep").cast("long")
    // hash streams keyed on the ORIGINAL vec_id + replica
    val dimPick = pmod(xxhash64(col("vec_id"), rep), size(col("embedding")))
      .cast("int")
    // delta in ±[1e-6, 1e-3], never zero: magnitude 1..1000 scaled by
    // 1e-6, sign from a second hash bit
    val mag = (pmod(xxhash64(col("vec_id"), rep, lit(1L)), lit(1000L)) + 1L)
      .cast("double") * lit(1e-6)
    val sign = when(pmod(xxhash64(col("vec_id"), rep, lit(2L)), lit(2L)) === 0L,
      lit(1.0)).otherwise(lit(-1.0))
    val jittered = transform(col("embedding"),
      (x, i) => when(i === dimPick, (x + (mag * sign)).cast("float"))
        .otherwise(x))
    val out = embs
      .withColumn("__rep", explode(lit((0 until factor).toArray)))
      .withColumn("embedding",
        when(col("__rep") === 0, col("embedding")).otherwise(jittered))
      .withColumn("vec_id", col("vec_id") + rep * lit(stride))
      .drop("__rep")
    out.repartition(math.max(4, factor / 8))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val stats = spark.read.parquet(s"$outDir/embeddings.parquet")
      .agg(count(lit(1)),
        countDistinct(col("embedding")),
        countDistinct(col("vec_id"))).head()
    println(s"[emb-scaleup] factor=$factor rows=${stats.getLong(0)} " +
      s"distinct_embeddings=${stats.getLong(1)} distinct_ids=${stats.getLong(2)}")
    spark.stop()
  }
}
