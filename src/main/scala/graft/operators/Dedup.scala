package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Large-scale training-data deduplication suite (north-star scope,
  * BASELINE.md): exact, MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup — the operations the reference's chunk
  * corpus would need before indexing at 100 TB.
  *
  * Scale design: every variant is a shuffle-bounded DataFrame plan.
  *  - exact: one hash-groupBy shuffle on a 16-byte fingerprint;
  *  - MinHash LSH: narrow signature map → explode to `bands` rows/doc →
  *    ONE shuffle on (band, bandHash) → within-bucket pairs → exact
  *    Jaccard verify on the candidate set only (candidate count is
  *    ~linear for realistic corpora; hot buckets are capped);
  *  - SimHash: 64-bit signature, pigeonhole blocking on 4×16-bit chunks
  *    (any pair within Hamming distance ≤3 shares at least one exact
  *    chunk), verify by Hamming distance;
  *  - cosine: exact O(n²) pair join is the correctness oracle; the scale
  *    path prefilters through sign-LSH buckets (SignLsh below).
  */
object Dedup {

  /** Caches and checkpoints made for the query being built, released at
    * the query boundary. Strong refs are intended: the cache entry
    * itself keeps the plan alive inside Spark's CacheManager anyway. */
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register a persisted intermediate for release at the query
    * boundary ([[releasePending]]). Until then every action over the
    * frame — an operator's internal count as much as the caller's
    * action — reads the cache; a plan that is built but never run is
    * released all the same. */
  private[graft] def releaseAfterUse(cached: DataFrame): Unit =
    pending.add(() => cached.unpersist(blocking = true))

  /** `df.localCheckpoint(eager)` with the checkpointed RDD registered
    * for release at the query boundary. A local checkpoint persists its
    * RDD — those blocks ARE the truncated lineage — so it stays cached
    * until someone unpersists it; unregistered, that is whenever a GC
    * lets the ContextCleaner find it. A frame over a released
    * checkpoint fails loudly when run again, so a caller must not keep
    * one past its query. */
  private[graft] def localCheckpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager)
    cp.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        pending.add(() => r.rdd.unpersist(blocking = true))
      case _ =>
    }
    cp
  }

  /** The query boundary: unpersist every registered frame and
    * checkpoint, synchronously, and return how many were released. The
    * owner of a query calls it once the query's action has returned or
    * thrown — Bench and Probe per run and after the warm-up, Verify per
    * query, a spec per test, perfbench per batch query (reflectively,
    * by this name). Never call it while a query is running: its
    * checkpoints would vanish under it. */
  private[graft] def releasePending(): Int = {
    var n = 0
    var release = pending.poll()
    while (release != null) {
      scala.util.Try(release())
      n += 1
      release = pending.poll()
    }
    n
  }

  /** Canonical token array: whitespace split, empties removed. */
  def tokens(text: Column): Column = array_remove(split(text, " "), "")

  /** Text fingerprint for exact dedup: md5 of the raw text. */
  def fingerprint(text: Column): Column = md5(text.cast("binary"))

  /** Word-set fingerprint: md5 over the sorted distinct token set —
    * catches reordered/repeated-word duplicates. */
  def wordSetFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " ").cast("binary"))

  /** Exact-duplicate groups: fingerprint → group members (only groups
    * with >1 doc). One shuffle; the map side carries only (fp, id). */
  def duplicateGroups(docs: DataFrame, fp: Column, idCol: String): DataFrame =
    docs.select(fp.as("fingerprint"), col(idCol))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col(idCol)))).as("doc_ids"))
      .filter(col("n_docs") > 1)

  /** Exact dedup: keep the lowest-id doc per fingerprint. */
  def dropDuplicates(docs: DataFrame, fp: Column, idCol: String): DataFrame = {
    val keep = docs.select(fp.as("fingerprint"), col(idCol))
      .groupBy(col("fingerprint")).agg(min(col(idCol)).as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // ---------------------------------------------------------------- MinHash

  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  private def mix64(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Word n-gram shingle set (n tokens per shingle; whole text if shorter). */
  def shingleSet(text: String, n: Int): Set[String] = {
    val toks = if (text == null) Array.empty[String]
               else text.split(" ").filter(_.nonEmpty)
    if (toks.length <= n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** The numHashes seed constants mix64(i) of [[minHashSignature]] —
    * pure function of i, computed once per distinct numHashes instead
    * of once per (shingle, i) per row (r17-opt: the inner loop runs
    * shingles × numHashes times per document; re-deriving the seed was
    * ~45% of the kernel's arithmetic). Same values, same signatures. */
  private val seedCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private def seedMixes(numHashes: Int): Array[Long] =
    seedCache.computeIfAbsent(numHashes,
      n => Array.tabulate(n)(i => mix64(i.toLong)))

  /** MinHash signature: numHashes independent hash functions via seed
    * mixing (h_i(x) = mix64(fnv64(x) ^ mix64(i))), min over shingles. */
  def minHashSignature(text: String, numHashes: Int, shingle: Int): Array[Long] = {
    val sh = shingleSet(text, shingle)
    val iMix = seedMixes(numHashes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    for (s <- sh) {
      val base = fnv64(s)
      var i = 0
      while (i < numHashes) {
        val h = mix64(base ^ iMix(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Exact Jaccard over shingle sets (the verify step). */
  def jaccard(a: String, b: String, shingle: Int): Double = {
    val sa = shingleSet(a, shingle); val sb = shingleSet(b, shingle)
    val inter = sa.intersect(sb).size
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** MinHash LSH near-dup pairs: band the signature (bands × rowsPerBand
    * = numHashes), bucket-join on (band, bandHash), verify candidates
    * with exact shingle Jaccard ≥ threshold.
    *
    * The only shuffle is the self-join on (band, bandHash) — at 100 TB
    * that is `bands` narrow rows per doc of ~24 bytes. `maxBucket` guards
    * against degenerate hot buckets (boilerplate corpora): buckets larger
    * than the cap are dropped from candidate generation (tunable;
    * salt-and-recheck is the lossless alternative). */
  def nearDupMinHash(docs: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 128, bands: Int = 32, shingle: Int = 3,
                     threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame =
    minHashVerifyPairs(
      minHashBandRows(docs, idCol, textCol, numHashes, bands, shingle),
      docs, idCol, textCol, shingle, threshold, maxBucket)

  /** Stage 1 of [[nearDupMinHash]]: the banded signature rows
    * (idCol, band, bucket) — the only non-SQL-expressible part of the
    * pipeline (hash-family bit math). A gate hands this table to an
    * independent engine and replays everything downstream. */
  def minHashBandRows(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 128, bands: Int = 32,
                      shingle: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val bandUdf = udf { (text: String) =>
      minHashSignature(text, numHashes, shingle)
        .grouped(rowsPerBand).zipWithIndex
        .map { case (g, b) => (b, mix64(g.foldLeft(0L)((acc, h) => mix64(acc ^ h)))) }
        .toSeq
    }
    docs
      .select(col(idCol), col(textCol))
      .withColumn("bh", explode(bandUdf(col(textCol))))
      .select(col(idCol), col("bh._1").as("band"), col("bh._2").as("bucket"))
  }

  /** Stage 2 of [[nearDupMinHash]]: hot-bucket cap, candidate pair
    * join, exact-Jaccard verify — pure relational algebra + the
    * int/double Jaccard arithmetic, all replayable in ANSI SQL.
    *
    * Each candidate pair is verified directly. That is exact for any
    * input: identical texts score `jaccard(x, x)` = 1.0, null texts
    * included (a whole-text shingle exists even for empty/null texts,
    * so the union is never 0). */
  def minHashVerifyPairs(bandRows: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String, shingle: Int, threshold: Double,
                         maxBucket: Int = 1000): DataFrame = {
    // cap hot buckets before the pair join — one window pass instead of
    // an aggregate + semi-join (same shuffle key, half the exchanges)
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))
    val pruned = bandRows
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") > 1 && col("__bsz") <= maxBucket)
      .drop("__bsz")

    // candidate pairs dedup'd on IDs ONLY (distinct over wide text pairs
    // would shuffle the payloads `bands` times).
    val a = pruned.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = pruned.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()

    val jacUdf = udf((x: String, y: String) => jaccard(x, y, shingle))
    val t = docs.select(col(idCol), col(textCol))
    candidates
      .join(t.select(col(idCol).as("id_a"), col(textCol).as("text_a")), Seq("id_a"))
      .join(t.select(col(idCol).as("id_b"), col(textCol).as("text_b")), Seq("id_b"))
      .withColumn("jaccard", jacUdf(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over the token multiset. */
  def simHash64(text: String): Long = {
    val acc = new Array[Int](64)
    if (text != null) for (t <- text.split(" ") if t.nonEmpty) {
      val h = fnv64(t)
      var b = 0
      while (b < 64) { acc(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup pairs within Hamming distance ≤ maxHamming.
    * Pigeonhole blocking: with 4 chunks of 16 bits, any pair at distance
    * ≤3 agrees exactly on ≥1 chunk — candidates come from ONE shuffle on
    * (chunkIdx, chunkValue), then are verified by popcount. */
  def nearDupSimHash(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame =
    simHashPairs(simHashSignatures(docs, idCol, textCol), idCol, maxHamming)

  /** Stage 1 of [[nearDupSimHash]]: (idCol, sim) 64-bit signatures —
    * the non-SQL hash kernel, handed off for independent replay. */
  def simHashSignatures(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val simUdf = udf((t: String) => simHash64(t))
    docs.select(col(idCol), simUdf(col(textCol)).as("sim"))
  }

  /** Stage 2 of [[nearDupSimHash]]: pigeonhole blocking + popcount
    * verify over precomputed signatures — pure bit math an ANSI SQL
    * engine replays with shift/mask/xor/bit_count. */
  def simHashPairs(sigs: DataFrame, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // 4 chunks of 16 bits guarantee a shared chunk only up to distance 3
    // (pigeonhole); beyond that, qualifying pairs would be silently lost
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be 0..3 for 4x16-bit blocking (got $maxHamming)")
    val chunksUdf = udf((sim: Long) => (0 until 4).map(i => (sim >>> (i * 16)) & 0xFFFFL))
    val hammingUdf = udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))
    val chunked = sigs.select(col(idCol), col("sim"),
      posexplode(chunksUdf(col("sim"))).as(Seq("chunk", "cv")))
    val a = chunked.select(col("chunk"), col("cv"), col(idCol).as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("cv"), col(idCol).as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b")).distinct()
      .withColumn("hamming", hammingUdf(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ------------------------------------------------------------- Jaccard/cosine

  /** Exact word-set Jaccard pairs within a blocking column (e.g. lang):
    * all arithmetic in int/double so DuckDB reproduces it bit-for-bit.
    *
    * Set-size prefilter: `jac >= t` implies
    * `min(|a|,|b|) >= t * max(|a|,|b|)` (intersection is bounded by the
    * smaller set, union by the larger), so pairs failing the cheap
    * integer ratio test never evaluate the intersection — zero false
    * negatives. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   blockCol: String, threshold: Double): DataFrame = {
    // tokens hashed ONCE per document to 64-bit ids: the per-pair
    // intersection then runs on longs (~10x cheaper than per-element
    // UTF8String comparison, measured). Counts equal the string-set
    // intersection unless xxhash64 collides inside one pair's union —
    // ~n²/2^65, and the deterministic DuckDB oracle gate would surface
    // any such corpus. `sz` is computed from the STRING set, so set
    // sizes are exact regardless.
    val t = docs.select(col(idCol), col(blockCol).as("blk"),
      array_distinct(tokens(col(textCol))).as("w"))
      .select(col(idCol), col("blk"), size(col("w")).as("sz"),
        transform(col("w"), x => xxhash64(x)).as("h"))
    // the corpus usually arrives as few large-ish files → few input
    // partitions; the pair loop is quadratic in rows per partition, so
    // spread the probe side across every core before the broadcast join
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val a = t.select(col("blk"), col(idCol).as("id_a"), col("h").as("ha"), col("sz").as("sa"))
      .repartition(par) // materializes the hashed arrays into the shuffle
    val b = t.select(col("blk"), col(idCol).as("id_b"), col("h").as("hb"), col("sz").as("sb"))
    // broadcast the right side: a blocking key has few distinct values
    // (lang → 5), so a shuffle join would cap parallelism at the key
    // count; the broadcast hash join parallelizes by LEFT partitions and
    // evaluates the whole pair pipeline map-side, fully codegen'd. At
    // corpus sizes where the broadcast no longer fits, near-dup moves to
    // the MinHash-LSH path (that is what it is for).
    a.join(broadcast(b), Seq("blk"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sa"), col("sb")).cast("double") >=
          lit(threshold) * greatest(col("sa"), col("sb")))
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact word-set Jaccard pairs WITHOUT a corpus broadcast — the scale
    * path for exact set-similarity (prefix-filtered inverted-index join,
    * the SSJoin/PPJoin construction from the set-similarity literature).
    *
    * Under any global total order on tokens (here: the 64-bit token
    * hash), `jaccard(a,b) >= t` implies `|a∩b| >= ceil(t*max(|a|,|b|))`,
    * and two sets with intersection >= α must collide within their first
    * `|x| - α + 1` order-smallest tokens. So indexing only the
    * `floor((1-t)*|x|) + 1`-token prefix of each document loses NO
    * qualifying pair, and candidate generation is an equi-join on
    * (block, prefixToken) — a plain shuffle whose volume is ~(1-t+ε) of
    * the exploded token table, not a quadratic pair loop or an
    * all-corpus broadcast. Candidates dedup on slim id pairs, then one
    * exact verify computes true Jaccard — identical output to
    * [[jaccardPairs]] (same oracle gates both).
    *
    * 100 TB: shuffles scale linearly with corpus tokens; per-key fan-out
    * concentrates only on tokens that are BOTH globally hot and
    * hash-small (random order makes that rare; frequency-ascending
    * ordering is the PPJoin refinement if a corpus hits it). */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                         blockCol: String, threshold: Double): DataFrame =
    classPairJaccard(docs.withColumn("is_new", lit(true)),
      idCol, textCol, blockCol, threshold)

  /** Slim tokenized projection — feeds THREE consumers (prefix explode
    * + both verify joins), so it is persisted (tokenize/hash once, not
    * three times; MEMORY_AND_DISK spills instead of OOMing at scale)
    * and released at the query boundary. Expects an
    * `is_new` tag column (constant true for the non-incremental path). */
  private def hashedTokenProjection(docs: DataFrame, idCol: String,
                                    textCol: String, blockCol: String): DataFrame = {
    val t = docs.select(col(idCol), col(blockCol).as("blk"), col("is_new"),
      array_distinct(tokens(col(textCol))).as("w"))
      .select(col(idCol), col("blk"), col("is_new"), size(col("w")).as("sz"),
        array_sort(transform(col("w"), x => xxhash64(x))).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releaseAfterUse(t)
    t
  }

  /** Prefix explode: under the sorted-hash total order, two sets with
    * jaccard >= t must collide within their first floor((1-t)·|x|)+1
    * tokens, so only that prefix is indexed — no qualifying pair is
    * lost. posexplode keeps the in-prefix position for the positional
    * filter (pos is 0-based). */
  private def prefixRows(t: DataFrame, idCol: String, threshold: Double): DataFrame = {
    val prefLen = (floor(lit(1.0 - threshold) * col("sz")) + 1).cast("int")
    t.select(col(idCol), col("blk"), col("sz"), col("is_new"),
      posexplode(slice(col("h"), lit(1), prefLen)).as(Seq("pos", "tok")))
  }

  /** PPJoin candidate bounds, symmetric in the two sides: the integer
    * size-ratio test (jac >= t ⇒ min >= t·max) plus the positional
    * filter — a pair sharing a token at sorted positions (pa, pb) has
    * intersection <= 1 + min(sa-pa-1, sb-pb-1) from that point on, and
    * jaccard >= t needs intersection >= t·(sa+sb)/(1+t). A qualifying
    * pair's FIRST shared prefix token always satisfies the bound, so
    * per-row filtering never loses a pair — it only stops
    * non-qualifying pairs from reaching the distinct shuffle. */
  private def ppjoinBounds(threshold: Double, sa: Column, pa: Column,
                           sb: Column, pb: Column): Column =
    least(sa, sb).cast("double") >= lit(threshold) * greatest(sa, sb) &&
      (lit(1) + least(sa - pa - 1, sb - pb - 1)).cast("double") >=
        lit(threshold / (1.0 + threshold)) * (sa + sb)

  /** Class-collapsed PPJoin engine behind [[jaccardPairsPrefix]] and
    * [[jaccardPairsPrefixIncremental]] — exact, with the adversarial-
    * duplication case (bulk exact twins, what crawl replication
    * produces) collapsed at EVERY stage:
    *
    *  1. Documents with bit-identical token-hash arrays form
    *     equivalence classes keyed by the array itself (no fingerprint
    *     collision risk). Members share sz, prefix tokens, and prefix
    *     positions, so candidate generation runs over ONE row per
    *     (class, block) — under k-fold twin replication the prefix
    *     join shrinks ~k² vs id-level rows, and its distinct's shuffle
    *     is class-pair-sized (partial aggregation consumes the join
    *     output map-side).
    *  2. The array-carrying verify runs once per distinct candidate
    *     CLASS pair.
    *  3. The id-level result is produced by EXPANDING class members
    *     against the verified class pairs as the FINAL stage: the
    *     (inherently output-sized, under twin replication quadratic)
    *     pair set is generated exactly once, streamed straight into
    *     the consumer, never shuffled. Earlier shapes that joined
    *     per-pair results back over an id-level candidate set shuffled
    *     the factor²-sized pair set repeatedly and exhausted the probe
    *     box's disk at the 100× twin spot-bench (SCALEBENCH.md).
    *
    * Output equality with the direct id-level construction: PPJoin
    * completeness makes the direct output exactly {(a, b): same block,
    * a < b, jaccard >= t, and — incrementally — at least one new
    * endpoint}. The expansion emits exactly that set. A qualifying
    * cross-class pair's class pair is itself a class-level candidate
    * (members share the witnessing prefix collision, bounds, and the
    * new-member flag travels per (class, block) unit), its jaccard is
    * computed from the rep arrays — bit-identical to every member's —
    * and emitted pairs re-check block equality and newness member-by-
    * member. Same-class pairs are identical non-empty token sets:
    * jaccard sz/sz = 1.0, exactly the direct intersect's value; empty
    * token sets are excluded, matching the direct form where they
    * produce no prefix rows (and a 0/0 = NaN jaccard, never >= t). */
  private def classPairJaccard(all: DataFrame, idCol: String, textCol: String,
                               blockCol: String, threshold: Double): DataFrame = {
    val (repJac, m) = classPairCore(all, idCol, textCol, blockCol, threshold)
    expandClassPairs(repJac, m, threshold)
  }

  /** Stages 1–2 of the class-collapsed engine: verified CLASS pairs
    * (`__ra < __rb`, jaccard) plus the slim member table
    * (`__mid, blk, is_new, sz, __rep`). Finishers: [[expandClassPairs]]
    * (id-level output) or [[jaccardClassPairCounts]] (multiplicity
    * digest rows — the 100 TB gate shape, where the quadratic id
    * expansion never materializes). */
  private def classPairCore(all: DataFrame, idCol: String, textCol: String,
                            blockCol: String, threshold: Double): (DataFrame, DataFrame) = {
    val t = hashedTokenProjection(all, idCol, textCol, blockCol)
    // one row per class: the token-set array itself + rep = min member
    val reps = t.groupBy(col("h")).agg(min(col(idCol)).as("__rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releaseAfterUse(reps)
    // slim member table: id -> (class rep, block, newness, set size)
    val m = t.join(reps, Seq("h"))
      .select(col(idCol).as("__mid"), col("blk"), col("is_new"),
        col("sz"), col("__rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releaseAfterUse(m)
    // class-level prefix units — one row per (class, block), flagged
    // with whether any member there is new; shaped exactly like t so
    // prefixRows applies unchanged (the rep plays the id role)
    val units = m.groupBy(col("__rep"), col("blk"))
      .agg(max(col("is_new")).as("is_new"))
      .join(reps, Seq("__rep"))
      .select(col("__rep").as(idCol), col("blk"), col("is_new"),
        size(col("h")).as("sz"), col("h"))
    val pref = prefixRows(units, idCol, threshold)

    // candidate CLASS pairs: probe side = units holding a new member
    // (every unit, for the full-corpus operator); index side = all
    val n = pref.filter(col("is_new"))
      .select(col("blk"), col("tok"), col(idCol).as("id_n"),
        col("sz").as("sn"), col("pos").as("pn"))
    val o = pref.select(col("blk"), col("tok"), col(idCol).as("id_o"),
      col("sz").as("so"), col("pos").as("po"), col("is_new").as("new_o"))
    val joinKeys = Seq("blk", "tok")
    // r17-opt (guide §8): the candidate join's cost is its FAN-OUT —
    // every posting collision pays the ppjoin bounds check — not its
    // input bytes, so AQE's bytes-based coalescing would run it on one
    // task. Explicit key-hash partitioning at defaultParallelism keeps
    // the join parallel at every SF (the shape the 100× SCALEBENCH
    // runs proved out with the same partition count).
    val par = all.sparkSession.sparkContext.defaultParallelism
    val repPairs = n.repartition(par, joinKeys.map(col): _*)
      .join(o.repartition(par, joinKeys.map(col): _*), joinKeys)
      .filter(col("id_n") =!= col("id_o") &&
        // probe x probe pairs appear from both ends — keep one copy
        (!col("new_o") || col("id_n") < col("id_o")) &&
        ppjoinBounds(threshold, col("sn"), col("pn"), col("so"), col("po")))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      // r17-opt (guide §8): the verify downstream runs a merge-scan
      // intersection over the re-attached token arrays — CPU-dense
      // work on a slim id-pair stream that AQE's bytes-based
      // coalescing would serialize onto one task. ONE pair-keyed hash
      // exchange both dedups the candidates and declares the verify's
      // width: the join output is partitioned by (blk, tok)
      // and each (pair, posting) row is unique, so pair duplicates
      // are strictly cross-partition — the former `.distinct()`'s
      // map-side partial agg removed nothing, and its round-robin
      // successor re-shipped the deduped stream (EdJoin.scala has the
      // same fusion with the full rationale).
      .repartition(par, col("id_a"), col("id_b"))
      .distinct()

    // exact verify, once per class pair: re-attach the rep arrays,
    // merge-scan the intersection (codegen'd), true Jaccard
    val ta = reps.select(col("__rep").as("id_a"), size(col("h")).as("sa"),
      col("h").as("ha"))
    val tb = reps.select(col("__rep").as("id_b"), size(col("h")).as("sb"),
      col("h").as("hb"))
    val repJac = repPairs.join(ta, Seq("id_a")).join(tb, Seq("id_b"))
      .withColumn("inter",
        graft.functions.ArrayFunctions.sortedIntersectSize(col("ha"), col("hb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("__ra"), col("id_b").as("__rb"), col("jaccard"))
    (repJac, m)
  }

  /** Id-level finisher over [[classPairCore]]'s output. */
  private def expandClassPairs(repJac: DataFrame, m: DataFrame,
                               threshold: Double): DataFrame = {
    // EXPAND members over the verified class pairs — the only
    // output-sized stage, produced at the sink with no further shuffle
    val ma = m.select(col("__mid").as("__xid"), col("blk").as("__xblk"),
      col("is_new").as("__xnew"), col("__rep").as("__ra"))
    val mb = m.select(col("__mid").as("__yid"), col("blk").as("__yblk"),
      col("is_new").as("__ynew"), col("__rep").as("__rb"))
    val crossClass = repJac.join(ma, Seq("__ra")).join(mb, Seq("__rb"))
      .filter(col("__xblk") === col("__yblk") &&
        (col("__xnew") || col("__ynew")))
      .select(least(col("__xid"), col("__yid")).as("id_a"),
        greatest(col("__xid"), col("__yid")).as("id_b"), col("jaccard"))
    // same-class pairs: identical non-empty token sets, jaccard 1.0.
    // NOTE a class of k same-block members inherently contributes
    // C(k, 2) output rows — a corpus that is one giant duplicate class
    // pays its own output size here, nothing else.
    val sa2 = m.filter(col("sz") >= 1).select(col("__rep"), col("blk"),
      col("__mid").as("__xid"), col("is_new").as("__xnew"))
    val sb2 = m.filter(col("sz") >= 1).select(col("__rep"), col("blk"),
      col("__mid").as("__yid"), col("is_new").as("__ynew"))
    val sameClass = sa2.join(sb2, Seq("__rep", "blk"))
      .filter(col("__xid") < col("__yid") && (col("__xnew") || col("__ynew")))
      .select(col("__xid").as("id_a"), col("__yid").as("id_b"),
        lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)
    crossClass.unionByName(sameClass)
  }

  /** Class-pair MULTIPLICITY rows for the exact Jaccard near-dup set —
    * the 100 TB gate/digest shape. Output: one row per qualifying class
    * pair, `(id_a, id_b, jaccard, n_pairs)` where id_a/id_b are the
    * class reps (min member id; `id_a == id_b` marks same-class groups)
    * and `n_pairs` is the number of id-level pairs the class pair
    * expands to (Σ_block |A_b|·|B_b| cross-class; Σ_block C(k_b, 2)
    * same-class). Exactly determines [[jaccardPairsPrefix]]'s id-level
    * multiset given class membership — which an independent oracle
    * derives itself from the raw documents — so digesting THESE rows
    * verifies the full pair multiset while the output-quadratic id
    * expansion (7.6B rows at the 100× twin fixture, produced only to be
    * hashed) never materializes. Rows stay class-pair-sized end to end:
    * the member table is consumed by one map-side-combinable count
    * aggregate, never joined at id grain. */
  def jaccardClassPairCounts(docs: DataFrame, idCol: String, textCol: String,
                             blockCol: String, threshold: Double): DataFrame =
    // every row new ⇒ the new-endpoint deltas vanish (na·nb − 0,
    // C(n,2) − 0): the full-corpus contract IS the incremental one
    // with an empty standing corpus — ONE digest builder, kept aligned
    // by construction
    classPairCountRows(docs.withColumn("is_new", lit(true)),
      idCol, textCol, blockCol, threshold)

  /** [[jaccardClassPairCounts]] restricted to pairs touching an
    * increment — the digest twin of [[jaccardPairsPrefixIncremental]],
    * whose id-level output is quadratic under exact-twin replication
    * (every new twin pairs with every standing twin of its class).
    * `n_pairs` counts, per qualifying class pair and per shared block,
    * only the id pairs with at least one NEW endpoint:
    * `na·nb − naOld·nbOld` cross-class and `C(k,2) − C(kOld,2)`
    * same-class — so the digest exactly determines the incremental
    * id-level multiset given class membership while staying class-pair-
    * sized. Candidate generation is unchanged from the incremental
    * operator (new units probe the corpus prefix index), so corpus ×
    * corpus work still never happens.
    *
    * PRECONDITION: `newDocs` and `corpus` must be id-disjoint — the
    * union treats every row independently, so a doc present on both
    * sides is counted as two class members and its pairs double-count
    * (silently: no duplicate-id check is affordable at corpus scale).
    * The nightly-ingest contract guarantees this by construction
    * (increment = rows not yet in the standing corpus); DedupSpec
    * asserts it on the gate's fixture split. */
  def jaccardClassPairCountsIncremental(newDocs: DataFrame, corpus: DataFrame,
                                        idCol: String, textCol: String,
                                        blockCol: String,
                                        threshold: Double): DataFrame = {
    val all = newDocs.select(col(idCol), col(blockCol), col(textCol))
      .withColumn("is_new", lit(true))
      .unionByName(corpus.select(col(idCol), col(blockCol), col(textCol))
        .withColumn("is_new", lit(false)))
    classPairCountRows(all, idCol, textCol, blockCol, threshold)
  }

  /** Shared digest assembly of [[jaccardClassPairCounts]] (every row
    * new) and [[jaccardClassPairCountsIncremental]]: `n_pairs` counts,
    * per qualifying class pair and per shared block, only the id pairs
    * with at least one `is_new` endpoint — `na·nb − naOld·nbOld`
    * cross-class, `C(k,2) − C(kOld,2)` same-class. */
  private def classPairCountRows(all: DataFrame, idCol: String,
                                 textCol: String, blockCol: String,
                                 threshold: Double): DataFrame = {
    val (repJac, m) = classPairCore(all, idCol, textCol, blockCol, threshold)
    // per (class, block) member counts — sz carried for the non-empty
    // same-class guard (members of one class share sz by construction)
    val cnt = m.groupBy(col("__rep"), col("blk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("nnew"),
        max(col("sz")).as("__sz"))
    val ca = cnt.select(col("__rep").as("__ra"), col("blk"),
      col("n").as("na"), col("nnew").as("nna"))
    val cb = cnt.select(col("__rep").as("__rb"), col("blk"),
      col("n").as("nb"), col("nnew").as("nnb"))
    val cross = repJac.join(ca, Seq("__ra")).join(cb, Seq("__rb", "blk"))
      .groupBy(col("__ra"), col("__rb"), col("jaccard"))
      .agg(sum(col("na") * col("nb") -
        (col("na") - col("nna")) * (col("nb") - col("nnb"))).as("n_pairs"))
      .filter(col("n_pairs") > 0)
      .select(col("__ra").as("id_a"), col("__rb").as("id_b"),
        col("jaccard"), col("n_pairs"))
    val same = cnt.filter(col("__sz") >= 1 && lit(1.0) >= threshold)
      .groupBy(col("__rep"))
      .agg(sum(expr(
        "n * (n - 1) div 2 - (n - nnew) * (n - nnew - 1) div 2"))
        .as("n_pairs"))
      .filter(col("n_pairs") > 0)
      .select(col("__rep").as("id_a"), col("__rep").as("id_b"),
        lit(1.0).as("jaccard"), col("n_pairs"))
    cross.unionByName(same)
  }

  /** Incremental exact Jaccard near-dup check — the nightly-ingest
    * shape: a new batch arrives and must be checked against the
    * existing corpus (and against itself), but corpus×corpus pairs were
    * already settled by previous runs and must cost NOTHING beyond the
    * inverted-index scan. Same prefix/positional filters and identical
    * output contract as [[jaccardPairsPrefix]] restricted to pairs that
    * touch the increment; pair ids are canonicalized (id_a < id_b)
    * regardless of which side is new.
    *
    * 100 TB: candidate generation probes the corpus-sized prefix index
    * with ONLY the increment's prefixes (at class granularity — see
    * [[classPairJaccard]]) — shuffle volume is O(increment tokens +
    * corpus prefix tokens), linear per run, and the quadratic-in-corpus
    * candidate space never exists. */
  def jaccardPairsPrefixIncremental(newDocs: DataFrame, corpus: DataFrame,
                                    idCol: String, textCol: String,
                                    blockCol: String, threshold: Double): DataFrame = {
    val all = newDocs.select(col(idCol), col(blockCol), col(textCol))
      .withColumn("is_new", lit(true))
      .unionByName(corpus.select(col(idCol), col(blockCol), col(textCol))
        .withColumn("is_new", lit(false)))
    classPairJaccard(all, idCol, textCol, blockCol, threshold)
  }

  // ------------------------------------------------- connected components

  /** Connected components over a near-dup pair set, via alternating
    * large-star / small-star rounds (the MapReduce CC construction of
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Near-dup dedup needs this: pair emitters ([[nearDupMinHash]],
    * [[jaccardPairsPrefix]], [[cosineNearDupLsh]]) produce an edge SET,
    * but "keep one doc per duplicate cluster" needs the transitive
    * closure — a~b and b~c must collapse a,b,c together even when a~c
    * itself is below threshold.
    *
    * Why this algorithm at 100 TB: each round is a fixed set of slim
    * 2-column shuffles (two-phase min per endpoint + a distinct), rows
    * stay O(|edges|), and convergence is O(log n) rounds REGARDLESS of
    * component diameter — a chain of n near-identical docs converges in
    * ~2·log₂(n) rounds where naive min-label propagation needs n. No
    * neighbor lists are ever collected, and the per-endpoint minimum is
    * a map-side-combinable `groupBy.agg(min)` (+ re-join on the same
    * key), so a celebrity node with 10⁸ neighbors contributes one
    * partial min per upstream task — neither an OOM nor a one-task
    * window straggler.
    *
    *  - large-star(u): every neighbor v > u re-links to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star(u): u and its smaller neighbors all link to the
    *    minimum among them.
    *
    * Each round ends in `localCheckpoint` (plan truncation — iterative
    * lineage otherwise grows without bound; swap for `checkpoint` with a
    * reliable dir on a real cluster). Convergence is screened by an
    * order-independent edge-set signature and then CONFIRMED by an
    * exact set compare (runs once, at the signature match): downstream
    * `keepCanonical` deletes documents off this labeling, so a
    * signature hash collision must not be able to end the loop early.
    * Raises after `maxIter` rounds instead of returning a possibly-
    * wrong labeling.
    *
    * Input: one row per undirected edge (self-loops and null endpoints
    * are dropped; ids must be mutually comparable). Output: one row per
    * node appearing in `pairs` — (`node_id`, `component`) with
    * `component` = the minimum node id of the node's component. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 30): DataFrame = {
    val init = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()

    // r17-opt: convergence = the current edge set IS a star forest,
    // tested directly — one groupBy-per-endpoint screen per round —
    // instead of the former consecutive-signature compare (count +
    // bit_xor per round, one confirmation ccRound whose only purpose
    // was to reproduce the previous edge set, and an exceptAll on the
    // match). Exactness: [[isStarForest]] passing ⇒ ccRound(edges) =
    // edges (proof at the method), so the loop stops precisely at the
    // state the signature loop would have returned after its extra
    // round — same labeling, one ccRound and one exceptAll fewer, and
    // an already-star input (pair-only graphs, the common dedup shape)
    // runs ZERO rounds. The output projection below has always relied
    // on the converged state being a star forest, so no new assumption
    // is introduced. localCheckpoint stays LAZY — the star screen is
    // the round's materializing action (one job per round).
    var edges = localCheckpoint(init, eager = false)
    var converged = isStarForest(edges)
    var it = 0
    while (!converged && it < maxIter) {
      edges = localCheckpoint(ccRound(edges), eager = false)
      converged = isStarForest(edges)
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"(edge set is still not a star forest) — raise maxIter")
    // converged state is a star forest: every edge is (root, member).
    edges.select(col("v").as("node_id"), col("u").as("component"))
      .union(edges.select(col("u").as("node_id"), col("u").as("component")))
      .distinct()
  }

  /** One large-star + small-star round over a canonical (u < v) edge
    * set — package-visible so the plan-shape spec can assert the
    * two-phase min actually partial-aggregates. */
  private[graft] def ccRound(edges: DataFrame): DataFrame =
    ccSmallStar(ccLargeStar(edges))

  /** Is the canonical (u < v, distinct) edge set a STAR FOREST — no
    * node appears as both a parent (u) and a child (v), and every
    * child has exactly one parent? This is the loop's EXACT stopping
    * certificate: star forest ⇒ ccRound(edges) = edges.
    *
    * Proof. Let E be a star forest: parents U and children V disjoint,
    * each v ∈ V on exactly one edge, and u < v per edge (so each root
    * is the minimum of its star — it is smaller than all its children
    * and adjacent to nothing else). Large-star: sym = E ∪ Eᵀ. For a
    * root r, N(r) = its children, all > r, so m = min(N(r) ∪ {r}) = r
    * and the v > u filter emits (r, c) for every child — E again. For
    * a child c, N(c) = {r} with r < c, so the v > u filter emits
    * nothing. Hence largeStar(E) = E (exactly, row for row). Small-
    * star: oriented rows are (c, r); each child group has the single
    * neighbor r, so m = r, and the two emissions are (r, r) — dropped
    * by the u ≠ v filter — and (r, c): E again after the distinct.
    * So ccRound(E) = E, and stopping here returns the identical
    * labeling the signature-stability loop returned after paying one
    * more ccRound to observe the set unchanged (plus an exceptAll to
    * make the compare exact — both retired). The converse direction
    * (every fixpoint is a star forest) is the algorithm's established
    * convergence invariant, which the output projection below has
    * always assumed. Per round this screen costs one groupBy over the
    * edge endpoints — partial-aggregating, skew-safe (a celebrity
    * root's children combine map-side), and the limit-1 probe stops
    * at the first offending node. */
  private[graft] def isStarForest(edges: DataFrame): Boolean =
    edges.select(col("u").as("n"), lit(1L).as("__p"), lit(0L).as("__c"))
      .unionAll(edges.select(col("v").as("n"), lit(0L).as("__p"),
        lit(1L).as("__c")))
      .groupBy(col("n"))
      .agg(sum(col("__p")).as("__p"), sum(col("__c")).as("__c"))
      .filter((col("__p") > 0 && col("__c") > 0) || col("__c") > 1)
      .isEmpty

  // Per-endpoint minimum is TWO-PHASE (groupBy.agg(min) + re-join on
  // the same key), not a window: HashAggregate partial-aggregates
  // map-side, so a celebrity endpoint of degree 10⁸ contributes one
  // partial min per upstream task instead of funneling every edge
  // through ONE window task (window min computes the same value but
  // cannot partial-aggregate — each partitionBy group is a single
  // sorted run). The join adds no extra exchange: both sides are
  // hash-partitioned on u by the agg/shuffle that precedes them.
  private def ccMinPerEndpoint(df: DataFrame): DataFrame =
    df.groupBy(col("u")).agg(min(col("v")).as("mv"))

  // large-star: group the SYMMETRIC neighborhood by u; every neighbor
  // v > u re-links to m = min(N(u) ∪ {u}). The emitted (m, v) edge is
  // already min-first, so (least, greatest) re-canonicalization is
  // implicit in how we emit.
  private def ccLargeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    // no distinct here: small-star's end-of-round distinct restores
    // set semantics and min is duplicate-insensitive. Duplicate
    // (m, v) emissions are bounded by deg(v) within a round (a
    // near-clique of k dups can feed small-star O(k²) rows where a
    // distinct'd form feeds O(k)) — but the distinct costs a full
    // extra shuffle EVERY round, and the k-clique case already pays
    // O(k²) in the pair set itself. Reinstate the distinct if a
    // corpus with huge duplicate cliques makes round cost dominate.
    sym.join(ccMinPerEndpoint(sym), Seq("u"))
      .withColumn("m", least(col("mv"), col("u")))
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
  }

  // small-star: orient edges max→min (input is min-first, so flip);
  // u's smaller neighbors AND u itself all link to the minimum m.
  // Emits (m, v) for v ∈ N⁻(u) ∪ {u}, v ≠ m.
  private def ccSmallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(col("v").as("u"), col("u").as("v")) // u > v
    val withMin = oriented.join(
      ccMinPerEndpoint(oriented).withColumnRenamed("mv", "m"), Seq("u"))
    withMin.select(col("m").as("u"), col("v"))
      .union(withMin.select(col("m").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Near-dup dedup APPLY step: collapse the pair set to components and
    * keep only each component's canonical (minimum-id) member. Docs that
    * appear in no pair survive untouched — the anti-join removes exactly
    * the non-canonical component members. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame, idCol: String,
                    aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    keepCanonicalFromComponents(docs, connectedComponents(pairs, aCol, bCol),
      idCol)

  /** [[keepCanonical]] over an ALREADY-COMPUTED component labeling
    * (`node_id`, `component` = min member id) — the form the
    * class-collapsed emitters produce directly, where re-deriving the
    * labeling from an id-level pair set would materialize the
    * quadratic pair expansion just to collapse it again. */
  def keepCanonicalFromComponents(docs: DataFrame, components: DataFrame,
                                  idCol: String): DataFrame = {
    val victims = components
      .filter(col("node_id") =!= col("component"))
      .select(col("node_id").as(idCol))
    docs.join(victims, Seq(idCol), "left_anti")
  }

  /** [[keepCanonical]] with a QUALITY-chosen canonical: each near-dup
    * component keeps its best member under `(scoreCol desc, idCol
    * asc)` — "of these near-identical pages, keep the highest-quality
    * copy", the form curation pipelines actually want (min-id keeps
    * whichever copy was crawled first). The winner is picked with ONE
    * map-side-combinable max_by aggregation over the component
    * labeling joined to the scores — no window, no per-component sort;
    * the id tie-break makes the choice deterministic when scores tie.
    * Docs in no pair survive untouched, as in [[keepCanonical]]. */
  def keepCanonicalBy(docs: DataFrame, pairs: DataFrame, idCol: String,
                      scoreCol: String, aCol: String = "id_a",
                      bCol: String = "id_b"): DataFrame =
    keepCanonicalByFromComponents(docs,
      connectedComponents(pairs, aCol, bCol), idCol, scoreCol)

  /** [[keepCanonicalBy]] over an ALREADY-COMPUTED component labeling —
    * see [[keepCanonicalFromComponents]] for why the class-collapsed
    * emitters hand the labeling over directly. */
  def keepCanonicalByFromComponents(docs: DataFrame, components: DataFrame,
                                    idCol: String,
                                    scoreCol: String): DataFrame = {
    val members = components
      .select(col("node_id").as(idCol), col("component"))
      .join(docs.select(col(idCol), col(scoreCol)), Seq(idCol))
    // (score desc, id asc) in two map-side-combinable aggs: best score
    // per component, then min id among the best-scored members — the
    // struct(score, -id) max_by one-liner would silently require a
    // NUMERIC id (unary minus on a string id casts to double: null
    // keys off ANSI, a runtime error under it), while min(id) orders
    // any Spark-orderable id type
    val best = members.groupBy(col("component"))
      .agg(max(col(scoreCol)).as("__best"))
    val winners = members.join(best, Seq("component"))
      // null-SAFE equality: a component whose every score is null has
      // __best = null, and `===` would match no member — the whole
      // component would be deleted instead of keeping one canonical
      // copy; `<=>` lets the all-null component fall through to the
      // min-id tie-break (mixed null/non-null still prefers scored
      // members, since max ignores nulls)
      .filter(col(scoreCol) <=> col("__best"))
      .groupBy(col("component"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val victims = members.select(col(idCol))
      .join(winners, Seq(idCol), "left_anti")
    docs.join(victims, Seq(idCol), "left_anti")
  }

  /** Sliding token-window fingerprints shared by
    * [[duplicatedSpanProfile]] and [[trimDuplicatedSpans]]: one row per
    * window start — (id, pos 0-based, fp) where fp is the top-60-md5-
    * bit fingerprint of the window's space-joined tokens (the
    * [[Sharding.shardId]] hex-parse parity trick, so a DuckDB oracle
    * computes the identical BIGINT). The gram STRING never leaves the
    * projection — only 8-byte fingerprints shuffle. The result is
    * persisted until the query boundary: both consumers feed it
    * into a frequency agg AND a re-attachment join, and the
    * window-concat + md5 projection is the dominant cost — computing
    * it once instead of twice nearly halves the job. */
  private def spanOccurrences(docs: DataFrame, idCol: String,
                              textCol: String, window: Int): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val nStarts = size(toks) - (window - 1)
    val grams = when(nStarts >= 1,
      transform(sequence(lit(0), nStarts - 1),
        i => concat_ws(" ", slice(toks, i + 1, lit(window)))))
      .otherwise(array().cast("array<string>"))
    val occ = docs
      .select(col(idCol), posexplode(grams).as(Seq("pos", "__gram")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        conv(substring(md5(col("__gram").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("fp"))
      .persist()
    releaseAfterUse(occ)
    occ
  }

  /** Occurrences with their duplicate flag — the shared core of the
    * profile and trim entry points: (idCol, pos, __dup) where __dup
    * marks a NON-canonical occurrence of a repeated fingerprint.
    * Public because it is the natural PERSISTED ARTIFACT of the span
    * family: one build serves both consumers ([[duplicatedSpanProfileFrom]]
    * aggregates it, [[trimDuplicatedSpansFrom]] expands only its
    * `__dup` rows) — the window-concat + md5 projection and the
    * frequency agg+join are the dominant cost and need not be paid
    * once per consumer. */
  def duplicatedSpanFlags(docs: DataFrame, idCol: String,
                          textCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val occ = spanOccurrences(docs, idCol, textCol, window)
      .withColumn("__epos",
        when(col("pos") < LineDedup.PosBase &&
            col(idCol).between(0L, LineDedup.MaxId),
          col(idCol) * LineDedup.PosBase + col("pos"))
          .otherwise(raise_error(lit("duplicated-span detection: position " +
            "encoding would overflow; re-key ids first"))))
    val freq = occ.groupBy(col("fp"))
      .agg(count(lit(1)).as("__n"), min(col("__epos")).as("__keeper"))
    occ.join(freq, Seq("fp"))
      .select(col(idCol), col("pos"),
        (col("__n") >= 2 && col("__epos") =!= col("__keeper")).as("__dup"))
  }

  /** Cross-document EXACT duplicated-span detection (the ExactSubstr
    * idea of Lee et al. '22, "Deduplicating Training Data Makes
    * Language Models Better", at token-window granularity): a span of
    * `window` consecutive tokens whose fingerprint occurs more than
    * once corpus-wide is a duplicated span; the globally-first
    * occurrence (by (id, pos) — [[LineDedup.PosBase]] encoding) is
    * canonical, the rest are trim candidates. Near-dup families
    * (MinHash/SimHash/Jaccard/cosine) score whole documents; this
    * catches the verbatim PARAGRAPH pasted into otherwise-distinct
    * pages, which whole-doc similarity dilutes below any threshold.
    *
    * Output: one row per doc — (idCol, n_spans, n_dup_spans,
    * dup_fraction) where n_dup_spans counts NON-canonical occurrences
    * of repeated fingerprints. Docs shorter than `window` tokens have
    * n_spans = 0 and dup_fraction 0.0.
    *
    * Scale shape: everything is LINEAR in corpus tokens — windows are
    * a narrow generate, the frequency agg map-side-combines on the
    * 8-byte fingerprint, the join re-attaches counts to occurrences,
    * and no doc pair is ever materialized (a boilerplate span shared
    * by 10⁶ docs is one frequency row, not 10¹² pairs). */
  def duplicatedSpanProfile(docs: DataFrame, idCol: String,
                            textCol: String, window: Int): DataFrame =
    duplicatedSpanProfileFrom(docs,
      duplicatedSpanFlags(docs, idCol, textCol, window), idCol)

  /** [[duplicatedSpanProfile]] over a pre-built (possibly persisted)
    * flags frame — see [[duplicatedSpanFlags]]. */
  def duplicatedSpanProfileFrom(docs: DataFrame, flags: DataFrame,
                                idCol: String): DataFrame = {
    val flagged = flags
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col(idCol)).distinct()
      .join(flagged, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) === 0L, lit(0.0))
          .otherwise(coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
            col("n_spans").cast("double")).as("dup_fraction"))
  }

  /** The APPLY step of [[duplicatedSpanProfile]]: delete every token
    * covered by a non-canonical duplicated span (the union of their
    * [pos, pos+window) ranges) and reassemble the survivors in
    * document order — the canonical copy of each repeated span
    * survives verbatim in exactly one document. Output: (idCol,
    * n_tokens, n_dropped_tokens, kept_text).
    *
    * The only inflation is dropped-occurrence ranges exploding to
    * their `window` token indices before a distinct — linear in the
    * tokens actually being removed, never in the corpus. */
  def trimDuplicatedSpans(docs: DataFrame, idCol: String,
                          textCol: String, window: Int): DataFrame =
    trimDuplicatedSpansFrom(docs,
      duplicatedSpanFlags(docs, idCol, textCol, window),
      idCol, textCol, window)

  /** [[trimDuplicatedSpans]] over a pre-built (possibly persisted)
    * flags frame — see [[duplicatedSpanFlags]]. `window` must match
    * the flags build (it sizes the covered-token expansion).
    *
    * Plan shape (r14): the flags collapse to ONE sorted span-start
    * list per flagged doc (dup-span-grain agg), that doc-grain frame
    * joins the documents once, and the trim itself — token i dropped
    * iff some start s has s ≤ i < s+window — is a higher-order filter
    * computed inside the row. The r13 plan posexploded EVERY corpus
    * token through an anti-join and re-assembled with a
    * collect_list+sort: three token-grain shuffles that were 29.2 s of
    * the 100× suite for what is per-doc-local work. Per-row cost is
    * O(tokens · dupSpansInDoc) — dup spans per doc are the quantity
    * the trim exists to remove, so the product degrades only on a doc
    * that is mostly boilerplate, where the output is tiny anyway. */
  def trimDuplicatedSpansFrom(docs: DataFrame, flags: DataFrame,
                              idCol: String, textCol: String,
                              window: Int): DataFrame = {
    val starts = flags.filter(col("__dup"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("pos"))).as("__starts"))
    val toksCol = TextAnalysis.tokens(col(textCol))
    val keptArr = when(col("__starts").isNull, col("__toks"))
      .otherwise(filter(col("__toks"), (_, i) =>
        !exists(col("__starts"),
          s => s <= i.cast("long") && i.cast("long") < s + window)))
    docs.select(col(idCol), toksCol.as("__toks"))
      .join(starts, Seq(idCol), "left_outer")
      .select(col(idCol),
        // a null text tokenizes to a null array, whose size is null —
        // report (0, 0, "") exactly like duplicatedSpanProfile does
        coalesce(size(col("__toks")).cast("long"), lit(0L)).as("n_tokens"),
        (coalesce(size(col("__toks")).cast("long"), lit(0L)) -
          coalesce(size(keptArr).cast("long"), lit(0L)))
          .as("n_dropped_tokens"),
        coalesce(concat_ws(" ", keptArr), lit("")).as("kept_text"))
  }

  /** Exact embedding-cosine near-dup pairs (the correctness oracle; the
    * scale path routes candidates through SignLsh buckets first). */
  def cosineNearDup(emb: DataFrame, idCol: String, embCol: String,
                    threshold: Double): DataFrame = {
    val a = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id_a"), col(embCol).as("ea"))
    val b = emb.select(col(idCol).as("id_b"), col(embCol).as("eb"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosSimF32(col("ea"), col("eb")).cast("double"))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Per-bit sign-agreement probability for a pair exactly AT the cosine
    * threshold: p1 = 1 − arccos(t)/π (the classic SimHash identity). */
  private def signAgreeProb(threshold: Double): Double =
    1.0 - math.acos(threshold.min(1.0).max(-1.0)) / math.Pi

  /** Number of independent sign-LSH bands so a pair AT `threshold` is
    * generated as a candidate with probability ≥ `targetRecall`
    * (1 − (1 − p1^bits)^L ≥ recall, solved for L; pairs ABOVE the
    * threshold collide with strictly higher probability). Capped at 64
    * bands — past that the probe volume dominates the shuffle — and the
    * cap is NOT silent: when it binds (loose thresholds or very wide
    * bucket spaces), the effective at-threshold recall is computed and
    * logged so a shortfall against `targetRecall` is visible. */
  def signLshBands(threshold: Double, bits: Int, targetRecall: Double = 0.9): Int = {
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    val pBand = math.pow(signAgreeProb(threshold), bits)
    if (pBand >= 1.0 - 1e-12) 1
    else {
      val raw = math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pBand))
        .toInt.max(1)
      if (raw > 64) {
        val effective = 1.0 - math.pow(1.0 - pBand, 64)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"signLshBands: threshold=$threshold%.2f bits=$bits needs $raw bands " +
            f"for recall >= $targetRecall%.2f; capped at 64 — effective " +
            f"at-threshold candidate recall is $effective%.2f. Tighten the " +
            "threshold, lower bits, or pass bands explicitly.")
        64
      } else raw
    }
  }

  /** `bits`-bit sign signature for band `band` — each band uses its own
    * disjoint slice of the deterministic hyperplane family. This is the
    * per-component REFERENCE form (one mix64 per (plane, component));
    * production rides [[Ann.signatureFrom]] over the precomputed plane
    * matrix — AnnSpec pins the two bit-equal, and the float semantics
    * argument is at [[Ann.signatureFrom]]. */
  private[graft] def bandSignature(vec: Seq[Float], band: Int, bits: Int): Int = {
    var sig = 0
    var j = 0
    while (j < bits) {
      val p = band * bits + j
      var dot = 0.0f
      var d = 0
      while (d < vec.length) { dot += vec(d) * Ann.planeSign(p, d); d += 1 }
      if (dot >= 0) sig |= (1 << j)
      j += 1
    }
    sig
  }

  /** Embedding-cosine near-dup at scale: BANDED sign-LSH (L independent
    * hash tables of `bits` bits each — the MinHash-banding construction
    * applied to random hyperplanes). A pair is a candidate if it shares
    * a bucket in ANY band; candidates verify with exact cosine, so
    * there are never false positives. Unlike a single table with
    * Hamming-1 probes, recall does NOT collapse as the bucket space
    * grows: `bits` scales with corpus size (bucket occupancy) while the
    * band count L re-derives from (threshold, bits, targetRecall) to
    * keep P[candidate | sim ≥ threshold] ≥ targetRecall at ANY scale.
    *
    * Scale guards: `nBits <= 0` (default) derives bits from the corpus
    * count (~64 expected rows per bucket, clamped to [8, 20]);
    * `maxBucket` caps degenerate hot buckets (boilerplate corpora —
    * thousands of identical embeddings) the same way [[nearDupMinHash]]
    * does. The corpus projection is persisted for its four consumers
    * (sizing count, bucketing, both verify joins) and released at the
    * query boundary.
    *
    * Sizing without executing the upstream: `nBits` only gates bucket
    * OCCUPANCY, so any count within ~2× is fine — pass `corpusCount`
    * (a catalog row count, a manifest total, a stale count from the
    * previous run) and NOTHING executes at call time; the plan stays
    * fully lazy until the caller materializes the result. Passing
    * `nBits` explicitly also skips the count. Only when neither is
    * supplied does the auto-sizing fall back to ONE eager count of
    * `emb` at call time (it doubles as a cache warm). */
  def cosineNearDupLsh(emb: DataFrame, idCol: String, embCol: String,
                       threshold: Double, nBits: Int = 0, bands: Int = 0,
                       targetRecall: Double = 0.9,
                       maxBucket: Int = 1000,
                       corpusCount: Long = -1L): DataFrame = {
    require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
    val e = emb.select(col(idCol), col(embCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releaseAfterUse(e)
    val bits =
      if (nBits > 0) nBits
      else if (corpusCount > 0) lshBitsFor(corpusCount)
      else lshBitsFor(e.count())
    require(bits <= 24, s"nBits must be <= 24 (got $bits): the bucket key " +
      "would overflow the Int signature")
    val l = if (bands > 0) bands else signLshBands(threshold, bits, targetRecall)
    cosinePairsFromBuckets(signLshBandBuckets(e, idCol, embCol, l, bits),
      e, idCol, embCol, threshold, maxBucket)
  }

  /** Bucket-bit sizing from a corpus row count: ~64 expected rows per
    * bucket, clamped to [8, 20] ([[cosineNearDupLsh]]'s auto-sizing,
    * exposed so gates replicate the derivation). */
  def lshBitsFor(n: Long): Int =
    math.ceil(math.log((n.toDouble / 64.0).max(1.0)) / math.log(2.0)).toInt
      .max(8).min(20)

  /** Stage 1 of [[cosineNearDupLsh]]: (band, bucket, idCol) rows from
    * the banded random-hyperplane family — the non-SQL hash kernel,
    * handed off for independent replay of everything downstream. */
  def signLshBandBuckets(e: DataFrame, idCol: String, embCol: String,
                         bands: Int, bits: Int): DataFrame = {
    // r17-opt: unbox the vector once per row and index the cached plane
    // matrix — the closure form re-hashed mix64 for every (band, bit,
    // component) of every row through a boxed Seq (see Ann.planeMatrix)
    val sigUdf = udf { (v: Seq[Float]) =>
      val a = Ann.toFloatArray(v)
      val planes = Ann.planeMatrix(bands * bits, a.length)
      (0 until bands).map(band =>
        (band, Ann.signatureFrom(a, planes, band * bits, bits)))
    }
    e.withColumn("bh", explode(sigUdf(col(embCol))))
      .select(col("bh._1").as("band"), col("bh._2").as("bucket"), col(idCol))
  }

  /** Stage 2 of [[cosineNearDupLsh]]: hot-bucket cap, candidate pairs,
    * exact-cosine verify — relational algebra + the f32 cosine kernel
    * (bit-identical to DuckDB `list_cosine_similarity`). */
  def cosinePairsFromBuckets(bucketed: DataFrame, e: DataFrame, idCol: String,
                             embCol: String, threshold: Double,
                             maxBucket: Int = 1000): DataFrame = {
    // cap hot buckets before the pair join (one window pass on the
    // same shuffle key — the nearDupMinHash pattern)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val pruned = bucketed
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") > 1 && col("__bsz") <= maxBucket)
      .drop("__bsz")
    // candidates dedup'd on slim id pairs; vectors re-attached after.
    // Deliberately NOT class-deduped (the minHashVerifyPairs trick):
    // measured at the 100× twin fixture, the extra class joins cost
    // MORE than they save here (69 s → 86 s) because the f32 cosine
    // kernel is codegen'd and ~free per pair, unlike MinHash's
    // O(text) shingling UDF — the trick pays only when the per-pair
    // verify work dominates the bookkeeping shuffles.
    val a = pruned.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = pruned.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    candidates
      .join(e.select(col(idCol).as("id_a"), col(embCol).as("ea")), Seq("id_a"))
      .join(e.select(col(idCol).as("id_b"), col(embCol).as("eb")), Seq("id_b"))
      .withColumn("cos_sim", cosSimF32(col("ea"), col("eb")).cast("double"))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  // --------------------------- class-collapsed cosine near-dup family
  //
  // Exact-twin replication (boilerplate corpora, scaled fixtures) makes
  // the id-level cosine pair set quadratic in the twin factor: k copies
  // of one embedding contribute C(k, 2) same-class pairs plus k·k'
  // pairs against every near-neighbor class. The [[classPairJaccard]]
  // recipe applies wholesale — identical embeddings form classes, every
  // pair stage runs once per CLASS pair, and the id grain is either a
  // multiplicity count (gates) or a linear per-node expansion
  // (components/apply). Same-class semantics: members hold the SAME
  // bits, so their similarity is 1.0 BY DEFINITION; the engine reports
  // lit(1.0) without running the kernel (cheaper — and since r13's
  // [-1, 1] clamp the kernel's self round-trip agrees exactly: the
  // old 1.0000001192 sqrt(na)·sqrt(nb) artifact is clamped away, in
  // bit-parity with DuckDB's own clamp). All-zero
  // classes never qualify (matching the kernel's zero-norm guard; the
  // test is exact element-wise ≠ 0, so a subnormal-only vector whose
  // squared norm underflows f32 counts as non-zero here — divergence
  // only on that pathology).

  /** Classes of IDENTICAL embeddings. Returns `(classes, members)`:
    * `classes` — one row per distinct embedding, `(__rep` = min member
    * id, `__k` = member count, `__emb`, `__nz` = any element ≠ 0`)`,
    * persisted (the caller registers [[releaseAfterUse]] or
    * unpersists); `members` — `(__mid, __rep)`, lazy and unpersisted. One
    * shuffle total: a window over the embedding key labels members and
    * classes in the same pass. */
  def cosineClasses(emb: DataFrame, idCol: String,
                    embCol: String): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(embCol))
    val m0 = emb.select(col(idCol), col(embCol))
      .withColumn("__rep", min(col(idCol)).over(w))
      .withColumn("__k", count(lit(1)).over(w))
    val classes = m0.filter(col(idCol) === col("__rep"))
      .select(col("__rep"), col("__k"), col(embCol).as("__emb"),
        exists(col(embCol), x => x =!= lit(0.0f)).as("__nz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = m0.select(col(idCol).as("__mid"), col("__rep"))
    (classes, members)
  }

  /** Verified cross-class cosine pairs over the class reps —
    * [[cosineNearDup]]'s exact emitter run once per distinct-embedding
    * pair instead of once per id pair. Output: `(__ra, __rb, cos_sim)`
    * with `__ra < __rb`. Still the declared correctness oracle (O(c²)
    * over DISTINCT embeddings); the scale path routes class reps
    * through [[signLshBandBuckets]] instead.
    *
    * Broadcast guard: on a twin-heavy corpus the class table is tiny
    * and a broadcast nested-loop is the right plan, but on a
    * DISTINCT-heavy corpus (c ≈ n — the real 100 TB shape) the
    * unguarded `broadcast(b)` ships every distinct embedding to every
    * task and fails outright at driver/broadcast limits long before
    * the O(c²) compute does. Above `maxBroadcastClasses` the emitter
    * falls back to a partitioned cartesian (`CartesianProductExec`,
    * small side re-bucketed so task count stays ~parallelism²) — the
    * same pair multiset, no broadcast, still O(c²) compute BY DESIGN:
    * this is the declared oracle, not the scale route. The class-count
    * action is cheap (callers hand in the persisted `classes` frame);
    * callers that already know the class count pass it via
    * `knownClassCount` and the guard runs NO action at all. */
  def cosineClassPairs(classes: DataFrame, threshold: Double,
                       maxBroadcastClasses: Long = 500000L,
                       knownClassCount: Option[Long] = None): DataFrame = {
    val par = classes.sparkSession.sparkContext.defaultParallelism
    val a = classes
      .repartition(par)
      .select(col("__rep").as("__ra"), col("__emb").as("__ea"))
    val b = classes.select(col("__rep").as("__rb"), col("__emb").as("__eb"))
    val nClasses = knownClassCount.getOrElse(classes.count())
    val crossed =
      if (nClasses <= maxBroadcastClasses) a.crossJoin(broadcast(b))
      else {
        // ~par² tasks of c/par × c/par pairs each — balanced without
        // ever holding more than one b-bucket per task in memory
        val bBuckets = math.max(1, math.min(par.toLong,
          nClasses / math.max(1L, maxBroadcastClasses) + 1).toInt)
        a.crossJoin(b.repartition(bBuckets))
      }
    crossed
      .filter(col("__ra") < col("__rb"))
      .withColumn("cos_sim", cosSimF32(col("__ea"), col("__eb")).cast("double"))
      .filter(col("cos_sim") >= threshold)
      .select(col("__ra"), col("__rb"), col("cos_sim"))
  }

  /** Class-pair MULTIPLICITY rows for the exact cosine near-dup set —
    * the 100 TB gate/digest shape ([[jaccardClassPairCounts]]'s
    * contract applied to embeddings). Output: one row per qualifying
    * class pair, `(id_a, id_b, cos_sim, n_pairs)`: cross rows carry the
    * kernel cosine of the two class embeddings — bit-identical to every
    * member pair's — and `n_pairs = ka·kb`; `id_a == id_b` marks
    * same-class groups (identical non-zero embeddings, `cos_sim = 1.0`
    * by definition, `n_pairs = C(k, 2)`, qualifying at any threshold
    * ≤ 1). Together with class membership — which an independent oracle
    * re-derives from the raw embeddings — these rows exactly determine
    * [[cosineNearDup]]'s id-level pair multiset (same-class pairs
    * reported at the DEFINED 1.0 — which the clamped kernel's self
    * round-trip now equals bit-for-bit), so
    * digesting them verifies the full pair set while the
    * output-quadratic id expansion never materializes. */
  def cosineClassPairCounts(emb: DataFrame, idCol: String, embCol: String,
                            threshold: Double): DataFrame = {
    val (classes, _) = cosineClasses(emb, idCol, embCol)
    // pairs BEFORE the release registration: cosineClassPairs counts
    // the classes (its broadcast guard), and that action must not be
    // the one that frees the cache
    val pairs = cosineClassPairs(classes, threshold)
    releaseAfterUse(classes)
    cosineClassPairCountsFrom(classes, pairs, threshold)
  }

  /** THE class-pair multiplicity contract, in one place: given a
    * classing `classes` (`__rep` = class rep id, `__k` = member count,
    * any extra columns pass through to `sameClassGuard`) and an
    * already-verified CROSS-class rep-pair frame `repPairs`
    * (`id_a, id_b, <valueCol>`), emit one row per qualifying class
    * pair — cross rows carry the verified value and
    * `n_pairs = ka·kb`; `id_a == id_b` rows mark same-class groups
    * (value = `sameClassValue` BY DEFINITION of identity — 1.0 for
    * similarity measures, 0.0 for distances like Hamming —
    * `n_pairs = C(k, 2)`, emitted when `sameClassQualifies` — the
    * statically-known answer to "does an identical pair pass the
    * family's threshold?" — and `sameClassGuard` hold). Shared by the
    * cosine family ([[cosineClassPairCountsFrom]], guard = non-zero
    * embedding), the text families (minhash gate, guard = always —
    * jaccard(x, x) is 1.0 even for empty texts), and the simhash gate
    * (identical texts at Hamming 0). Every blockless class-collapsed
    * gate digests THESE rows; the oracle re-derives classes from the
    * raw corpus and replays the assembly. */
  def classPairCountsFromReps(classes: DataFrame, repPairs: DataFrame,
                              valueCol: String,
                              sameClassValue: Double = 1.0,
                              sameClassQualifies: Boolean = true,
                              sameClassGuard: Column = lit(true)): DataFrame = {
    val cross = repPairs
      .join(classes.select(col("__rep").as("id_a"), col("__k").as("__ka")),
        Seq("id_a"))
      .join(classes.select(col("__rep").as("id_b"), col("__k").as("__kb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col(valueCol),
        (col("__ka") * col("__kb")).as("n_pairs"))
    val same = classes
      .filter(sameClassGuard && lit(sameClassQualifies) && col("__k") >= 2)
      .select(col("__rep").as("id_a"), col("__rep").as("id_b"),
        lit(sameClassValue).as(valueCol),
        expr("__k * (__k - 1) div 2").as("n_pairs"))
    cross.unionByName(same)
  }

  /** Multiplicity rows from an ALREADY-VERIFIED cross-class pair frame
    * (`__ra, __rb, cos_sim`) — shared by the exact emitter
    * ([[cosineClassPairCounts]]) and the LSH-routed gate (rep pairs
    * from [[cosinePairsFromBuckets]] over the class reps). Same-class
    * rows are appended by DEFINITION (identical non-zero embeddings,
    * 1.0, C(k, 2)) — they do not depend on the cross route. */
  def cosineClassPairCountsFrom(classes: DataFrame, repPairs: DataFrame,
                                threshold: Double): DataFrame =
    classPairCountsFromReps(classes,
      repPairs.select(col("__ra").as("id_a"), col("__rb").as("id_b"),
        col("cos_sim")),
      "cos_sim", sameClassValue = 1.0, sameClassQualifies = 1.0 >= threshold,
      sameClassGuard = col("__nz"))

  /** Expand a verified CLASS-pair edge set to the id-level component
    * labeling — `(node_id, component)` with component = min member id,
    * exactly [[connectedComponents]] over the (never materialized)
    * id-level pair expansion. Nodes appear iff they would appear in an
    * id-level pair: members of classes on a cross edge, and members of
    * multi-member qualifying classes (identical non-zero embeddings are
    * pairs at any threshold ≤ 1). Cross-edge members need no explicit
    * same-class edge: each connects to the SAME opposite-class members,
    * so the closure already merges them, and the rep-level labels are
    * the true id-level minima (every member ≥ its class rep). */
  def cosineExpandComponents(classes: DataFrame, members: DataFrame,
                             repPairs: DataFrame,
                             threshold: Double): DataFrame = {
    val repComp = connectedComponents(
      repPairs.select(col("__ra").as("id_a"), col("__rb").as("id_b")))
    members
      .join(classes.select(col("__rep"), col("__k"), col("__nz")), Seq("__rep"))
      .join(repComp.select(col("node_id").as("__rep"), col("component")),
        Seq("__rep"), "left_outer")
      .filter(col("component").isNotNull ||
        (col("__nz") && col("__k") >= 2 && lit(1.0) >= threshold))
      .select(col("__mid").as("node_id"),
        coalesce(col("component"), col("__rep")).as("component"))
  }

  /** Connected components over the exact cosine near-dup graph, class-
    * collapsed end to end: the CC rounds run over CLASS reps (edge set
    * is class-pair-sized) and the only id-grain stage is the final
    * linear per-node label expansion. Equals
    * `connectedComponents(cosineNearDup(...))` with same-class pairs
    * qualified at the defined 1.0 (see [[cosineClassPairCounts]]). */
  def cosineComponents(emb: DataFrame, idCol: String, embCol: String,
                       threshold: Double): DataFrame = {
    val (classes, members) = cosineClasses(emb, idCol, embCol)
    val repPairs = cosineClassPairs(classes, threshold)
    releaseAfterUse(classes)
    cosineExpandComponents(classes, members, repPairs, threshold)
  }

  /** Route chooser for the cosine dedup family, in one place so specs
    * can pin it: the exact O(c²) class-pair emitter below the
    * crossover, the sign-LSH bucketed route above it. The default
    * crossover is the measured ~10⁵-class boundary (SCALEBENCH r13:
    * exact 2.8 s @ 20k classes growing clean-quadratic to 232.8 s @
    * 200k, vs 88.4 s for the LSH route — curves crossing near 1e5). */
  def chooseCosineRoute(nClasses: Long,
                        crossoverClasses: Long = 100000L): String =
    if (nClasses <= crossoverClasses) "exact" else "lsh"

  /** Regime-routed end-to-end cosine dedup APPLY (class collapse →
    * pair generation by [[chooseCosineRoute]] → components over reps →
    * label expansion → keep canonical): the entry point a 100 TB
    * caller uses without reading SCALEBENCH. Below the crossover the
    * exact emitter is both faster and lossless; above it the sign-LSH
    * bucket route owns the regime (candidate volume scales with true
    * bucket collisions, not c²). The class count is computed ONCE on
    * the persisted classing and reused by the broadcast guard
    * (`knownClassCount`) and the LSH bit sizing — no hidden actions.
    * Kept-set equality of the two routes on both fixture shapes (twin
    * and distinct-heavy) is DedupSpec-pinned; at production scale the
    * LSH route's recall is probabilistic by design ([[signLshBands]]).
    */
  def cosineDedupAuto(emb: DataFrame, idCol: String, embCol: String,
                      threshold: Double,
                      crossoverClasses: Long = 100000L,
                      bands: Int = 8): DataFrame = {
    val (classes, members) = cosineClasses(emb, idCol, embCol)
    val nClasses = classes.count()
    val repPairs = chooseCosineRoute(nClasses, crossoverClasses) match {
      case "exact" =>
        cosineClassPairs(classes, threshold,
          knownClassCount = Some(nClasses))
      case _ =>
        val reps = classes.select(col("__rep").as(idCol),
          col("__emb").as(embCol))
        val buckets = signLshBandBuckets(reps, idCol, embCol, bands,
          lshBitsFor(nClasses))
        cosinePairsFromBuckets(buckets, reps, idCol, embCol, threshold)
          .select(col("id_a").as("__ra"), col("id_b").as("__rb"),
            col("cos_sim"))
    }
    val comps = cosineExpandComponents(classes, members, repPairs, threshold)
    releaseAfterUse(classes)
    keepCanonicalFromComponents(emb.select(col(idCol)), comps, idCol)
  }
}
