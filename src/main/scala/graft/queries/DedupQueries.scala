package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup

/** Deduplication queries (north-star scope, BASELINE.md): exact and
  * word-set fingerprint groups, blocked n-gram Jaccard, exact
  * embedding-cosine near-dup — all with DuckDB oracles. MinHash-LSH
  * and SimHash hash families are not expressible in ANSI SQL, so
  * their signatures are the parquet HANDOFF and the oracle replays
  * everything downstream (cap, pairing, verify, multiplicity digest);
  * signature recall vs the exact variants stays scalatest-verified.
  * Every pair family whose id-level output is quadratic under twin
  * replication gates at CLASS-pair granularity (see classPairDigest).
  */
object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup on raw text (hash-groupBy): fixture has no exact dups,
    // the empty result IS the correct answer and is oracle-checked.
    "dedup_exact_groups" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.duplicateGroups(docs, Dedup.fingerprint(col("text")), "doc_id")
        .orderBy(col("fingerprint"))
    },
    // word-SET fingerprint dedup — catches reordered/repeated-word dups
    // (the fixture's word-soup corpus has real collisions here).
    "dedup_wordset_groups" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.duplicateGroups(docs, Dedup.wordSetFingerprint(col("text")), "doc_id")
        .orderBy(col("fingerprint"))
    },
    // n-gram (word-set) Jaccard near-dup pairs, lang-blocked, >= 0.8.
    // The gate runs the prefix-filtered inverted-index join — the exact
    // algorithm whose plan has NO full-corpus broadcast and survives
    // 100 TB — against the same oracle as the pair-join formulation
    // (both are exact; DedupSpec asserts plan-level equality too).
    // GATE SHAPE: one digest row at CLASS-PAIR granularity. The
    // engine's id-level pair output is quadratic under twin
    // replication (7.6B rows at the 100× derived fixture) and r10's
    // gate digested every one of them — 552 s of hashing rows that
    // existed only to be hashed, while the class-collapsed engine
    // finished its real work in ~80 s. The contract now digests
    // Dedup.jaccardClassPairCounts: one row per verified class pair
    // (reps id_a ≤ id_b, exact jaccard, n_pairs = id-level
    // multiplicity with the block constraint folded in), fingerprinted
    // order-insensitively (count + Σ n_pairs + bit_xor over the
    // top-60 md5 bits of id_a:id_b:floor(jaccard·1e9):n_pairs). The
    // oracle independently re-derives the classes, reps, per-block
    // member counts, and rep-level jaccards from the raw documents, so
    // a hash match still certifies the exact id-level pair multiset —
    // membership × class pairs × multiplicities determine it — while
    // the gate's cost is class-pair-sized at every scale.
    "dedup_jaccard" -> { (s, dir) =>
      classPairDigest(
        Dedup.jaccardClassPairCounts(Tables.documents(s, dir),
          "doc_id", "text", "lang", 0.8),
        "jaccard")
    },
    // character-level near-dup: every pair within Levenshtein 10 —
    // the typo/small-edit detector the token-set engines above can't
    // see. Spark runs the Ed-Join prefix-filtered plan (positional
    // q-gram survival lemma, lossless); the oracle is a FULL-SEMANTICS
    // independent check — brute-force banded levenshtein over the
    // length-filtered pair space — so a hash match certifies the
    // filter chain found EVERY qualifying pair, not that both engines
    // ran the same algorithm.
    "dedup_editdist" -> { (s, dir) =>
      graft.operators.EdJoin.editDistanceJoin(
          Tables.documents(s, dir), "doc_id", "text", tau = 10)
        .orderBy(col("id_a"), col("id_b"))
    },
    // incremental near-dup: the nightly batch (doc_id%10==0) checked
    // against the standing corpus and itself — corpus x corpus pairs
    // are structurally excluded from the candidate space, not filtered
    // after the fact. GATE SHAPE: the dedup_jaccard class-pair digest
    // with increment-aware multiplicities (n_pairs counts only id
    // pairs with >= 1 new endpoint) — the id-level expansion is
    // quadratic under twin replication (every new twin pairs with
    // every standing twin of its class) and existed only to be hashed.
    // The oracle re-derives classes, reps, per-(class, lang) total/new
    // member counts, and rep-level jaccards from the raw documents, so
    // the hash still certifies the exact incremental pair multiset.
    "dedup_incremental" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      classPairDigest(
        Dedup.jaccardClassPairCountsIncremental(
          docs.where(col("doc_id") % 10 === 0),
          docs.where(col("doc_id") % 10 =!= 0),
          "doc_id", "text", "lang", 0.8),
        "jaccard")
    },
    // exact embedding-cosine near-dup (>= 0.45 on the fixture's cosine
    // range); the scale path prefilters via sign-LSH buckets. GATE
    // SHAPE: the dedup_jaccard class-pair digest applied to embeddings
    // — identical embeddings form classes (twin replication makes the
    // id-level pair set quadratic; r11 spent ~850 s of the 100× suite
    // hashing it), the kernel cosine runs once per DISTINCT-embedding
    // pair, and the oracle independently re-derives classes, reps,
    // member counts, and rep-level cosines from the raw embeddings, so
    // the hash still certifies the exact id-level pair multiset.
    // Same-class pairs are reported at the DEFINED similarity 1.0
    // (identical non-zero vectors) without running the kernel — the
    // clamped kernel's self round-trip agrees bit-for-bit; see
    // Dedup.cosineClassPairCounts.
    "dedup_cosine" -> { (s, dir) =>
      classPairDigest(
        Dedup.cosineClassPairCounts(Tables.embeddings(s, dir),
          "vec_id", "embedding", 0.45),
        "cos_sim")
    },
    // LSH-bucketed cosine near-dup — the scale path. nBits auto-sizes
    // from the CLASS count; `bands` is pinned because the fixture's
    // similarity ceiling (~0.5) forces a LOOSE threshold, and at loose
    // thresholds the recall-derived band count rightly explodes (LSH
    // is a tight-threshold tool — the exact pair join is the honest
    // plan at 0.45). GATE SHAPE (r12): class-collapsed like
    // dedup_cosine — identical embeddings share every band signature,
    // so bucketing twins is pure candidate inflation (and the r11
    // id-level gate's pair output was quadratic under twin
    // replication, 105.7 s of the 100× suite spent emitting it). The
    // class REPS route through the buckets (rep bucket table = the
    // parquet handoff; the hot-bucket cap now counts DISTINCT
    // embeddings per bucket — the boilerplate-cap semantics made
    // honest); the oracle re-derives classes from the raw embeddings
    // and replays cap, pair generation, exact-cosine verify, and the
    // multiplicity digest from the handoff. Same-class rows by
    // definition (identical non-zero twins, 1.0, C(k,2) — the
    // dedup_cosine contract). Recall vs the exact pair join stays
    // scalatest-gated.
    "dedup_cosine_lsh" -> { (s, dir) =>
      val (classes, _) = Dedup.cosineClasses(
        Tables.embeddings(s, dir), "vec_id", "embedding")
      val reps = classes.select(col("__rep").as("vec_id"),
        col("__emb").as("embedding"))
      val bits = Dedup.lshBitsFor(classes.count())
      val buckets = Handoff.publish(
        Dedup.signLshBandBuckets(reps, "vec_id", "embedding", bands = 8, bits),
        CosLshHandoff)
      val repPairs = Dedup.cosinePairsFromBuckets(buckets, reps,
          "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a").as("__ra"), col("id_b").as("__rb"),
          col("cos_sim"))
      Dedup.releaseAfterUse(classes)
      classPairDigest(
        Dedup.cosineClassPairCountsFrom(classes, repPairs, threshold = 0.45),
        "cos_sim")
    },
    // connected components over the exact cosine near-dup pair set
    // (large-star/small-star; oracled against a DuckDB recursive-CTE
    // transitive closure). The 0.45-threshold graph genuinely chains —
    // a~b and b~c with a~c below threshold — so the closure is a real
    // test of transitivity, not clique re-labeling.
    "dedup_components" -> { (s, dir) =>
      // class-collapsed end to end: CC rounds run over class reps, the
      // only id-grain stage is the final linear label expansion — the
      // output was always linear; the quadratic id-level pair INPUT is
      // what no longer materializes
      Dedup.cosineComponents(Tables.embeddings(s, dir),
          "vec_id", "embedding", 0.45)
        .orderBy(col("node_id"))
    },
    // end-to-end dedup APPLY: class pairs -> components over reps ->
    // expand labels -> keep the canonical (min-id) member per
    // component; untouched docs survive.
    // the PRODUCTION-NAMED apply path goes through the production
    // dispatch: cosineDedupAuto (router -> pairs -> components ->
    // expand -> keep canonical) is the one entry point a 100 TB
    // caller uses, so the gate named after the operation exercises it
    // every round. The route is PINNED exact (crossoverClasses =
    // MaxValue): this input is deliberately UNBOUNDED and its DuckDB
    // oracle is the O(n²) recursive closure, so at any SF with >1e5
    // distinct classes an unpinned router would flip to the
    // probabilistic LSH route and hard-fork from the oracle — the pin
    // keeps gate and oracle computing the same function at EVERY SF.
    // The router's own crossover decision stays covered by
    // dedup_apply_auto (LIMIT-bounded input, route pinned by bound)
    // and DedupSpec's route-equality pins on both fixture shapes.
    "dedup_apply" -> { (s, dir) =>
      Dedup.cosineDedupAuto(Tables.embeddings(s, dir),
          "vec_id", "embedding", 0.45, crossoverClasses = Long.MaxValue)
        .orderBy(col("vec_id"))
    },
    // the composition a real 100 TB dedup run executes: class-collapse
    // -> sign-LSH bucket the class REPS -> candidate pairs + exact
    // verify -> components over reps -> expand -> keep canonical. The
    // rep bucket table is the parquet handoff; the oracle re-derives
    // classes itself and replays the hot-bucket cap, pair generation,
    // cosine verify, transitive closure, label expansion, and the
    // keep-canonical anti-join from it. Recall vs the exact path stays
    // scalatest-pinned (DedupSpec).
    "dedup_apply_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val (classes, members) = Dedup.cosineClasses(emb, "vec_id", "embedding")
      val reps = classes.select(col("__rep").as("vec_id"),
        col("__emb").as("embedding"))
      val buckets = Handoff.publish(
        Dedup.signLshBandBuckets(reps, "vec_id", "embedding",
          bands = 8, bits = Dedup.lshBitsFor(classes.count())),
        ApplyLshHandoff)
      val repPairs = Dedup.cosinePairsFromBuckets(buckets, reps,
          "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a").as("__ra"), col("id_b").as("__rb"),
          col("cos_sim"))
      val comps = Dedup.cosineExpandComponents(classes, members, repPairs,
        threshold = 0.45)
      Dedup.releaseAfterUse(classes)
      Dedup.keepCanonicalFromComponents(emb.select(col("vec_id")), comps,
          "vec_id")
        .orderBy(col("vec_id"))
    },
    // ExactSubstr-style duplicated-span detection over 8-token windows
    // — every doc_id%10==0 doc carries a planted verbatim boilerplate
    // tail, so its tail windows repeat across ~50 docs while the
    // leading text stays unique. Linear everywhere: no doc pair ever
    // materializes (the shared span is ONE frequency row).
    "dedup_spans_profile" -> { (s, dir) =>
      Dedup.duplicatedSpanProfileFrom(spanFixture(s, dir),
          s.read.parquet(s"${spanFlagsPath(s, dir)}/flags.parquet"), "doc_id")
        .orderBy(col("doc_id"))
    },
    // the APPLY step: delete tokens covered by non-canonical repeated
    // spans; the globally-first copy of the boilerplate survives in
    // exactly one document
    "dedup_spans_trim" -> { (s, dir) =>
      Dedup.trimDuplicatedSpansFrom(spanFixture(s, dir),
          s.read.parquet(s"${spanFlagsPath(s, dir)}/flags.parquet"),
          "doc_id", "text", window = 8)
        .orderBy(col("doc_id"))
    },
    // dedup APPLY, quality-chosen canonical: each component keeps its
    // best member under (quality desc, id asc) instead of min-id —
    // deterministic synthetic quality (vec_id*37 % 101) plants ties
    "dedup_apply_best" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val comps = Dedup.cosineComponents(emb, "vec_id", "embedding", 0.45)
      val scored = emb.select(col("vec_id"),
        (col("vec_id") * 37 % 101).as("quality"))
      Dedup.keepCanonicalByFromComponents(scored, comps, "vec_id", "quality")
        .orderBy(col("vec_id"))
    },
    // MinHash-LSH near-dup. GATE SHAPE (r12): class-collapsed like
    // dedup_cosine_lsh — identical texts have identical signatures in
    // EVERY band, so bucketing twins is pure candidate inflation and
    // the id-level pair output was quadratic under twin replication
    // (137.2 s of the r11 100× suite). One rep per distinct text
    // routes through the banded signatures (the rep band rows are the
    // parquet handoff; the hot-bucket cap now counts DISTINCT texts
    // per bucket); the oracle re-derives the classes, replays cap /
    // candidate pairing / the exact 3-gram shingle Jaccard verify
    // from the handoff — DuckDB re-tokenizes and re-shingles the rep
    // texts itself — and digests class-pair multiplicities.
    // Same-class rows by definition (identical texts, jaccard 1.0,
    // C(k,2)). Signature recall vs exact Jaccard stays
    // scalatest-verified.
    "dedup_minhash_lsh" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cls = docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("__rep"), count(lit(1)).as("__k"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val reps = cls.select(col("__rep").as("doc_id"), col("text"))
      val bandRows = Handoff.publish(
        Dedup.minHashBandRows(reps, "doc_id", "text",
          numHashes = 128, bands = 32, shingle = 3),
        MinhashHandoff)
      // reps hold one row per DISTINCT text by construction: verify
      // the rep pairs, then assemble multiplicities with the ONE
      // shared class-pair builder (the cosine family's).
      val repPairs = Dedup.minHashVerifyPairs(bandRows, reps,
        "doc_id", "text", shingle = 3, threshold = 0.7)
      val out = classPairDigest(
        Dedup.classPairCountsFromReps(cls.select(col("__rep"), col("__k")),
          repPairs, "jaccard", sameClassQualifies = 1.0 >= 0.7),
        "jaccard")
      Dedup.releaseAfterUse(cls)
      out
    },
    // SimHash near-dup (Hamming <= 3 of 64 bits). GATE SHAPE (r13):
    // class-collapsed like the minhash/cosine gates — identical texts
    // have the identical 64-bit signature, so the id-level pair
    // output was quadratic under twin replication (39.5 s of the
    // r13 100× suite, the last id-level pair gate standing). One rep
    // per distinct text rides the signature handoff; pigeonhole
    // chunking, pair join, and popcount verify replay in DuckDB as
    // shift/mask/xor/bit_count over the rep signatures; the oracle
    // re-derives the text classes and digests class-pair
    // multiplicities. Same-class rows by definition: identical texts
    // are Hamming 0, qualifying at any maxHamming >= 0.
    "dedup_simhash" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val cls = docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("__rep"), count(lit(1)).as("__k"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val reps = cls.select(col("__rep").as("doc_id"), col("text"))
      val sigs = Handoff.publish(
        Dedup.simHashSignatures(reps, "doc_id", "text"), SimhashHandoff)
      val repPairs = Dedup.simHashPairs(sigs, "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("double").as("hamming"))
      val out = classPairDigest(
        Dedup.classPairCountsFromReps(cls.select(col("__rep"), col("__k")),
          repPairs, "hamming", sameClassValue = 0.0),
        "hamming")
      Dedup.releaseAfterUse(cls)
      out
    },
    // the REGIME AUTO-ROUTER as a standing gate: at fixture class
    // counts the router must take the exact route, and its end-to-end
    // apply output must equal the independent DuckDB closure replay
    // (the dedup_apply oracle verbatim) — a router regression that
    // flipped the route or broke the composition forks the hash.
    // Route choice at both sides of the crossover stays DedupSpec-land.
    // Input is BOUNDED (orderBy+limit, the distinctHeavyFixture rule)
    // so the class count sits below the ~1e5 crossover at EVERY scale
    // factor: the oracle always replays the exact closure, and an
    // unbounded input at a big SF would flip the router to the
    // probabilistic LSH route and fork the gate spuriously.
    "dedup_apply_auto" -> { (s, dir) =>
      Dedup.cosineDedupAuto(
          Tables.embeddings(s, dir).orderBy(col("vec_id")).limit(2000),
          "vec_id", "embedding", 0.45)
        .orderBy(col("vec_id"))
    },
    // STANDING distinct-heavy exact-cosine gate (r13 `weak` closed):
    // the jitter fixture makes every row its own class, so the exact
    // emitter runs in the c ≈ n regime where the r13 clamp bug lived —
    // a regression in the [−1,1] clamp (eval, codegen, or the DuckDB
    // accumulation-order parity) forks floor(cos·1e9) in the digest
    // every round, no manual SCALEBENCH side-run required.
    "dedup_cosine_distinct" -> { (s, dir) =>
      classPairDigest(
        Dedup.cosineClassPairCounts(distinctHeavyFixture(s, dir),
          "vec_id", "embedding", 0.98),
        "cos_sim")
    },
    // STANDING distinct-heavy LSH apply gate: the scale route
    // (sign-LSH buckets → verify → components → keep-canonical) over
    // the same fixture, replayed from the rep-bucket handoff — pins
    // the LSH route's recall on the distinct-heavy shape (every
    // jittered twin group must survive bucketing and collapse to one
    // kept row) alongside the exact twin above.
    "dedup_apply_lsh_distinct" -> { (s, dir) =>
      val emb = distinctHeavyFixture(s, dir)
      val (classes, members) = Dedup.cosineClasses(emb, "vec_id", "embedding")
      val reps = classes.select(col("__rep").as("vec_id"),
        col("__emb").as("embedding"))
      val buckets = Handoff.publish(
        Dedup.signLshBandBuckets(reps, "vec_id", "embedding",
          bands = 8, bits = Dedup.lshBitsFor(classes.count())),
        ApplyLshDistinctHandoff)
      val repPairs = Dedup.cosinePairsFromBuckets(buckets, reps,
          "vec_id", "embedding", threshold = 0.98)
        .select(col("id_a").as("__ra"), col("id_b").as("__rb"),
          col("cos_sim"))
      val comps = Dedup.cosineExpandComponents(classes, members, repPairs,
        threshold = 0.98)
      Dedup.releaseAfterUse(classes)
      Dedup.keepCanonicalFromComponents(emb.select(col("vec_id")), comps,
          "vec_id")
        .orderBy(col("vec_id"))
    }
  )

  /** DISTINCT-HEAVY standing fixture (VERDICT r13 Next #2 — the
    * EmbScaleUp jitter recipe promoted from a manual SCALEBENCH
    * side-run to an in-plan gate input): the 500 lowest-id embeddings,
    * replicated ×4, each replica r ≥ 1 nudged in ONE hash-picked
    * dimension by a hash-picked ±[1e-6, 1e-3]. Every row is a distinct
    * class (c = 2000 singletons at every SF — the real-crawl shape
    * where c ≈ n), each base vector's replicas are mutual near-dups at
    * cos ≈ 1−ε — exactly the shape that caught the r13 unclamped-f32
    * bug (cosine rounding above 1 where DuckDB clamps) — and cross-base
    * pairs stay far below the 0.98 gate threshold (base ceiling ~0.5).
    * Hash streams are integer arithmetic (not xxhash64) so DuckDB
    * replays the fixture bit-for-bit; the id stride is a fixed 1e6
    * (base ids here are ≤ the 500 smallest, far below it at any SF).
    * The LIMIT keeps the gate's exact-emitter cost constant across
    * SFs — scale MEASUREMENT stays with [[graft.EmbScaleUp]]. */
  private def distinctHeavyFixture(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(500)
    val rep = col("__rep").cast("long")
    val vid = col("vec_id")
    val dim = size(col("embedding")).cast("long")
    val dimPick = pmod(vid * lit(2654435761L) + rep * lit(40503L), dim).cast("int")
    val mag = (pmod(vid * lit(48271L) + rep * lit(16807L), lit(1000L)) + lit(1L))
      .cast("double") * lit(1e-6)
    val sign = when(pmod(vid * lit(65027L) + rep * lit(30269L), lit(2L)) === 0L,
      lit(1.0)).otherwise(lit(-1.0))
    base.withColumn("__rep", explode(lit((0 until 4).toArray)))
      .withColumn("embedding",
        when(col("__rep") === 0, col("embedding"))
          .otherwise(transform(col("embedding"),
            (x, i) => when(i === dimPick, (x + mag * sign).cast("float"))
              .otherwise(x))))
      .withColumn("vec_id", vid + rep * lit(1000000L))
      .drop("__rep")
  }

  /** The SQL twin of [[distinctHeavyFixture]] — keep both in sync.
    * Guarded mods mirror Spark's pmod; the one-dimension rebuild uses
    * 1-based inclusive list slicing around the 0-based pick. */
  private val distinctFixtureSql: String =
    """sel AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding
      |  FROM embeddings ORDER BY vec_id LIMIT 500
      |), rep AS (
      |  SELECT s.vec_id, s.embedding, CAST(r.rep AS BIGINT) AS rep,
      |         CAST(((s.vec_id * 2654435761 + r.rep * 40503) % len(s.embedding)
      |           + len(s.embedding)) % len(s.embedding) AS INTEGER) AS dp,
      |         (((s.vec_id * 48271 + r.rep * 16807) % 1000 + 1000) % 1000 + 1)
      |           * 1e-6
      |           * (CASE WHEN ((s.vec_id * 65027 + r.rep * 30269) % 2 + 2) % 2 = 0
      |              THEN 1.0 ELSE -1.0 END) AS delta
      |  FROM sel s CROSS JOIN (VALUES (0), (1), (2), (3)) r(rep)
      |), jit AS (
      |  SELECT vec_id + rep * 1000000 AS vec_id,
      |         CASE WHEN rep = 0 THEN embedding
      |              ELSE embedding[1:dp] ||
      |                   [CAST(embedding[dp+1] + delta AS FLOAT)] ||
      |                   embedding[dp+2:]
      |         END AS embedding
      |  FROM rep
      |)""".stripMargin

  /** Build-once persisted span-dup flags frame over the span fixture
    * (window=8) — ONE window-concat + md5 + frequency build shared by
    * both span gates: `dedup_spans_profile` aggregates it,
    * `dedup_spans_trim` expands only its `__dup` rows (the refined-
    * graph shared-build recipe; at 100× each gate re-paid the same
    * ~55 s fingerprint pass — SCALEBENCH r12). Bench warms it like
    * every persisted index. The key carries the window; the fixture
    * definition ([[spanFixture]], [[spanFixtureSql]]) and the builder
    * are code, so [[BuildOnce.cached]]'s code digest rebuilds the
    * flags when either changes. */
  private[graft] def spanFlagsPath(s: SparkSession, dir: String): String =
    BuildOnce.cached("span-flags-w8",
        new java.io.File(s"$dir/documents.parquet"))(
        p => s"$p/flags.parquet/_SUCCESS") { p =>
      Dedup.duplicatedSpanFlags(spanFixture(s, dir), "doc_id", "text",
          window = 8)
        .write.mode("overwrite").parquet(s"$p/flags.parquet")
    }

  /** Spark↔oracle handoff files for the LSH gates (absolute paths
    * shared by both engines — the pack_bpe verify-THROUGH pattern). */
  private val CosLshHandoff   = Handoff.path("coslsh_buckets")
  private val ApplyLshHandoff = Handoff.path("applylsh_rep_buckets")
  private val MinhashHandoff  = Handoff.path("minhash_bands")
  private val SimhashHandoff  = Handoff.path("simhash_sigs")
  private val ApplyLshDistinctHandoff = Handoff.path("applylsh_distinct_rep_buckets")

  /** Order-insensitive one-row digest of a class-pair multiplicity
    * frame `(id_a, id_b, <valueCol>, n_pairs)`: class-pair count, Σ
    * n_pairs, and bit_xor over the top-60 md5 bits of
    * `id_a:id_b:floor(value·1e9):n_pairs` — the r11 dedup_jaccard gate
    * contract, shared by every pair family whose id-level output is
    * quadratic under twin replication. Mirrored term-for-term in the
    * oracle SQL. */
  private def classPairDigest(cp: DataFrame, valueCol: String): DataFrame =
    cp.select(col("n_pairs"), conv(substring(md5(concat(
        col("id_a").cast("string"), lit(":"),
        col("id_b").cast("string"), lit(":"),
        floor(col(valueCol) * lit(1e9)).cast("long").cast("string"), lit(":"),
        col("n_pairs").cast("string"))
        .cast("binary")), 1, 15), 16, 10).cast("long").as("__sig"))
      .agg(count(lit(1)).as("n_class_pairs"),
        coalesce(sum(col("n_pairs")), lit(0L)).as("n_id_pairs"),
        coalesce(expr("bit_xor(__sig)"), lit(0L)).as("pairs_sig"))

  /** Boilerplate tail appended to every %10 doc — 12 words, so 8-token
    * windows inside it repeat verbatim across the tagged docs. The SQL
    * twin lives in [[spanFixtureSql]]; keep both in sync. */
  private val SpanTail =
    " the shared graft boilerplate tail phrase repeated verbatim across tagged documents end"

  private def spanFixture(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(SpanTail)))
        .otherwise(col("text")).as("text"))

  private val spanFixtureSql: String =
    s"""SELECT doc_id,
       |       CASE WHEN doc_id % 10 = 0 THEN text || '$SpanTail'
       |            ELSE text END AS text
       |FROM documents""".stripMargin

  /** Shared CTE body for the span oracles: windows → fingerprints →
    * frequency+canonical → per-occurrence dup flag (window = 8,
    * 0-based positions, the same top-60-md5-bit fingerprint and
    * doc_id·PosBase+pos encoding as the Scala side). */
  private val spanCte: String =
    s"""d AS ($spanFixtureSql),
       |t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM d
       |), g AS (
       |  SELECT doc_id, w,
       |         unnest(range(0, greatest(len(w) - 7, 0))) AS pos
       |  FROM t
       |), o AS (
       |  SELECT doc_id, pos,
       |         CAST(CAST('0x' || substr(md5(array_to_string(w[pos+1:pos+8], ' ')), 1, 15) AS UBIGINT) AS BIGINT) AS fp,
       |         doc_id * ${graft.operators.LineDedup.PosBase} + pos AS epos
       |  FROM g
       |), f AS (
       |  SELECT fp, count(*) AS n, min(epos) AS keeper FROM o GROUP BY fp
       |), j AS (
       |  SELECT o.doc_id, o.pos, (f.n >= 2 AND o.epos <> f.keeper) AS dup
       |  FROM o JOIN f USING (fp)
       |)""".stripMargin

  private def groupsSql(fpExpr: String): String =
    s"""WITH f AS (SELECT doc_id, $fpExpr AS fingerprint FROM documents)
       |SELECT fingerprint, count(*) AS n_docs,
       |       string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
       |FROM f GROUP BY fingerprint HAVING count(*) > 1
       |ORDER BY fingerprint""".stripMargin

  val oracle: Map[String, String] = Map(
    // independent replay of the distinct-heavy exact gate: the jitter
    // fixture re-derived bit-for-bit from the raw embeddings (integer
    // hash streams + one-dim float rebuild), then the dedup_cosine
    // class-pair contract over it (all classes are singletons by
    // construction, so this is the raw exact pair join in the c ≈ n
    // regime — the clamp's home turf)
    "dedup_cosine_distinct" ->
      s"""WITH $distinctFixtureSql,
         |cls AS (
         |  SELECT embedding AS e, min(vec_id) AS rep, count(*) AS n,
         |         len(list_filter(embedding, x -> x <> 0)) > 0 AS nz
         |  FROM jit GROUP BY embedding
         |), p AS (
         |  SELECT a.rep AS id_a, b.rep AS id_b,
         |         CAST(list_cosine_similarity(a.e, b.e) AS DOUBLE) AS cos_sim,
         |         CAST(a.n * b.n AS BIGINT) AS n_pairs
         |  FROM cls a JOIN cls b ON a.rep < b.rep
         |  WHERE a.nz AND b.nz
         |    AND CAST(list_cosine_similarity(a.e, b.e) AS DOUBLE) >= 0.98
         |), s AS (
         |  SELECT rep AS id_a, rep AS id_b, 1.0 AS cos_sim,
         |         CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
         |  FROM cls
         |  WHERE n >= 2 AND nz
         |), allp AS (
         |  SELECT * FROM p UNION ALL SELECT * FROM s
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_class_pairs,
         |       CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_id_pairs,
         |       coalesce(bit_xor(CAST(CAST('0x' || substr(md5(
         |         CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR) || ':' ||
         |         CAST(CAST(floor(cos_sim * 1e9) AS BIGINT) AS VARCHAR) || ':' ||
         |         CAST(n_pairs AS VARCHAR)
         |       ), 1, 15) AS UBIGINT) AS BIGINT)), 0) AS pairs_sig
         |FROM allp""".stripMargin,
    // the dedup_apply_lsh replay over the re-derived jitter fixture:
    // hot-bucket cap -> candidate rep pairs -> exact cosine verify at
    // 0.98 -> transitive closure -> label expansion -> keep-canonical
    "dedup_apply_lsh_distinct" ->
      s"""WITH RECURSIVE $distinctFixtureSql,
         |cls AS (
         |  SELECT embedding AS e, min(vec_id) AS rep, count(*) AS n,
         |         len(list_filter(embedding, x -> x <> 0)) > 0 AS nz
         |  FROM jit GROUP BY embedding
         |), mem AS (
         |  SELECT em.vec_id, cls.rep
         |  FROM jit em JOIN cls ON em.embedding = cls.e
         |), h AS (SELECT * FROM read_parquet('$ApplyLshDistinctHandoff/*.parquet')),
         |sz AS (SELECT band, bucket, count(*) AS c FROM h GROUP BY band, bucket),
         |pr AS (
         |  SELECT h.band, h.bucket, h.vec_id
         |  FROM h JOIN sz ON h.band = sz.band AND h.bucket = sz.bucket
         |  WHERE sz.c > 1 AND sz.c <= 1000
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM pr a JOIN pr b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |),
         |rp AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cand c
         |  JOIN cls ca ON c.id_a = ca.rep
         |  JOIN cls cb ON c.id_b = cb.rep
         |  WHERE ca.nz AND cb.nz
         |    AND CAST(list_cosine_similarity(ca.e, cb.e) AS DOUBLE) >= 0.98
         |),
         |sym AS (
         |  SELECT id_a AS u, id_b AS v FROM rp
         |  UNION SELECT id_b AS u, id_a AS v FROM rp
         |), reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
         |), repcomp AS (
         |  SELECT u AS rep, least(u, min(v)) AS component FROM reach GROUP BY u
         |), labeled AS (
         |  SELECT mem.vec_id, coalesce(rc.component, mem.rep) AS component
         |  FROM mem
         |  JOIN cls ON mem.rep = cls.rep
         |  LEFT JOIN repcomp rc ON mem.rep = rc.rep
         |  WHERE rc.rep IS NOT NULL OR (cls.nz AND cls.n >= 2)
         |), victims AS (
         |  SELECT vec_id FROM labeled WHERE vec_id <> component
         |)
         |SELECT vec_id FROM jit
         |WHERE vec_id NOT IN (SELECT vec_id FROM victims)
         |ORDER BY vec_id""".stripMargin,
    // classes re-derived from the raw embeddings; cap/pairs/verify
    // replayed from the rep-bucket handoff; same-class rows by
    // definition; nz guards = the kernel's zero-norm rule
    "dedup_cosine_lsh" ->
      s"""WITH cls AS (
         |  SELECT embedding AS e, min(vec_id) AS rep, count(*) AS n,
         |         len(list_filter(embedding, x -> x <> 0)) > 0 AS nz
         |  FROM embeddings GROUP BY embedding
         |), h AS (SELECT * FROM read_parquet('$CosLshHandoff/*.parquet')),
         |sz AS (SELECT band, bucket, count(*) AS c FROM h GROUP BY band, bucket),
         |pr AS (
         |  SELECT h.band, h.bucket, h.vec_id
         |  FROM h JOIN sz ON h.band = sz.band AND h.bucket = sz.bucket
         |  WHERE sz.c > 1 AND sz.c <= 1000
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM pr a JOIN pr b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |),
         |p AS (
         |  SELECT c.id_a, c.id_b,
         |         CAST(list_cosine_similarity(ca.e, cb.e) AS DOUBLE) AS cos_sim,
         |         CAST(ca.n * cb.n AS BIGINT) AS n_pairs
         |  FROM cand c
         |  JOIN cls ca ON c.id_a = ca.rep
         |  JOIN cls cb ON c.id_b = cb.rep
         |  WHERE ca.nz AND cb.nz
         |    AND CAST(list_cosine_similarity(ca.e, cb.e) AS DOUBLE) >= 0.45
         |), s AS (
         |  SELECT rep AS id_a, rep AS id_b, 1.0 AS cos_sim,
         |         CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
         |  FROM cls
         |  WHERE n >= 2 AND nz
         |), allp AS (
         |  SELECT * FROM p UNION ALL SELECT * FROM s
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_class_pairs,
         |       CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_id_pairs,
         |       coalesce(bit_xor(CAST(CAST('0x' || substr(md5(
         |         CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR) || ':' ||
         |         CAST(CAST(floor(cos_sim * 1e9) AS BIGINT) AS VARCHAR) || ':' ||
         |         CAST(n_pairs AS VARCHAR)
         |       ), 1, 15) AS UBIGINT) AS BIGINT)), 0) AS pairs_sig
         |FROM allp""".stripMargin,
    // classes re-derived from the raw texts (GROUP BY text); cap /
    // candidate pairing / shingle-jaccard verify replayed from the
    // rep-bucket handoff; same-class rows by definition
    "dedup_minhash_lsh" ->
      s"""WITH cls AS (
         |  SELECT text, min(doc_id) AS rep, count(*) AS n
         |  FROM documents GROUP BY text
         |), h AS (SELECT * FROM read_parquet('$MinhashHandoff/*.parquet')),
         |sz AS (SELECT band, bucket, count(*) AS c FROM h GROUP BY band, bucket),
         |pr AS (
         |  SELECT h.band, h.bucket, h.doc_id
         |  FROM h JOIN sz ON h.band = sz.band AND h.bucket = sz.bucket
         |  WHERE sz.c > 1 AND sz.c <= 1000
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM pr a JOIN pr b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |),
         |sh AS (
         |  SELECT rep AS doc_id,
         |         CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
         |              ELSE list_distinct(list_transform(
         |                generate_series(1, len(toks) - 2),
         |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |         END AS s
         |  FROM (SELECT rep,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |        FROM cls)
         |),
         |j AS (
         |  SELECT c.id_a, c.id_b,
         |         len(list_intersect(sa.s, sb.s)) AS inter,
         |         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS uni
         |  FROM cand c
         |  JOIN sh sa ON c.id_a = sa.doc_id
         |  JOIN sh sb ON c.id_b = sb.doc_id
         |),
         |p AS (
         |  SELECT j.id_a, j.id_b,
         |         CASE WHEN uni = 0 THEN 1.0
         |              ELSE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)
         |         END AS jaccard,
         |         CAST(ca.n * cb.n AS BIGINT) AS n_pairs
         |  FROM j
         |  JOIN cls ca ON j.id_a = ca.rep
         |  JOIN cls cb ON j.id_b = cb.rep
         |  WHERE (CASE WHEN uni = 0 THEN 1.0
         |              ELSE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) END) >= 0.7
         |), s AS (
         |  SELECT rep AS id_a, rep AS id_b, 1.0 AS jaccard,
         |         CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
         |  FROM cls WHERE n >= 2
         |), allp AS (
         |  SELECT * FROM p UNION ALL SELECT * FROM s
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_class_pairs,
         |       CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_id_pairs,
         |       coalesce(bit_xor(CAST(CAST('0x' || substr(md5(
         |         CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR) || ':' ||
         |         CAST(CAST(floor(jaccard * 1e9) AS BIGINT) AS VARCHAR) || ':' ||
         |         CAST(n_pairs AS VARCHAR)
         |       ), 1, 15) AS UBIGINT) AS BIGINT)), 0) AS pairs_sig
         |FROM allp""".stripMargin,
    // classes re-derived from the raw texts; pigeonhole + popcount
    // replayed over the REP signature handoff; class-pair
    // multiplicities digested (same-class rows = Hamming 0 by
    // definition of identical texts, C(n,2) multiplicity)
    "dedup_simhash" ->
      s"""WITH cls AS (
         |  SELECT text, min(doc_id) AS rep, count(*) AS n
         |  FROM documents GROUP BY text
         |), h AS (SELECT * FROM read_parquet('$SimhashHandoff/*.parquet')),
         |ch AS (
         |  SELECT doc_id, sim, t.i AS chunk, (sim >> (t.i * 16)) & 65535 AS cv
         |  FROM h CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(i)
         |),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.sim AS sim_a, b.sim AS sim_b
         |  FROM ch a JOIN ch b
         |    ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id
         |),
         |p AS (
         |  SELECT id_a, id_b,
         |         CAST(bit_count(xor(sim_a, sim_b)) AS DOUBLE) AS hamming,
         |         CAST(ca.n * cb.n AS BIGINT) AS n_pairs
         |  FROM pairs
         |  JOIN cls ca ON pairs.id_a = ca.rep
         |  JOIN cls cb ON pairs.id_b = cb.rep
         |  WHERE bit_count(xor(sim_a, sim_b)) <= 3
         |), s AS (
         |  SELECT rep AS id_a, rep AS id_b, 0.0 AS hamming,
         |         CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
         |  FROM cls WHERE n >= 2
         |), allp AS (
         |  SELECT * FROM p UNION ALL SELECT * FROM s
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_class_pairs,
         |       CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_id_pairs,
         |       coalesce(bit_xor(CAST(CAST('0x' || substr(md5(
         |         CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR) || ':' ||
         |         CAST(CAST(floor(hamming * 1e9) AS BIGINT) AS VARCHAR) || ':' ||
         |         CAST(n_pairs AS VARCHAR)
         |       ), 1, 15) AS UBIGINT) AS BIGINT)), 0) AS pairs_sig
         |FROM allp""".stripMargin,
    "dedup_exact_groups" -> groupsSql("md5(text)"),
    "dedup_wordset_groups" -> groupsSql(
      "md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))), ' '))"),
    // independent class-pair re-derivation: classes from the raw word
    // sets, reps = min member id, per-(class, lang) counts, rep-level
    // jaccard brute-forced over class reps — none of the engine's
    // prefix-filter machinery is replayed
    "dedup_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS w
        |  FROM documents
        |), cls AS (
        |  SELECT w, min(doc_id) AS rep FROM t GROUP BY w
        |), mem AS (
        |  SELECT t.doc_id, t.lang, cls.rep FROM t JOIN cls USING (w)
        |), cnt AS (
        |  SELECT rep, lang, count(*) AS n FROM mem GROUP BY rep, lang
        |), p AS (
        |  SELECT a.rep AS id_a, b.rep AS id_b,
        |         len(list_intersect(a.w, b.w)) AS inter,
        |         len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS uni
        |  FROM cls a JOIN cls b ON a.rep < b.rep
        |), j AS (
        |  SELECT id_a, id_b, CAST(inter AS DOUBLE) / uni AS jaccard
        |  FROM p WHERE CAST(inter AS DOUBLE) / uni >= 0.8
        |), crossn AS (
        |  SELECT j.id_a, j.id_b, j.jaccard, CAST(sum(ca.n * cb.n) AS BIGINT) AS n_pairs
        |  FROM j
        |  JOIN cnt ca ON ca.rep = j.id_a
        |  JOIN cnt cb ON cb.rep = j.id_b AND cb.lang = ca.lang
        |  GROUP BY 1, 2, 3
        |), same AS (
        |  SELECT cls.rep AS id_a, cls.rep AS id_b, 1.0 AS jaccard,
        |         CAST(sum(cnt.n * (cnt.n - 1) // 2) AS BIGINT) AS n_pairs
        |  FROM cnt JOIN cls USING (rep)
        |  WHERE len(cls.w) >= 1
        |  GROUP BY cls.rep
        |  HAVING sum(cnt.n * (cnt.n - 1) // 2) > 0
        |), allp AS (
        |  SELECT * FROM crossn WHERE n_pairs > 0
        |  UNION ALL SELECT * FROM same
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_class_pairs,
        |       CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_id_pairs,
        |       coalesce(bit_xor(CAST(CAST('0x' || substr(md5(
        |         CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR) || ':' ||
        |         CAST(CAST(floor(jaccard * 1e9) AS BIGINT) AS VARCHAR) || ':' ||
        |         CAST(n_pairs AS VARCHAR)
        |       ), 1, 15) AS UBIGINT) AS BIGINT)), 0) AS pairs_sig
        |FROM allp""".stripMargin,
    // brute force with the same length band — INDEPENDENT of the
    // prefix-filter plan by design (full-semantics oracle)
    "dedup_editdist" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 10
        |WHERE levenshtein(a.text, b.text) <= 10
        |ORDER BY id_a, id_b""".stripMargin,
    // independent incremental class-pair re-derivation: classes from
    // the raw word sets, per-(class, lang) TOTAL and NEW member counts
    // (new = doc_id%10=0), rep-level jaccard brute-forced over class
    // reps, and new-touching multiplicities na·nb − naOld·nbOld /
    // C(n,2) − C(nOld,2) — none of the engine's prefix-filter or
    // candidate-probe machinery is replayed
    "dedup_incremental" ->
      """WITH t AS (
        |  SELECT doc_id, lang, doc_id % 10 = 0 AS is_new,
        |         list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS w
        |  FROM documents
        |), cls AS (
        |  SELECT w, min(doc_id) AS rep FROM t GROUP BY w
        |), mem AS (
        |  SELECT t.doc_id, t.lang, t.is_new, cls.rep FROM t JOIN cls USING (w)
        |), cnt AS (
        |  SELECT rep, lang, count(*) AS n,
        |         sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS nnew
        |  FROM mem GROUP BY rep, lang
        |), p AS (
        |  SELECT a.rep AS id_a, b.rep AS id_b,
        |         len(list_intersect(a.w, b.w)) AS inter,
        |         len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS uni
        |  FROM cls a JOIN cls b ON a.rep < b.rep
        |), j AS (
        |  SELECT id_a, id_b, CAST(inter AS DOUBLE) / uni AS jaccard
        |  FROM p WHERE CAST(inter AS DOUBLE) / uni >= 0.8
        |), crossn AS (
        |  SELECT j.id_a, j.id_b, j.jaccard,
        |         CAST(sum(ca.n * cb.n
        |           - (ca.n - ca.nnew) * (cb.n - cb.nnew)) AS BIGINT) AS n_pairs
        |  FROM j
        |  JOIN cnt ca ON ca.rep = j.id_a
        |  JOIN cnt cb ON cb.rep = j.id_b AND cb.lang = ca.lang
        |  GROUP BY 1, 2, 3
        |  HAVING sum(ca.n * cb.n - (ca.n - ca.nnew) * (cb.n - cb.nnew)) > 0
        |), same AS (
        |  SELECT cls.rep AS id_a, cls.rep AS id_b, 1.0 AS jaccard,
        |         CAST(sum(cnt.n * (cnt.n - 1) // 2
        |           - (cnt.n - cnt.nnew) * (cnt.n - cnt.nnew - 1) // 2) AS BIGINT) AS n_pairs
        |  FROM cnt JOIN cls USING (rep)
        |  WHERE len(cls.w) >= 1
        |  GROUP BY cls.rep
        |  HAVING sum(cnt.n * (cnt.n - 1) // 2
        |           - (cnt.n - cnt.nnew) * (cnt.n - cnt.nnew - 1) // 2) > 0
        |), allp AS (
        |  SELECT * FROM crossn UNION ALL SELECT * FROM same
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_class_pairs,
        |       CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_id_pairs,
        |       coalesce(bit_xor(CAST(CAST('0x' || substr(md5(
        |         CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR) || ':' ||
        |         CAST(CAST(floor(jaccard * 1e9) AS BIGINT) AS VARCHAR) || ':' ||
        |         CAST(n_pairs AS VARCHAR)
        |       ), 1, 15) AS UBIGINT) AS BIGINT)), 0) AS pairs_sig
        |FROM allp""".stripMargin,
    "dedup_components" ->
      """WITH RECURSIVE pairs AS (
        |  -- nz guards = the kernel's zero-norm rule (see dedup_cosine):
        |  -- DuckDB's NaN cosine would otherwise sort above the threshold
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE len(list_filter(a.embedding, x -> x <> 0)) > 0
        |    AND len(list_filter(b.embedding, x -> x <> 0)) > 0
        |    AND CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) >= 0.45
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b AS u, id_a AS v FROM pairs
        |), reach(u, v) AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
        |)
        |SELECT u AS node_id, least(u, min(v)) AS component
        |FROM reach GROUP BY u ORDER BY node_id""".stripMargin,
    // the dedup_apply closure replay verbatim over the same BOUNDED
    // input (orderBy+limit keeps the class count below the router
    // crossover at every SF) — the router's exact route must
    // reproduce it end-to-end
    "dedup_apply_auto" ->
      """WITH RECURSIVE bounded AS (
        |  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 2000
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bounded a JOIN bounded b ON a.vec_id < b.vec_id
        |  WHERE len(list_filter(a.embedding, x -> x <> 0)) > 0
        |    AND len(list_filter(b.embedding, x -> x <> 0)) > 0
        |    AND CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) >= 0.45
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b AS u, id_a AS v FROM pairs
        |), reach(u, v) AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
        |), victims AS (
        |  SELECT u FROM reach GROUP BY u HAVING least(u, min(v)) < u
        |)
        |SELECT vec_id FROM bounded
        |WHERE vec_id NOT IN (SELECT u FROM victims)
        |ORDER BY vec_id""".stripMargin,
    "dedup_apply" ->
      """WITH RECURSIVE pairs AS (
        |  -- nz guards = the kernel's zero-norm rule (see dedup_cosine):
        |  -- DuckDB's NaN cosine would otherwise sort above the threshold
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE len(list_filter(a.embedding, x -> x <> 0)) > 0
        |    AND len(list_filter(b.embedding, x -> x <> 0)) > 0
        |    AND CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) >= 0.45
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b AS u, id_a AS v FROM pairs
        |), reach(u, v) AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
        |), victims AS (
        |  SELECT u FROM reach GROUP BY u HAVING least(u, min(v)) < u
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT u FROM victims)
        |ORDER BY vec_id""".stripMargin,
    "dedup_spans_profile" ->
      s"""WITH $spanCte,
         |p AS (
         |  SELECT doc_id, count(*) AS n_spans,
         |         sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup
         |  FROM j GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
         |       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_spans,
         |       CASE WHEN coalesce(p.n_spans, 0) = 0 THEN 0.0
         |            ELSE CAST(coalesce(p.n_dup, 0) AS DOUBLE) / p.n_spans
         |       END AS dup_fraction
         |FROM t LEFT JOIN p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_spans_trim" ->
      s"""WITH $spanCte,
         |cov AS (
         |  SELECT DISTINCT doc_id, tok_idx FROM (
         |    SELECT doc_id, unnest(range(pos, pos + 8)) AS tok_idx
         |    FROM j WHERE dup
         |  )
         |), toks AS (
         |  SELECT doc_id, unnest(w) AS tok,
         |         generate_subscripts(w, 1) - 1 AS tok_idx
         |  FROM t
         |), kept AS (
         |  SELECT k.doc_id, count(*) AS n_kept,
         |         string_agg(k.tok, ' ' ORDER BY k.tok_idx) AS kept_text
         |  FROM toks k LEFT JOIN cov c
         |    ON k.doc_id = c.doc_id AND k.tok_idx = c.tok_idx
         |  WHERE c.doc_id IS NULL
         |  GROUP BY k.doc_id
         |)
         |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(len(w) - coalesce(kept.n_kept, 0) AS BIGINT) AS n_dropped_tokens,
         |       coalesce(kept.kept_text, '') AS kept_text
         |FROM t LEFT JOIN kept USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_apply_best" ->
      """WITH RECURSIVE pairs AS (
        |  -- nz guards = the kernel's zero-norm rule (see dedup_cosine):
        |  -- DuckDB's NaN cosine would otherwise sort above the threshold
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE len(list_filter(a.embedding, x -> x <> 0)) > 0
        |    AND len(list_filter(b.embedding, x -> x <> 0)) > 0
        |    AND CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) >= 0.45
        |), sym AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b AS u, id_a AS v FROM pairs
        |), reach(u, v) AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
        |), comp AS (
        |  SELECT u AS node_id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u
        |), scored AS (
        |  SELECT vec_id, vec_id * 37 % 101 AS quality FROM embeddings
        |), win AS (
        |  -- (quality desc, id asc) encoded as ONE key: q*1e10 - id
        |  -- (id < 1e10 at any fixture scale, q <= 100 so no overflow)
        |  SELECT component,
        |         arg_max(node_id, quality * 10000000000 - node_id) AS winner
        |  FROM comp JOIN scored ON node_id = vec_id
        |  GROUP BY component
        |), victims AS (
        |  SELECT node_id FROM comp
        |  WHERE node_id NOT IN (SELECT winner FROM win)
        |)
        |SELECT vec_id, quality FROM scored
        |WHERE vec_id NOT IN (SELECT node_id FROM victims)
        |ORDER BY vec_id""".stripMargin,
    // independent class-pair re-derivation for the cosine digest:
    // classes from the raw embedding arrays, reps = min member id,
    // rep-level cosine brute-forced over class reps, same-class rows
    // at the defined 1.0 for non-zero multi-member classes
    "dedup_cosine" ->
      """WITH cls AS (
        |  SELECT embedding AS e, min(vec_id) AS rep, count(*) AS n,
        |         len(list_filter(embedding, x -> x <> 0)) > 0 AS nz
        |  FROM embeddings GROUP BY embedding
        |), p AS (
        |  -- nz guards mirror the kernel's zero-norm rule (similarity
        |  -- of/with a zero vector is 0, never a pair at a positive
        |  -- threshold); DuckDB's NaN would otherwise sort ABOVE the
        |  -- threshold and emit pairs the engine never does
        |  SELECT a.rep AS id_a, b.rep AS id_b,
        |         CAST(list_cosine_similarity(a.e, b.e) AS DOUBLE) AS cos_sim,
        |         CAST(a.n * b.n AS BIGINT) AS n_pairs
        |  FROM cls a JOIN cls b ON a.rep < b.rep
        |  WHERE a.nz AND b.nz
        |    AND CAST(list_cosine_similarity(a.e, b.e) AS DOUBLE) >= 0.45
        |), s AS (
        |  SELECT rep AS id_a, rep AS id_b, 1.0 AS cos_sim,
        |         CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
        |  FROM cls
        |  WHERE n >= 2 AND nz
        |), allp AS (
        |  SELECT * FROM p UNION ALL SELECT * FROM s
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_class_pairs,
        |       CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_id_pairs,
        |       coalesce(bit_xor(CAST(CAST('0x' || substr(md5(
        |         CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR) || ':' ||
        |         CAST(CAST(floor(cos_sim * 1e9) AS BIGINT) AS VARCHAR) || ':' ||
        |         CAST(n_pairs AS VARCHAR)
        |       ), 1, 15) AS UBIGINT) AS BIGINT)), 0) AS pairs_sig
        |FROM allp""".stripMargin,
    // full replay of the LSH-routed apply composition from the rep
    // bucket handoff: classes re-derived from the raw embeddings,
    // hot-bucket cap -> candidate rep pairs -> exact cosine verify ->
    // recursive transitive closure over reps -> label expansion
    // (cross-edge classes plus non-zero multi-member classes) ->
    // keep-canonical anti-join
    "dedup_apply_lsh" ->
      s"""WITH RECURSIVE cls AS (
         |  SELECT embedding AS e, min(vec_id) AS rep, count(*) AS n,
         |         len(list_filter(embedding, x -> x <> 0)) > 0 AS nz
         |  FROM embeddings GROUP BY embedding
         |), mem AS (
         |  SELECT em.vec_id, cls.rep
         |  FROM embeddings em JOIN cls ON em.embedding = cls.e
         |), h AS (SELECT * FROM read_parquet('$ApplyLshHandoff/*.parquet')),
         |sz AS (SELECT band, bucket, count(*) AS c FROM h GROUP BY band, bucket),
         |pr AS (
         |  SELECT h.band, h.bucket, h.vec_id
         |  FROM h JOIN sz ON h.band = sz.band AND h.bucket = sz.bucket
         |  WHERE sz.c > 1 AND sz.c <= 1000
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM pr a JOIN pr b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |),
         |rp AS (
         |  -- nz guard = the kernel's zero-norm rule (see dedup_cosine)
         |  SELECT c.id_a, c.id_b
         |  FROM cand c
         |  JOIN cls ca ON c.id_a = ca.rep
         |  JOIN cls cb ON c.id_b = cb.rep
         |  WHERE ca.nz AND cb.nz
         |    AND CAST(list_cosine_similarity(ca.e, cb.e) AS DOUBLE) >= 0.45
         |),
         |sym AS (
         |  SELECT id_a AS u, id_b AS v FROM rp
         |  UNION SELECT id_b AS u, id_a AS v FROM rp
         |), reach(u, v) AS (
         |  SELECT u, v FROM sym
         |  UNION
         |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
         |), repcomp AS (
         |  SELECT u AS rep, least(u, min(v)) AS component FROM reach GROUP BY u
         |), labeled AS (
         |  SELECT mem.vec_id, coalesce(rc.component, mem.rep) AS component
         |  FROM mem
         |  JOIN cls ON mem.rep = cls.rep
         |  LEFT JOIN repcomp rc ON mem.rep = rc.rep
         |  WHERE rc.rep IS NOT NULL OR (cls.nz AND cls.n >= 2)
         |), victims AS (
         |  SELECT vec_id FROM labeled WHERE vec_id <> component
         |)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM victims)
         |ORDER BY vec_id""".stripMargin
  )
}
