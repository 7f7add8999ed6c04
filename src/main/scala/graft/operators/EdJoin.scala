package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance similarity join (Ed-Join, Xiao/Wang/Lin VLDB 2008):
  * all pairs of documents within Levenshtein distance ≤ τ — the
  * CHARACTER-level near-dup detector, completing the dedup family next
  * to the token-set engines (PPJoin Jaccard, MinHash, SimHash) whose
  * signals word-order edits and small in-word typos evade.
  *
  * Exact (no false negatives) by q-gram PREFIX-PREFIX filtering: one
  * edit destroys at most q of a string's l−q+1 positional q-grams, so
  * strings with ed ≤ τ disagree on at most q·τ of them. Order every
  * string's positional grams by one GLOBAL total order (corpus
  * frequency asc, gram asc, pos asc — rare grams make few join
  * partners) and take the first q·τ+1 as its prefix; two qualifying
  * strings always share a gram STRING across their prefixes. (Proof
  * sketch: if no surviving positional gram of either prefix maps into
  * the other's prefix, each side's survivor ranks past the other's
  * whole prefix, forcing e ≥ f and f ≥ e in the global order — equal
  * (freq, gram) — i.e. the prefixes share that gram string after all.
  * Content-gram matching, not positional: the position tolerance that
  * holds for survival pairs does NOT hold for the shared-string case,
  * so no |Δpos| predicate is applied at the candidate stage.)
  * Candidates then length-filter (|len_a − len_b| ≤ τ — an edit
  * changes length by at most 1) and verify with the banded O(τ·n)
  * Levenshtein (Spark's threshold form — codegen'd, no UDF).
  *
  * Scale shape: grams shuffle once for the frequency dictionary (one
  * map-side-combined agg), the prefix cut is a per-doc window, the
  * self-join touches only prefix rows (≤ q·τ+1 per doc, deduped per
  * gram string) bucketed by gram — never all-pairs — and verification
  * is per-candidate, output-bound like the PPJoin engine. The base
  * and prefix projections each feed multiple consumers, so both are
  * persisted until the query boundary (the hashedTokenProjection
  * pattern).
  *
  * The survival lemma needs a string to OWN q·τ+1 grams: with fewer
  * (length < q·(τ+1)), every gram can be destroyed and the prefix
  * argument is void — such SHORT strings take a separate broadcast
  * path (short × any-doc-in-the-length-window, so short-short and
  * short-long pairs are both covered; the prefix self-join keeps only
  * full-prefix strings on both sides, so the two paths are disjoint).
  * Documented bounded: at the gate's τ the cutoff is a few dozen
  * characters — near-empty degenerate docs; a corpus dominated by
  * them needs a smaller q/τ, and the broadcast fails loudly at driver
  * limits rather than silently dropping pairs. */
object EdJoin {

  /** All pairs `(id_a, id_b, edit_dist)` with `id_a < id_b` and
    * Levenshtein ≤ τ. `q` is the gram width (default 3).
    *
    * EXACT-TWIN CLASS COLLAPSE (the `Dedup.classPairJaccard` engine
    * shape): identical texts are grouped first and the filter/verify
    * core runs over one representative per DISTINCT text — a crawl
    * corpus dominated by exact duplicates pays candidate-generation
    * cost in distinct strings, not rows. The answer is then rebuilt
    * output-bound: intra-class member pairs at distance 0 (any τ ≥ 0
    * qualifies them), and each core pair (rep_a, rep_b, d) expanded
    * across both member lists (identical texts ⇒ identical
    * distances). Measured on the 10× twin-replicated fixture:
    * 98 s → the core re-runs at base-corpus size and only the ~f²
    * output expansion scales. */
  def editDistanceJoin(docs: DataFrame, idCol: String, textCol: String,
                       tau: Int, q: Int = 3): DataFrame = {
    require(tau >= 0, s"tau must be >= 0, got $tau")
    require(q >= 1, s"q must be >= 1, got $q")
    // class collapse in ONE text-keyed pass (r17-opt, the cosineClasses
    // shape): a window labels every row with its class rep and members
    // fall out of the same frame — the former groupBy + re-join
    // shuffled the corpus text a SECOND time just to re-attach reps,
    // and cached the text twice (rows + classes). A k-twin class rides
    // one window task, exactly the distribution the join form had.
    val rows = docs.select(col(idCol).as("__id"), col(textCol).as("__text"))
      .filter(col("__id").isNotNull && col("__text").isNotNull)
    val m0 = rows
      .withColumn("__rep", min(col("__id")).over(
        Window.partitionBy(col("__text"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.releaseAfterUse(m0)
    // --- intra-class pairs: exact twins, distance 0, output-bound
    val members = m0.select(col("__rep"), col("__id"))
    val ma = members.select(col("__rep"), col("__id").as("__ma"))
    val mb = members.select(col("__rep"), col("__id").as("__mb"))
    val twinPairs = ma.join(mb, "__rep")
      .filter(col("__ma") < col("__mb"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"),
        lit(0L).as("edit_dist"))
    // --- cross-class pairs: the filter/verify core over one rep per
    // distinct text, expanded across both member lists
    val reps = m0.filter(col("__id") === col("__rep"))
      .select(col("__id"), col("__text"))
    val repPairs = editDistanceJoinDistinct(reps, tau, q)
    val xa = members.select(col("__rep").as("id_a"), col("__id").as("__xa"))
    val xb = members.select(col("__rep").as("id_b"), col("__id").as("__xb"))
    val crossPairs = repPairs.join(xa, "id_a").join(xb, "id_b")
      .select(least(col("__xa"), col("__xb")).as("id_a"),
        greatest(col("__xa"), col("__xb")).as("id_b"), col("edit_dist"))
    twinPairs.unionByName(crossPairs)
  }

  /** Bucketed character-histogram ("bag") lower bound on Levenshtein:
    * one edit inserts at most one character and removes at most one,
    * so with A, B the code-point multisets, max(|A∖B|, |B∖A|) ≤
    * ed(a, b); merging code points into `HistBuckets` buckets only
    * lets differences cancel, so the bucketed bag distance is a
    * further LOWER bound — requiring it ≤ τ never drops a qualifying
    * pair (lossless, like the prefix filter). It exists because the
    * survival-lemma prefix filter degenerates on small-alphabet /
    * template corpora (few distinct grams ⇒ near-total candidate
    * survival) while the histogram keeps discriminating: per pair it
    * costs O(buckets) integer ops against the banded DP's O(τ·len)
    * cells, so it sits between candidate generation and verify. */
  private val HistBuckets = 64

  private val histU = udf { (s: String) =>
    val h = new Array[Int](HistBuckets)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h(cp % HistBuckets) += 1
      i += Character.charCount(cp)
    }
    h
  }

  /** `bagDir(x, y) = Σ max(x_i − y_i, 0)` as a codegen-friendly
    * built-in HOF chain; the filter is `bagDir(a,b) ≤ τ ∧ bagDir(b,a)
    * ≤ τ`. */
  private def bagFilter(ha: String, hb: String, tau: Int) = {
    def dir(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, r) -> IF(p > r, p - r, 0)), 0, (acc, v) -> acc + v)"
    expr(s"${dir(ha, hb)} <= $tau AND ${dir(hb, ha)} <= $tau")
  }

  /** The Ed-Join filter/verify core over rows whose `__text` values
    * are pairwise DISTINCT (one representative per class — the public
    * wrapper guarantees it, which is why no distance-0 pair can
    * appear here). */
  private def editDistanceJoinDistinct(docsDistinct: DataFrame,
                                       tau: Int, q: Int): DataFrame = {
    val base = docsDistinct
      .withColumn("__len", length(col("__text")))
      .withColumn("__hist", histU(col("__text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.releaseAfterUse(base)
    // the survival-lemma cutoff: a full q*tau+1-gram prefix needs
    // l - q + 1 >= q*tau + 1, i.e. l >= q*(tau+1)
    val fullPrefixLen = q * (tau + 1)
    // --- positional q-grams of every full-prefix string, RELABELED to
    // 64-bit hashes at explode time (r16-opt). Losslessness: hashing
    // is a deterministic (possibly non-injective) relabeling g ↦ h(g);
    // the whole filter — frequency counts, the global total order, the
    // prefix cut, candidate equality — runs on labels, and the
    // survival-lemma proof in the header goes through verbatim with
    // "label" for "gram string" (a coarser labeling only merges
    // frequency classes and equality sets, which can only ADD
    // candidates — a hash collision produces a spurious candidate the
    // DP rejects, never a lost pair). What it buys, measured (stage
    // probe, steady state): the per-id rarest-31 selection and the
    // self-join compare longs instead of strings, and the rows that
    // cross every downstream exchange carry 8-byte labels.
    // persisted (r17, VERDICT #5 "fold the two explode passes"): the
    // gram stream feeds BOTH the frequency agg and the ranked join —
    // unpersisted, the explode+xxhash pass over every text ran twice.
    val grams = base.filter(col("__len") >= fullPrefixLen)
      .select(col("__id"), col("__len"),
        posexplode(expr(s"transform(sequence(0, __len - $q), " +
          s"i -> xxhash64(substring(__text, i + 1, $q)))"))
          .as(Seq("pos", "gram")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.releaseAfterUse(grams)
    // --- global gram frequency (the one corpus-wide agg), then the
    // q*tau+1 rarest positional grams per string, deduped per label
    // (content matching downstream). The per-id selection is the
    // row_number window with the rank filter DIRECTLY above it — the
    // shape Spark 4 rewrites to a map-side partial WindowGroupLimit
    // (rank-limit pushdown): each map task locally sorts its slim
    // hashed-label rows and emits at most q·τ+1 rows per id, so the
    // exchange carries ~pref rows per string instead of the whole gram
    // stream. r17-opt, reversing the r16 collect_list aggregate: the
    // plan probe measured that aggregate shipping EVERY gram struct of
    // every id through its exchange as giant per-id arrays (59 MB at
    // sf0.1 vs ~5 MB for this form — the r16 window-vs-agg A/B
    // predates the xxhash64 relabeling and was sorting STRINGS), and
    // its unbounded per-group buffer was the r16 ADVICE §5 OOM risk
    // that needed a length-routed fallback. One route, bounded memory,
    // spillable sort, fewer exchange bytes at every scale; the
    // (freq, gram, pos) order is strict (pos unique per id) so the
    // selected prefix set is identical — EdJoinSpec pins it against
    // brute force on mixed 65k-char/short corpora.
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("__gfreq"))
    val ranked = grams.join(freq, "gram")
    val pref = q * tau + 1
    val prefix = ranked
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__id"))
        .orderBy(col("__gfreq"), col("gram"), col("pos"))))
      .filter(col("__rn") <= pref)
      .select(col("__id"), col("__len"), col("gram"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.releaseAfterUse(prefix)
    val pa = prefix.select(col("__id").as("id_a"), col("__len").as("len_a"),
      col("gram").as("gram_a"))
    val pb = prefix.select(col("__id").as("id_b"), col("__len").as("len_b"),
      col("gram").as("gram_b"))
    // r17-opt (guide §8 — declare what the optimizer cannot see): the
    // candidate stream is 16-byte id pairs, but each surviving row
    // pays an O(HistBuckets) bag filter and then an O(τ·len) DP —
    // 3-4 orders of magnitude more CPU per byte than scan work. AQE's
    // bytes-based coalescing (parallelismFirst=false) sees kilobytes
    // and serializes the whole verify chain onto one task (measured:
    // 8.9 s → 24.4 s at sf0.1). One explicit round-robin wave across
    // defaultParallelism declares the CPU density; the same spread is
    // what the verify stage needs at every SF (pair count scales with
    // output, never with bytes-per-row).
    // the gram self-join is likewise fan-out-dense (every shared-gram
    // collision pays the length filter), so its inputs hash-partition
    // explicitly on the gram key at the same width — no extra
    // exchange, the join reuses the user partitioning.
    val par = docsDistinct.sparkSession.sparkContext.defaultParallelism
    // r17-opt: ONE exchange owns both the candidate dedup and the
    // verify's width declaration. The join output is partitioned by
    // gram and each (pair, gram) row is unique (prefixes are deduped
    // per label), so every duplicate of a pair lives on a DIFFERENT
    // partition — the former `.distinct()` exchange's map-side partial
    // aggregate removed nothing, and its round-robin successor shipped
    // the deduped stream a second time. Hash-repartitioning on the
    // pair keys dedups in the same exchange that declares the width:
    // same rows cross the wire as before the dedup, one exchange
    // fewer, and hash(id_a, id_b) spreads as evenly as round-robin.
    val cands = pa.repartition(par, col("gram_a")).join(
        pb.repartition(par, col("gram_b")),
        col("gram_a") === col("gram_b") &&
          col("id_a") < col("id_b") &&
          abs(col("len_a") - col("len_b")) <= tau)
      .select(col("id_a"), col("id_b"))
      .repartition(par, col("id_a"), col("id_b"))
      .distinct()
    // --- bag-distance filter (lossless, see scaladoc above): attach
    // the two O(HistBuckets) histograms — id-keyed joins AQE
    // broadcasts — and kill the candidates the DP would reject, BEFORE
    // the text columns are attached or any DP cell is computed
    val ha = base.select(col("__id").as("id_a"), col("__hist").as("__ha"))
    val hb = base.select(col("__id").as("id_b"), col("__hist").as("__hb"))
    val bagged = cands.join(ha, "id_a").join(hb, "id_b")
      .filter(bagFilter("__ha", "__hb", tau))
      .select(col("id_a"), col("id_b"))
    // --- verify with the banded Levenshtein (threshold form: -1 past tau)
    val ta = base.select(col("__id").as("id_a"), col("__text").as("__text_a"))
    val tb = base.select(col("__id").as("id_b"), col("__text").as("__text_b"))
    val longPairs = bagged.join(ta, "id_a").join(tb, "id_b")
      .withColumn("edit_dist",
        levenshtein(col("__text_a"), col("__text_b"), tau).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
    // --- strings below the survival cutoff (incl. sub-q ones with no
    // grams at all): broadcast the (degenerate, bounded-by-contract)
    // short side against the length window — covers short-short and
    // short-long; disjoint from the full-prefix self-join above. The
    // bag filter rides the join condition, ahead of the DP.
    val shorts = base.filter(col("__len") < fullPrefixLen)
      .select(col("__id").as("id_s"), col("__text").as("__text_s"),
        col("__len").as("len_s"), col("__hist").as("__hs"))
    val shortPairs = broadcast(shorts).join(base,
        col("id_s") =!= col("__id") &&
          abs(col("len_s") - col("__len")) <= tau &&
          bagFilter("__hs", "__hist", tau))
      .withColumn("edit_dist",
        levenshtein(col("__text_s"), col("__text"), tau).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select(least(col("id_s"), col("__id")).as("id_a"),
        greatest(col("id_s"), col("__id")).as("id_b"), col("edit_dist"))
      .distinct()
    longPairs.unionByName(shortPairs)
  }
}
