package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 keyword ranking and reciprocal-rank fusion — the hybrid-search
  * surface a vector-store user reaches for the moment pure-embedding
  * recall misses exact-term matches (north-star scope; the reference
  * exposes only the dense path, `search_engine.py` + `app.py:402`, and
  * its Chroma backend never surfaces its FTS index — SURVEY §2.F).
  *
  * Scoring is Robertson–Zaragoza BM25 (the Okapi formulation, with
  * Lucene's +1-smoothed log idf as the default). Fusion is
  * reciprocal-rank fusion (Cormack et al., SIGIR'09): candidates carry
  * 1/(k+rank) from each ranking and the fused order is the sum.
  *
  * 100 TB design:
  *  - Document length and corpus stats are ONE narrow projection + one
  *    1-row aggregate (no shuffle of text; `size(terms(text))` never
  *    materializes the token stream).
  *  - Only documents containing a query term are ever shuffled: the
  *    query-term filter sits directly under the explode, so the
  *    shuffled set is bounded by the postings of the query terms, not
  *    the corpus (inverted-index behavior without storing an index —
  *    persist [[index]] to amortize repeated queries instead).
  *  - Per-(doc,term) scores aggregate with map-side combine on doc id;
  *    top-k is a shuffle-free TakeOrdered.
  *  - RRF fuses the top-K CANDIDATE LISTS (bounded, two tiny inputs),
  *    never full-corpus rankings — rank windows only ever see ≤ K rows.
  *
  * Oracle exactness: the driver gate compares value hashes bitwise, so
  * the gate query uses `rationalIdf = true` (idf as one IEEE double
  * division — correctly rounded by the standard in every engine) and
  * fixed-point BIGINT scores (`floor(score·1e9)` per term, integer sum
  * per doc — addition order cannot perturb the result). Natural-log idf
  * (the Lucene default) is NOT correctly-rounded-guaranteed across
  * libm implementations, so it stays the library default but is gated
  * by scalatest ranking checks instead of the bitwise oracle.
  */
object Bm25 {

  /** Lowercased alphanumeric terms; empties removed. Mirror of DuckDB
    * `string_split_regex(lower(x), '[^a-z0-9]+')` minus empty strings. */
  def terms(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** Per-document postings for a fixed query-term set: (id, term, tf,
    * dl). The query-term filter runs INSIDE the token array (a lambda
    * `filter` before the explode), so the generate emits one row per
    * MATCHED token, never one per corpus token — Catalyst does not push
    * predicates into a Generate, so filtering after the explode would
    * materialize the full token stream as rows first. (At the 10×
    * fixture both forms time the same — the regex split dominates — but
    * row-per-token generation is the form that degrades with document
    * length.) Only query postings ever shuffle. */
  def index(docs: DataFrame, idCol: String, textCol: String,
            queryTerms: Seq[String]): DataFrame =
    indexFromTokens(tokenized(docs, idCol, textCol), queryTerms)

  /** The corpus tokenized once: `(id, __terms)` — the shared input of
    * [[indexFromTokens]] / [[statsFromTokens]], so multi-pass callers
    * ([[prfTopK]]) persist ONE regex-split pass instead of re-splitting
    * the corpus per pass. */
  private def tokenized(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), terms(col(textCol)).as("__terms"))

  /** [[index]] over a pre-tokenized `(id, __terms)` frame. */
  private def indexFromTokens(tok: DataFrame,
                              queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // null-id docs carry no postings (the persisted index's rule —
    // postingsOf drops them at build): unfiltered, ALL null-id docs
    // would merge into one pseudo-document with summed tf. They still
    // count in corpus stats (n/avgdl), exactly like the persisted
    // layout whose stats are built over the unfiltered corpus.
    tok.where(col("id").isNotNull)
      .select(col("id"), size(col("__terms")).cast("long").as("dl"),
        explode(filter(col("__terms"), t => t.isin(queryTerms: _*))).as("term"))
      .groupBy(col("id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Corpus stats as a 1-row frame: n docs, avgdl = Σdl/n with the sum
    * taken over exact integers (bit-identical in any engine). `sum_dl`
    * carries the exact integer numerator so incremental appends can
    * update avgdl without re-scanning the corpus (old + delta sums are
    * exact longs; the single division is then identical to a full
    * rebuild's). */
  private def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    statsFromTokens(docs.select(terms(col(textCol)).as("__terms")))

  /** [[corpusStats]] over a pre-tokenized `__terms` frame. */
  private def statsFromTokens(tok: DataFrame): DataFrame =
    tok.agg(
      count(lit(1)).as("n"),
      (sum(size(col("__terms")).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"),
      sum(size(col("__terms")).cast("long")).as("sum_dl"))

  /** BM25 top-k for `queryTerms` over `docs`.
    *
    * Output: (id, bm25_fp, n_terms) — `bm25_fp` is the fixed-point
    * BIGINT score (Σ_terms floor(score_t · 1e9)), `n_terms` the count
    * of distinct query terms matched. Ties break on id ascending.
    *
    * @param rationalIdf true → idf = (n − df + 0.5)/(df + 0.5) (pure
    *   IEEE ÷, cross-engine exact; used by the oracle gate); false →
    *   Lucene idf = ln(1 + that ratio) (library default).
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75,
           rationalIdf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val postings = index(docs, idCol, textCol, queryTerms)
    // df per query term: postings are already (id, term)-distinct.
    val dfByTerm = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = corpusStats(docs, textCol)
    scoreAndTake(postings, dfByTerm, stats, k, k1, b, rationalIdf)
  }

  /** The shared scoring tail of [[topK]], [[searchPersistedIndex]] and
    * [[prfTopK]] — one implementation, so on-the-fly, index-backed and
    * feedback-expanded search agree bit-for-bit by construction. Both
    * joined sides after the broadcasts are bounded by the query
    * postings; stats and df are 1-row / |queryTerms|-row broadcasts.
    * `weights` (term → integer weight, default all-1) multiplies each
    * term's FLOORED fixed-point score — exact long arithmetic, so the
    * weighted form stays engine-portable. */
  private def scoreAndTake(postings: DataFrame, dfByTerm: DataFrame,
                           stats: DataFrame, k: Int, k1: Double, b: Double,
                           rationalIdf: Boolean,
                           weights: Map[String, Long] = Map.empty): DataFrame = {
    val ratio = (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val idf = if (rationalIdf) ratio else log(ratio + lit(1.0))
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0) - lit(b) +
        lit(b) * (col("dl").cast("double") / col("avgdl")))
    val termScore = idf * (col("tf").cast("double") * (lit(k1) + lit(1.0))) / denom
    val w =
      if (weights.isEmpty) lit(1L)
      else coalesce(try_element_at(typedLit(weights), col("term")), lit(1L))
    postings
      .join(broadcast(dfByTerm), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score_fp", floor(termScore * lit(1.0e9)).cast("long") * w)
      .groupBy(col("id"))
      .agg(sum(col("score_fp")).as("bm25_fp"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25_fp").desc, col("id"))
      .limit(k)
  }

  /** Pseudo-relevance-feedback query expansion (the RM3/Rocchio idea,
    * integer-exact): run BM25 for the original terms, harvest the
    * `fbTerms` most frequent NEW terms from the top `fbDocs` feedback
    * documents (total occurrence count across the feedback set, exact
    * longs, ties by term asc — the deterministic RM3-lite weighting),
    * and re-score with the union, original terms weighted `wOrig` and
    * expansion terms `wExp` (integer multipliers of the floored
    * per-term fixed-point scores, so the interpolation is exact).
    * With `fbTerms = 0` and `wOrig = 1` this IS [[topK]].
    *
    * Fully SQL-replayable — both passes, the feedback cut and the
    * expansion-term selection are relational (no handoff): the one IR
    * op in the family whose ENTIRE feedback loop the oracle re-runs.
    *
    * Scale shape: the corpus is regex-split ONCE into a persisted
    * `(id, __terms)` frame that serves all three phases — the pass-1
    * postings + stats, the feedback harvest (pushed isin over the
    * cached frame), and the pass-2 postings + stats; only query
    * postings ever shuffle in either pass. Driver round-trips between
    * the phases carry fbDocs ids and fbTerms strings — the ANN
    * candidate-list contract. The tokenize cache is released at the
    * query boundary ([[Dedup.releasePending]]), whether or not the
    * returned plan ever ran. */
  def prfTopK(docs: DataFrame, idCol: String, textCol: String,
              queryTerms: Seq[String], k: Int,
              fbDocs: Int = 10, fbTerms: Int = 8,
              wOrig: Long = 2L, wExp: Long = 1L,
              k1: Double = 1.2, b: Double = 0.75,
              rationalIdf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(fbDocs > 0, s"fbDocs must be positive, got $fbDocs")
    require(fbTerms >= 0, s"fbTerms must be >= 0, got $fbTerms")
    require(wOrig > 0 && wExp > 0, "weights must be positive integers")
    val tok = tokenized(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = statsFromTokens(tok)
    val p1 = indexFromTokens(tok, queryTerms)
    val fb = scoreAndTake(p1, p1.groupBy(col("term")).agg(count(lit(1)).as("df")),
        stats, fbDocs, k1, b, rationalIdf)
      .select(col("id")).collect().map(_.get(0))
    val expTerms: Seq[String] =
      if (fbTerms == 0 || fb.isEmpty) Seq.empty
      else tok.filter(col("id").isin(fb: _*))
        .select(explode(col("__terms")).as("term"))
        .filter(!col("term").isin(queryTerms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .limit(fbTerms)
        .collect().map(_.getString(0)).toSeq
    Dedup.releaseAfterUse(tok)
    val union = queryTerms ++ expTerms
    val weights: Map[String, Long] =
      (queryTerms.map(_ -> wOrig) ++ expTerms.map(_ -> wExp)).toMap
    val postings = indexFromTokens(tok, union)
    val dfByTerm = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    scoreAndTake(postings, dfByTerm, stats, k, k1, b, rationalIdf, weights)
  }

  /** (id, dl, term, tf) postings of a doc set — shared by the full
    * build and the incremental append so the two can never tokenize
    * differently. Null-id docs are EXCLUDED from the index (they
    * cannot be addressed by id, every query operator's null-hygiene
    * rule drops them anyway, and a null id in the layout would crash
    * the driver probes' required-field parquet reads). */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postingsFromTokens(docs.select(col(idCol).as("id"),
      terms(col(textCol)).as("__terms")))

  /** [[postingsOf]] over a pre-tokenized `(id, __terms)` frame — the
    * seam that lets [[appendToPersistedIndex]] tokenize its delta ONCE
    * and feed both the postings delta and the stats delta from the
    * same frame. Null-id rows are excluded here (not by the caller)
    * so every route shares one hygiene rule. */
  private def postingsFromTokens(tok: DataFrame): DataFrame =
    tok
      .where(col("id").isNotNull)
      .select(col("id"), size(col("__terms")).cast("long").as("dl"),
        explode(col("__terms")).as("term"))
      .groupBy(col("id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** The term-range-sharded persisted layout — ONE owner for the
    * exportSorted + manifest + schema-pin sequence shared by this
    * index and [[Positional.buildPersistedIndex]] (the two layouts
    * differ only in the postings columns; the append crash-window
    * reasoning must hold for both, so they must not drift):
    *   `postings/` — range-sorted on `term` via
    *     [[Sharding.exportSorted]]: each term lives in exactly one
    *     `range_id` directory and parquet row-group min/max stats are
    *     tight, so a query's terms prune to a handful of files;
    *   `manifest/` — the persisted zone map over the term ranges;
    *   `schema/` — a footer-bearing EMPTY postings file pinning the
    *     postings schema (incl. the id column's true type) for query
    *     paths that read no range: an empty index or an
    *     all-out-of-range query must return an empty frame of the
    *     SAME schema as a populated read, not a hardcoded one. */
  private[operators] def writeShardedPostingsLayout(postings: DataFrame,
                                                    nRanges: Int,
                                                    base: String): Unit = {
    val manifest = Sharding.exportSorted(postings, "term", nRanges,
      s"$base/postings")
    manifest.write.mode("overwrite").parquet(s"$base/manifest")
    postings.filter(lit(false)).repartition(1)
      .write.mode("overwrite").parquet(s"$base/schema")
  }

  /** Materialize the FULL inverted index once — the amortization path
    * for repeated keyword queries over a stable corpus snapshot (the
    * on-the-fly [[topK]] re-splits every document per query). Layout =
    * [[writeShardedPostingsLayout]] plus `stats/` (one row: n docs,
    * avgdl as exact-int sum / count, sum_dl). One corpus pass + one
    * range shuffle of the postings (a posting is ~3 longs + the term
    * string — far smaller than the corpus text). Per-term document
    * frequencies are NOT stored: df is recomputed from the pruned
    * postings at query time (a count over one file set), which keeps
    * the index layout a pure function of the corpus and makes partial
    * rebuilds compose. */
  def buildPersistedIndex(docs: DataFrame, idCol: String, textCol: String,
                          nRanges: Int, path: String): Unit = {
    val base = path.stripSuffix("/")
    writeShardedPostingsLayout(postingsOf(docs, idCol, textCol), nRanges, base)
    corpusStats(docs, textCol).write.mode("overwrite").parquet(s"$base/stats")
  }

  /** INCREMENTAL index maintenance: merge a batch of NEW documents
    * into a [[buildPersistedIndex]] layout touching only the range
    * directories their terms route to — the nightly-append shape every
    * other incremental path here follows (IVF assign-without-refit,
    * changed-shard re-export): O(delta + touched ranges), never a full
    * rebuild. After the append the index is SEMANTICALLY IDENTICAL to
    * a fresh build over old∪new (gate-pinned: the appended index's
    * search hash-matches the full-corpus oracle):
    *  - delta postings route to the range with the largest
    *    `min_key <= term` (first range for smaller terms) — a
    *    deterministic rule that only ever WIDENS a range's manifest
    *    interval, so zone-map pruning stays correct;
    *  - each touched range merges existing + delta postings, re-sorted
    *    on term (row-group stats stay tight); ALL merges stage before
    *    ANY publish (two-phase), publishes are aside-renames, and
    *    manifest/stats go through write-swap — a failure during the
    *    heavy staging phase leaves the live index byte-untouched, and
    *    a crash inside the short publish window is recoverable from
    *    the parked `.old_r*` dirs (or by rebuild, always safe);
    *    untouched ranges are NOT rewritten (spec-pinned via file
    *    listings);
    *  - the manifest updates touched rows with pure driver math
    *    (interval union + row counts; no corpus scan);
    *  - stats update from the exact integer `sum_dl` (old + delta),
    *    so avgdl is bit-identical to a rebuild's sum/count division.
    *
    * Contract: `newDocs` ids must be NEW (an id already indexed would
    * double its postings — dedup upstream, [[ChunkStore]]'s guards are
    * the ingest-side enforcement); single writer per index (like any
    * index build). Pre-`sum_dl` indexes must rebuild once to upgrade.
    * Returns the touched range ids. */
  /** Entry fail-fast shared by the append and delete maintenance ops:
    * FAIL FAST on leftover crash-recovery state. A `.old_r*` park from
    * a prior crashed maintenance run is the operator's MANUAL-RESTORE
    * artifact (scaladoc contract). Deleting it silently would destroy
    * the recovery path — and worse, a stale park could later be
    * "restored" by this run's rollback over the live range dir,
    * corrupting the index with pre-crash data. The operator must
    * restore-or-rebuild first; this run refuses. `.append_r*` STAGING
    * leftovers are different: staging is disposable by construction
    * (the live index is untouched until the publish loop), so a failed
    * prior run's staging must NOT block a retry — with no park present
    * it is deleted here (single-writer contract makes that safe); with
    * a park present it is left alone for the operator's restore. */
  private def failFastOnParks(fs: org.apache.hadoop.fs.FileSystem,
                              base: String, op: String): Unit = {
    val parks = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$base/postings/.old_r*")))
      .getOrElse(Array.empty).map(_.getPath.getName)
    require(parks.isEmpty,
      s"$op: index at $base holds crash-recovery dirs " +
        s"${parks.mkString(", ")} from a prior interrupted append/delete — " +
        s"restore the parked ranges (or rebuild the index) before this $op")
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$base/postings/.append_r*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, true))
  }

  /** The manifest's term routing rule — the range with the largest
    * `min_key <= term` (ranges are key-ordered and disjoint by
    * construction of repartitionByRange; append only ever widens an
    * interval toward, never across, its neighbor), else the first.
    * Kilobyte routing table in the closure, narrow map. For any term
    * that IS in the index this is exactly the range holding its
    * postings, which is what lets the delete find its touched ranges
    * without scanning the index. */
  private def routeByMinKey(mins: Array[(String, Long)]) = udf { (t: String) =>
    var lo = 0; var hi = mins.length - 1
    if (t < mins(0)._1) mins(0)._2
    else {
      while (lo < hi) { // invariant: mins(lo) <= t < mins(hi+1)
        val mid = (lo + hi + 1) / 2
        if (mins(mid)._1 <= t) lo = mid else hi = mid - 1
      }
      mins(lo)._2
    }
  }

  /** Stage every touched range's replacement CONCURRENTLY under
    * `.append_r<rid>`: each staging job is an independent
    * read→transform→write over disjoint directories, and Spark
    * schedules concurrent jobs from one session fine — sequential
    * staging would pay ~nRanges × job-submit latency for no ordering
    * benefit. Failures propagate: any staging error aborts before a
    * single live dir is touched. The failure path AWAITS every sibling
    * future before throwing (fail-fast alone would leave detached jobs
    * writing staging dirs after this method returned — racing a
    * caller's cleanup or rebuild) and then deletes all staging dirs,
    * so a failed run leaves the index exactly as it found it and a
    * retry starts clean. `staged(rid, existing)` returns the range's
    * full replacement contents.
    *
    * With `collectStats` the per-range (n_rows, min, max) — the
    * delete's exact post-rewrite manifest rows — ride the staging
    * write itself via `observe` (CollectMetrics: the aggregates are
    * computed over the rows as they stream into the writer, so no
    * second job re-reads the staged files; r17-opt — the former
    * explicit-part-path re-read paid one extra job + footer scan per
    * touched range, ~nRanges × (job-submit + read) of pure overhead
    * in every delete). Same values by construction: the observed rows
    * ARE the written rows. An emptied range reports (0, null, null). */
  private def stageRanges(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          base: String, touched: Seq[Long], op: String,
                          staged: (Long, DataFrame) => DataFrame,
                          collectStats: Boolean = false)
      : Map[Long, (Long, String, String)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = touched.map { rid => Future {
      val staging = s"$base/postings/.append_r$rid"
      val existing = spark.read.parquet(s"$base/postings/range_id=$rid")
      val replacement = staged(rid, existing)
        .sortWithinPartitions(col("term"))
      val obs = if (!collectStats) None
        else Some(new org.apache.spark.sql.Observation(s"stage_r$rid"))
      obs.fold(replacement)(o => replacement.observe(o,
          count(lit(1)).as("n"), min(col("term")).as("mn"),
          max(col("term")).as("mx")))
        .write.mode("overwrite").parquet(staging)
      // a staged result can be EMPTY (a delete that kills a whole
      // range): Spark may then write no data file at all, and a later
      // read of the published dir would crash on schema inference —
      // pin the schema with one empty footer-bearing file (the
      // `schema/` dir trick)
      def parts: Seq[String] = Option(fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$staging/part-*")))
        .getOrElse(Array.empty).map(_.getPath.toString).toSeq
      if (parts.isEmpty)
        existing.filter(lit(false)).repartition(1)
          .write.mode("overwrite").parquet(staging)
      obs.fold(rid -> ((0L, null: String, null: String))) { o =>
        val m = o.get
        // an emptied range observes count=0 / null keys — exactly the
        // (0, null, null) row the manifest's overlappingRangeIds skips
        rid -> ((m("n").asInstanceOf[Long],
          m("mn").asInstanceOf[String], m("mx").asInstanceOf[String]))
      }
    }}
    val outcomes = futures.map(f => Await.ready(f, Duration.Inf).value.get)
    outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach { e =>
      touched.foreach(rid => fs.delete(
        new org.apache.hadoop.fs.Path(s"$base/postings/.append_r$rid"), true))
      throw new IllegalStateException(
        s"$op: staging failed, index untouched, staging cleaned: ${e.getMessage}", e)
    }
    if (collectStats)
      outcomes.collect { case scala.util.Success(kv) => kv }.toMap
    else Map.empty
  }

  /** Swap every staged range in with aside-renames. Park dirs are
    * dot-prefixed (invisible to parquet partition discovery) and
    * retained until the CALLER finishes its metadata swaps — a failure
    * anywhere in this loop rolls ALL published ranges back to the
    * parked originals, so the index is never left with a subset of the
    * change applied. Callers delete the parks via [[removeParks]] only
    * after manifest/stats commit (deleting them first opened an
    * UNDETECTABLE crash window: postings published, zone map stale).
    * The irreducible residue is a hard CRASH mid-protocol — parked
    * dirs remain on disk for manual restore, and a rebuild is always
    * safe. Full multi-dir + manifest/stats atomicity would need a
    * versioned-pointer layout like
    * [[Maintenance.compactParquetVersioned]]; for this operator the
    * contract is single writer + restore-or-rebuild on a crash. */
  private def publishRanges(fs: org.apache.hadoop.fs.FileSystem,
                            base: String, touched: Seq[Long], op: String): Unit =
    // no stale .old_r can exist here: the entry fail-fast refused the
    // run if any crash-recovery dir was present
    LayoutSwap.publish[Long](fs, touched,
      rid => new org.apache.hadoop.fs.Path(s"$base/postings/range_id=$rid"),
      rid => new org.apache.hadoop.fs.Path(s"$base/postings/.old_r$rid"),
      rid => new org.apache.hadoop.fs.Path(s"$base/postings/.append_r$rid"),
      op)

  /** Drop the crash-recovery parks — ONLY after every metadata swap
    * (manifest, stats) has committed. */
  private def removeParks(fs: org.apache.hadoop.fs.FileSystem,
                          base: String, touched: Seq[Long]): Unit =
    touched.foreach(rid => fs.delete(
      new org.apache.hadoop.fs.Path(s"$base/postings/.old_r$rid"), true))

  def appendToPersistedIndex(newDocs: DataFrame, idCol: String, textCol: String,
                             path: String): Seq[Long] = {
    val spark = newDocs.sparkSession
    val base = path.stripSuffix("/")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
    failFastOnParks(fs, base, "append")

    val statsRow = spark.read.parquet(s"$base/stats").head()
    require(statsRow.schema.fieldNames.contains("sum_dl"),
      s"index at $path predates sum_dl stats — rebuild once with " +
        "buildPersistedIndex to enable appends")
    val n0 = statsRow.getAs[Long]("n")
    val sum0 = statsRow.getAs[Long]("sum_dl")

    val man = spark.read.parquet(s"$base/manifest")
      .select(col("range_id").cast("long"), col("min_key"), col("max_key"),
        col("n_rows"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    require(man.nonEmpty,
      s"index at $path has no ranges (empty corpus) — rebuild instead of appending")

    // null-keyed ranges (emptied by a prior delete) are unroutable —
    // appends route into the keyed ranges only (interval disjointness
    // among them is preserved; emptied ranges stay empty)
    val mins: Array[(String, Long)] =
      man.sortBy(_._1).collect { case (rid, mn, _, _) if mn != null => (mn, rid) }
    require(mins.nonEmpty,
      s"index at $path has no keyed ranges (all emptied by deletes) — " +
        "rebuild instead of appending")
    val routeUdf = routeByMinKey(mins)
    // tokenize the delta docs ONCE: the postings delta and the stats
    // delta both read this cached frame (the corpus-text regex split
    // is the dominant cost of an append — paying it twice doubled the
    // append's scan work for no semantic difference)
    val tokd = newDocs
      .select(col(idCol).as("id"), terms(col(textCol)).as("__terms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val delta = postingsFromTokens(tokd)
      .withColumn("__rid", routeUdf(col("term")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per-touched-range delta summary — driver-sized (<= nRanges rows)
      val touchedStats = delta.groupBy(col("__rid"))
        .agg(min(col("term")).as("dmn"), max(col("term")).as("dmx"),
          count(lit(1)).as("dn"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      val touched = touchedStats.map(_._1).sorted.toSeq

      // TWO-PHASE publish ([[stageRanges]] + [[publishRanges]], the
      // protocol shared with the delete): stage EVERY touched range's
      // merge first (all heavy work, all failure-prone IO), only then
      // swap them in with aside-renames. Re-running a SUCCEEDED append
      // double-inserts the delta (the ids-must-be-new contract) —
      // idempotence lives with the caller's ingest ledger.
      stageRanges(spark, fs, base, touched, "append", (rid, existing) =>
        existing.unionByName(delta.filter(col("__rid") === rid).drop("__rid")
          .select(existing.columns.map(col).toIndexedSeq: _*)))
      publishRanges(fs, base, touched, "append")

      // manifest: interval union + counts, pure driver math
      val deltaByRid = touchedStats.map(t => t._1 -> t).toMap
      val newMan = man.map { case (rid, mn, mx, n) =>
        deltaByRid.get(rid) match {
          case Some((_, dmn, dmx, dn)) =>
            (rid, if (mn <= dmn) mn else dmn, if (mx >= dmx) mx else dmx, n + dn)
          case None => (rid, mn, mx, n)
        }
      }.sortBy(_._1).toIndexedSeq
      import spark.implicits._
      writeSwap(newMan.toDF("range_id", "min_key", "max_key", "n_rows")
        .select(col("range_id").cast("int"), col("min_key"), col("max_key"),
          col("n_rows")), s"$base/manifest", fs)

      // stats: exact integer sums -> one division, rebuild-identical.
      // Reads the SAME cached tokenize as the postings delta; note it
      // deliberately counts null-id docs too — corpusStats does not
      // filter them, and append stats must stay rebuild-identical.
      val dAgg = tokd
        .agg(count(lit(1)), sum(size(col("__terms")).cast("long"))).head()
      val n1 = n0 + dAgg.getLong(0)
      val sum1 = sum0 + (if (dAgg.isNullAt(1)) 0L else dAgg.getLong(1))
      writeSwap(Seq((n1, sum1.toDouble / n1.toDouble, sum1))
        .toDF("n", "avgdl", "sum_dl"), s"$base/stats", fs)
      removeParks(fs, base, touched)
      touched
    } finally { delta.unpersist(); tokd.unpersist() }
  }

  /** DELETE-maintenance: remove a batch of indexed documents from a
    * [[buildPersistedIndex]] layout, touching only the range
    * directories that hold their postings — the dual of
    * [[appendToPersistedIndex]], completing the index-maintenance
    * story for a corpus that deletes documents as a first-class op
    * (reference `vector_store.py:190-298`; without this, an
    * append-only keyword index silently drifts from the chunk table
    * until a full rebuild). After the delete the index is
    * SEMANTICALLY IDENTICAL to a fresh build over the surviving
    * corpus (gate-pinned: delete ≡ rebuild ≡ on-the-fly, hash-matched):
    *
    *  - `victimDocs` carries the SAME (id, text) rows that were
    *    indexed — tokenization is deterministic, so the victim TERMS
    *    recompute exactly, route through the manifest's binary-search
    *    rule ([[routeByMinKey]] — for an indexed term this IS the
    *    range holding its postings), and the touched-range set is
    *    found WITHOUT scanning a single live postings file; terms
    *    outside every manifest interval carry no postings and are
    *    dropped before they can touch a range;
    *  - each touched range rewrites to its SURVIVORS only (one id
    *    anti-join against the victim-id set), re-sorted on term;
    *    untouched ranges are NOT rewritten (spec-pinned via file
    *    listings); staging/park/rollback is the append's two-phase
    *    protocol ([[stageRanges]]/[[publishRanges]]), so a failure
    *    leaves the live index byte-untouched and a crash inside the
    *    publish window is recoverable from the parked `.old_r*` dirs;
    *  - the manifest's touched rows take EXACT post-delete row counts
    *    and tight min/max keys re-read from the staged survivors (a
    *    range deleted down to empty gets null keys, which the zone-map
    *    read already skips);
    *  - when the layout carries `stats/` (the BM25 index; the
    *    positional layout does not), n and the exact integer `sum_dl`
    *    decrement by the victims' counts, so post-delete scores are
    *    bit-identical to a rebuild's (same single division).
    *
    * Contract (the dual of append's ids-must-be-NEW): every victim id
    * must currently be indexed, with the text it was indexed under —
    * deleting an absent id or stale text makes n/sum_dl drift from a
    * rebuild. Single writer per index; restore-or-rebuild on a crash;
    * pre-`sum_dl` BM25 indexes must rebuild once to upgrade. Returns
    * the touched range ids. */
  def deleteFromPersistedIndex(victimDocs: DataFrame, idCol: String,
                               textCol: String, path: String): Seq[Long] =
    deleteFromShardedLayout(victimDocs, idCol, textCol, path)

  /** [[deleteFromPersistedIndex]]'s engine, shared with
    * [[Positional.deleteFromPersistedIndex]] — the layout's `stats/`
    * dir (present for BM25, absent for positional) decides whether
    * corpus stats update. */
  private[operators] def deleteFromShardedLayout(victimDocs: DataFrame,
                                                 idCol: String, textCol: String,
                                                 path: String): Seq[Long] = {
    val spark = victimDocs.sparkSession
    val base = path.stripSuffix("/")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
    failFastOnParks(fs, base, "delete")

    val hasStats = fs.exists(new org.apache.hadoop.fs.Path(s"$base/stats"))
    val (n0, sum0) = if (hasStats) {
      val statsRow = spark.read.parquet(s"$base/stats").head()
      require(statsRow.schema.fieldNames.contains("sum_dl"),
        s"index at $path predates sum_dl stats — rebuild once with " +
          "buildPersistedIndex to enable deletes")
      // an empty index (post-full-delete) carries null avgdl/sum_dl —
      // read as 0 so the over-delete guard fires instead of an NPE
      val si = statsRow.fieldIndex("sum_dl")
      (statsRow.getAs[Long]("n"),
        if (statsRow.isNullAt(si)) 0L else statsRow.getLong(si))
    } else (0L, 0L)

    val man = spark.read.parquet(s"$base/manifest")
      .select(col("range_id").cast("long"), col("min_key"), col("max_key"),
        col("n_rows"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    if (man.isEmpty) return Seq.empty // empty index: nothing to delete from

    // ranges already emptied by a prior delete carry null keys — they
    // hold no postings, so they are unroutable AND untouchable; with
    // every range empty the postings side is a no-op (only stats can
    // still change)
    val mins: Array[(String, Long)] =
      man.sortBy(_._1).collect { case (rid, mn, _, _) if mn != null => (mn, rid) }
    val routeUdf = routeByMinKey(mins)
    // interval check: a victim term outside its routed range's
    // [min, max] was never indexed there (or anywhere) — skip it so a
    // victim whose terms all miss the index touches zero ranges
    val bounds = man.map { case (rid, mn, mx, _) => rid -> ((mn, mx)) }.toMap
    val inRangeUdf = udf { (t: String, rid: Long) =>
      bounds.get(rid).exists { case (mn, mx) =>
        mn != null && mx != null && mn <= t && t <= mx }
    }

    // tokenize the victims ONCE (the append's shared-cache rule): the
    // touched-range discovery, the victim-id set, and the stats delta
    // all read this frame
    val tokd = victimDocs
      .select(col(idCol).as("id"), terms(col(textCol)).as("__terms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched =
        if (mins.isEmpty) Seq.empty[Long]
        else tokd.where(col("id").isNotNull)
          .select(explode(col("__terms")).as("term")).distinct()
          .withColumn("__rid", routeUdf(col("term")))
          .where(inRangeUdf(col("term"), col("__rid")))
          .select(col("__rid")).distinct()
          .collect().map(_.getLong(0)).sorted.toSeq
      if (touched.isEmpty) {
        // no victim term overlaps the index: only stats can change
        // (victims still leave the corpus), postings stay untouched
        if (hasStats) updateStatsAfterDelete(spark, fs, base, tokd, n0, sum0)
        return Seq.empty
      }
      val victimIds = tokd.where(col("id").isNotNull)
        .select(col("id")).distinct()

      // exact post-delete manifest rows come back from the STAGED
      // survivors (before publish): tight min/max (delete can shrink
      // an interval) + exact n_rows; an emptied range keeps its dir
      // but takes null keys, which overlappingRangeIds already skips
      val stagedStats = stageRanges(spark, fs, base, touched, "delete",
        (_, existing) => existing.join(victimIds, Seq("id"), "left_anti"),
        collectStats = true)
      publishRanges(fs, base, touched, "delete")

      val newMan = man.map { case (rid, mn, mx, n) =>
        stagedStats.get(rid) match {
          case Some((sn, smn, smx)) => (rid, smn, smx, sn)
          case None => (rid, mn, mx, n)
        }
      }.sortBy(_._1).toIndexedSeq
      import spark.implicits._
      writeSwap(newMan.toDF("range_id", "min_key", "max_key", "n_rows")
        .select(col("range_id").cast("int"), col("min_key"), col("max_key"),
          col("n_rows")), s"$base/manifest", fs)
      if (hasStats) updateStatsAfterDelete(spark, fs, base, tokd, n0, sum0)
      removeParks(fs, base, touched)
      touched
    } finally { tokd.unpersist() }
  }

  /** Decrement n / sum_dl by the victim batch's exact integer counts —
    * the same arithmetic as the append's increment, so delete stats
    * are bit-identical to a rebuild over the survivors. Deliberately
    * counts null-id victims too (corpusStats does not filter them).
    * A full-corpus delete writes the exact empty-rebuild stats row
    * (n=0, null avgdl/sum_dl — what statsFromTokens yields on an
    * empty corpus). */
  private def updateStatsAfterDelete(spark: org.apache.spark.sql.SparkSession,
                                     fs: org.apache.hadoop.fs.FileSystem,
                                     base: String, tokd: DataFrame,
                                     n0: Long, sum0: Long): Unit = {
    val dAgg = tokd
      .agg(count(lit(1)), sum(size(col("__terms")).cast("long"))).head()
    val n1 = n0 - dAgg.getLong(0)
    val sum1 = sum0 - (if (dAgg.isNullAt(1)) 0L else dAgg.getLong(1))
    require(n1 >= 0 && sum1 >= 0,
      s"delete: victim batch exceeds the indexed corpus (n $n0 -> $n1, " +
        s"sum_dl $sum0 -> $sum1) — victims must be currently-indexed docs")
    import spark.implicits._
    val row =
      if (n1 == 0) Seq((0L, Option.empty[Double], Option.empty[Long]))
      else Seq((n1, Some(sum1.toDouble / n1.toDouble), Some(sum1)))
    writeSwap(row.toDF("n", "avgdl", "sum_dl"), s"$base/stats", fs)
  }

  /** Overwrite a tiny metadata parquet (manifest/stats) via
    * write-aside + rename — a plain overwrite is delete-then-write,
    * whose crash window loses the file entirely. */
  private def writeSwap(df: DataFrame, target: String,
                        fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val tmp = s"${target}__new"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val tgt = new org.apache.hadoop.fs.Path(target)
    val old = new org.apache.hadoop.fs.Path(s"${target}__old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tgt))
      require(fs.rename(tgt, old), s"writeSwap: could not park $target")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), tgt),
      s"writeSwap: could not publish $tmp -> $target")
    fs.delete(old, true)
  }

  /** BM25 top-k over a [[buildPersistedIndex]] layout: identical
    * results to [[topK]] on the indexed snapshot (spec-pinned), but
    * the corpus is never touched — the query's terms are grouped into
    * the range directories that can contain them (ONE driver-side pass
    * over the nRanges-row manifest, which IS the zone-map read) and
    * each overlapping directory is scanned once with an `isin` term
    * filter that parquet row-group stats prune further. Cost scales
    * with the query's postings, not the corpus, and never reads a
    * directory twice however many terms share it. An empty index (or
    * a query whose terms are all out of range) returns an empty
    * result, never a schema-inference crash. */
  /** THE zone-map pruning rule for term-range-sharded layouts — one
    * owner, shared with [[Positional.readPostings]]: a range survives
    * iff some key can fall inside its [min, max]. Keys are [a-z0-9]+
    * by construction ([[terms]]), so Java's String ordering ==
    * Spark's UTF8String binary ordering and the driver-side test
    * matches the manifest's min/max. */
  private[operators] def overlappingRangeIds(
      spark: org.apache.spark.sql.SparkSession,
      base: String, keys: Seq[String]): Seq[Long] =
    spark.read.parquet(s"$base/manifest")
      .select(col("range_id").cast("long"), col("min_key"), col("max_key"))
      .collect()
      .filter(r => !r.isNullAt(1) && keys.exists(t =>
        r.getString(1) <= t && t <= r.getString(2)))
      .map(_.getLong(0)).sorted.toSeq

  def searchPersistedIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, queryTerms: Seq[String], k: Int,
                           k1: Double = 1.2, b: Double = 0.75,
                           rationalIdf: Boolean = false): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    val base = path.stripSuffix("/")
    val terms = queryTerms.distinct
    val overlapping = overlappingRangeIds(spark, base, terms)
    // the schema-pinning empty file keeps the no-range path's result
    // schema identical to a populated read (id type included). Indexes
    // persisted by builds predating schema/ fall back to the postings
    // files' own schema; a pre-schema/ EMPTY index (no files at all)
    // falls back to the long-id shape — documented, and unreachable
    // from any index this builder writes today.
    def pinnedEmpty: DataFrame =
      scala.util.Try(spark.read.parquet(s"$base/schema"))
        .orElse(scala.util.Try(
          spark.read.parquet(s"$base/postings").filter(lit(false))
            .drop("range_id")))
        .getOrElse {
          import spark.implicits._
          Seq.empty[(Long, Long, String, Long)].toDF("id", "dl", "term", "tf")
        }
    val postings =
      if (overlapping.isEmpty) pinnedEmpty
      else spark.read.option("basePath", s"$base/postings")
        .parquet(overlapping.map(id => s"$base/postings/range_id=$id"): _*)
        .filter(col("term").isin(terms: _*))
        .drop("range_id")
    val dfByTerm = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = spark.read.parquet(s"$base/stats")
    scoreAndTake(postings, dfByTerm, stats, k, k1, b, rationalIdf)
  }

  /** Reciprocal-rank fusion of two bounded candidate lists. Inputs are
    * (id, rank) frames (rank 1-based, each id unique); output is
    * (id, rrf_fp) ordered by fused score desc, id asc, limited to k.
    * `rrf_fp = Σ 1e9 DIV (kRrf + rank)` in pure int64 — no floats, so
    * any engine reproduces it bit-for-bit. Ids absent from one list
    * contribute only the other's term (standard RRF). */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60): DataFrame = {
    require(k > 0 && kRrf > 0, s"k and kRrf must be positive, got $k, $kRrf")
    def contrib(df: DataFrame, name: String): DataFrame =
      df.select(col("id"),
        expr(s"1000000000L DIV ($kRrf + CAST(rank AS BIGINT))").as(name))
    contrib(a, "rrf_a")
      .join(contrib(b, "rrf_b"), Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(col("rrf_a"), lit(0L)) + coalesce(col("rrf_b"), lit(0L)))
          .as("rrf_fp"))
      .orderBy(col("rrf_fp").desc, col("id"))
      .limit(k)
  }

  /** Attach a 1-based row_number rank to a bounded candidate list
    * already in final order — callers pass a top-K result (≤ K rows),
    * so the single-partition window is over a bounded list, never the
    * corpus. `orderCols` MUST be a total order (append an id
    * tiebreaker, as every in-repo caller does): row_number gives tied
    * rows arbitrary ranks, which would make a downstream RRF fusion
    * nondeterministic. */
  def withRank(topList: DataFrame, orderCols: Seq[Column]): DataFrame =
    topList.withColumn("rank",
      row_number().over(Window.orderBy(orderCols: _*)))
}
