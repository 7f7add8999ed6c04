package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.Bm25

/** Hybrid retrieval surface: BM25 keyword top-k and reciprocal-rank
  * fusion with the dense cosine ranking — what a reference-server user
  * runs when pure-embedding recall misses exact-term matches (the
  * reference exposes only the dense path; SURVEY §2.F).
  *
  * Oracle parity strategy (see Bm25 scaladoc): rational idf (one IEEE
  * division), per-term scores quantized to BIGINT fixed-point BEFORE
  * the per-doc sum (integer addition is order-independent), RRF in
  * pure int64 (`1e9 DIV (60+rank)`). Every expression tree below is
  * mirrored token-for-token in the SQL so both engines evaluate the
  * same IEEE operation sequence.
  */
object HybridQueries {

  private val QueryTerms = Seq("vector", "hash", "join")
  private val QldTerms = Seq("vector", "hash", "join", "search")
  private val QldMu = 2000L
  private val QldLnHandoff = Handoff.path("qld_ln")
  private def rp(path: String) = s"read_parquet('$path/*.parquet')"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BM25 keyword top-20 (rational idf + fixed-point, oracle-exact)
    "bm25_topk" -> { (s, dir) =>
      Bm25.topK(Tables.documents(s, dir), "doc_id", "text",
          QueryTerms, k = 20, rationalIdf = true)
        .withColumnRenamed("id", "doc_id")
    },
    // pseudo-relevance-feedback expansion (RM3-lite): BM25 top-10
    // feedback docs -> 8 most frequent new terms -> weighted re-score
    // (orig x2, expansion x1, integer multipliers of the floored
    // fixed-point term scores). The ONE IR gate whose entire feedback
    // loop the oracle re-runs in SQL — both passes, the feedback cut
    // and the term selection are relational, no handoff.
    "bm25_prf" -> { (s, dir) =>
      Bm25.prfTopK(Tables.documents(s, dir), "doc_id", "text",
          QueryTerms, k = 20, fbDocs = 10, fbTerms = 8,
          wOrig = 2L, wExp = 1L, rationalIdf = true)
        .withColumnRenamed("id", "doc_id")
    },
    // the SAME query answered from a PERSISTED inverted index: must
    // hash-match the on-the-fly bm25_topk oracle exactly. The index is
    // built once per fixture dir and reused (the persistedIvf pattern —
    // Bench pre-builds it in warmup), so the gate/bench time what a
    // deployment actually pays per query: the manifest-pruned per-term
    // range reads + the shared scoring tail, NOT the index build that
    // amortizes per corpus write.
    "bm25_indexed" -> { (s, dir) =>
      Bm25.searchPersistedIndex(s, persistedBm25(s, dir),
          QueryTerms, k = 20, rationalIdf = true)
        .withColumnRenamed("id", "doc_id")
    },
    // INCREMENTAL index maintenance gate: build the index on 90% of
    // the corpus, APPEND the other 10% (touched-range-only merge), and
    // search — the result must hash-match the on-the-fly oracle over
    // the FULL corpus, i.e. append ≡ rebuild, bit for bit. The 90%
    // baseline is built ONCE per fixture (cached like persistedBm25;
    // Bench pre-builds it in warmup) and file-copied to a fresh temp
    // dir each run because the append mutates the layout — so the
    // timed window holds the operator under test (routed delta merge +
    // search), not the baseline build a deployment amortizes per
    // corpus write.
    "bm25_append" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      withTempDir("bm25app") { tmp =>
        copyTree(new java.io.File(baselineBm25(s, dir)), tmp)
        Bm25.appendToPersistedIndex(docs.where(col("doc_id") % 10 === 0),
          "doc_id", "text", tmp.getAbsolutePath)
        val r = Bm25.searchPersistedIndex(s, tmp.getAbsolutePath,
            QueryTerms, k = 20, rationalIdf = true)
          .withColumnRenamed("id", "doc_id")
        // materialize before the temp dir is deleted
        import s.implicits._
        r.as[(Long, Long, Long)].collect().toSeq
          .toDF("doc_id", "bm25_fp", "n_terms")
      }
    },
    // DELETE-maintenance gate: copy the FULL-corpus persisted index,
    // DELETE the doc_id % 10 == 0 docs (touched-range-only rewrite),
    // and search — the result must hash-match the on-the-fly oracle
    // over the SURVIVING corpus, i.e. delete ≡ rebuild, bit for bit
    // (stats decremented by exact ints, manifest re-tightened). The
    // full-corpus baseline is the same persistedBm25 cache bm25_indexed
    // reads; it is file-copied to a fresh temp dir because the delete
    // mutates the layout in place.
    "bm25_delete" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      withTempDir("bm25del") { tmp =>
        copyTree(new java.io.File(persistedBm25(s, dir)), tmp)
        Bm25.deleteFromPersistedIndex(docs.where(col("doc_id") % 10 === 0),
          "doc_id", "text", tmp.getAbsolutePath)
        val r = Bm25.searchPersistedIndex(s, tmp.getAbsolutePath,
            QueryTerms, k = 20, rationalIdf = true)
          .withColumnRenamed("id", "doc_id")
        // materialize before the temp dir is deleted
        import s.implicits._
        r.as[(Long, Long, Long)].collect().toSeq
          .toDF("doc_id", "bm25_fp", "n_terms")
      }
    },
    // RRF fusion of dense cosine top-50 and BM25 top-50 over the
    // embedded subset (docs that carry a vector: vec_id == doc_id)
    "hybrid_rrf" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val base = emb.join(docs, emb("vec_id") === docs("doc_id"))
        .select(docs("doc_id"), docs("text"), emb("embedding"))
      val q = VectorQueries.qvec(s, dir, 0)
      val vecTop = base
        .withColumn("cos_sim",
          cosSimF32(col("embedding"), typedLit(q)).cast("double"))
        .orderBy(col("cos_sim").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id").as("id"), col("cos_sim"))
      val vecRanked = Bm25.withRank(vecTop,
        Seq(col("cos_sim").desc, col("id").asc)).select("id", "rank")
      val bmRanked = Bm25.withRank(
        Bm25.topK(base, "doc_id", "text", QueryTerms, k = 50, rationalIdf = true),
        Seq(col("bm25_fp").desc, col("id").asc)).select("id", "rank")
      Bm25.rrfFuse(vecRanked, bmRanked, k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    // exact-phrase search (the positional surface BM25 can't express):
    // n-way positional join over term-filtered postings — composite
    // (id, pos) equi-keys, overlapping occurrences counted. Oracle is
    // FULL SEMANTICS from the raw text (list scan), no handoff, pure
    // integer counts.
    "phrase_search" -> { (s, dir) =>
      graft.operators.Positional.phraseSearch(Tables.documents(s, dir),
          "doc_id", "text", Seq("table", "hash"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // the SAME semantics answered from the PERSISTED positional index
    // (term-range-sharded postings, manifest-pruned reads — no text
    // scan): must hash-match the independent full-semantics oracle,
    // which also certifies the index content. 3-term phrase so two
    // join hops run against the pruned ranges.
    "phrase_search_indexed" -> { (s, dir) =>
      graft.operators.Positional.searchPersistedPhrase(s,
          persistedPositional(s, dir), Seq("slow", "hash", "batch"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // term-proximity search: pairs of (customer, join) within 3
    // tokens, pair count + closest distance per doc — the
    // doc-at-a-time positional intersection, id-equi join with the
    // band as join filter (per-doc cost tf_a * tf_b)
    "proximity_search" -> { (s, dir) =>
      graft.operators.Positional.proximitySearch(Tables.documents(s, dir),
          "doc_id", "text", "customer", "join", window = 3L)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Dirichlet query-likelihood top-15 (QL/Dirichlet, the second
    // classic probabilistic ranking next to BM25). Pure-integer score
    // sums over floor(ln·1e9) fixed-point values; ln() is not
    // bitwise-portable cross-engine, so Spark publishes the (v, ln_fp)
    // table over every ln argument and the oracle joins it under a
    // completeness guard instead of computing any ln itself. 'search'
    // is absent from the fixture corpus — the drop-unseen-terms rule
    // is genuinely exercised.
    "qld_topk" -> { (s, dir) =>
      val (res, lnT) = graft.operators.Qld.topK(Tables.documents(s, dir),
        "doc_id", "text", QldTerms, k = 15, mu = QldMu)
      if (!Handoff.benchMode) Handoff.publish(lnT, QldLnHandoff)
      res.withColumnRenamed("id", "doc_id")
    },
    // best-passage extraction (RAG snippet selection): per doc the
    // 16-token span with the most query-term hits (anchored at
    // matched positions — optimal windows always start at a hit, so
    // per-doc cost is tf^2, the proximity bound), top-10 docs by that
    // span. Integer counts + deterministic token slice; full raw-text
    // replay, no handoff.
    "best_passage" -> { (s, dir) =>
      graft.operators.Positional.bestPassage(Tables.documents(s, dir),
          "doc_id", "text", Seq("hash", "join", "vector"),
          window = 16L, k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    // fuzzy term search: edit-distance-1 query expansion over the
    // corpus vocabulary ('vecto' is a deliberate typo — it only ever
    // matches through the expansion), integer tf scoring. Both
    // engines ship classic unweighted levenshtein, so the whole
    // pipeline replays in SQL with no handoff.
    "fuzzy_term_search" -> { (s, dir) =>
      graft.operators.Fuzzy.termSearch(Tables.documents(s, dir),
          "doc_id", "text", Seq("vecto", "hash"), k = 15)
        .withColumnRenamed("id", "doc_id")
    },
    // the SAME semantics through the q-gram-indexed expansion plan —
    // the 100 TB path where the full-vocab levenshtein scan never
    // runs. Identical oracle by construction (plans differ, answers
    // must not): a hash match certifies the count-filter chain lost
    // no expansion.
    "fuzzy_term_search_indexed" -> { (s, dir) =>
      graft.operators.Fuzzy.termSearch(Tables.documents(s, dir),
          "doc_id", "text", Seq("vecto", "hash"), k = 15,
          qgramIndex = true)
        .withColumnRenamed("id", "doc_id")
    }
  )

  /** Build-once cache of the persisted BM25 index for a fixture dir
    * (the [[AnnQueries.persistedIvf]] pattern): fingerprint the corpus
    * file so a regenerated fixture gets a fresh index, serialize the
    * check-then-build JVM-wide, and let Bench pre-build in warmup so
    * the timed query measures the pruned reads only. */
  def persistedBm25(s: SparkSession, dir: String, nRanges: Int = 8): String =
    // the schema pin is the LAST artifact buildPersistedIndex writes,
    // so its _SUCCESS marks a complete index
    BuildOnce.cached(s"bm25-r$nRanges",
        new java.io.File(s"$dir/documents.parquet"))(
        p => s"$p/schema/_SUCCESS") { p =>
      graft.operators.Bm25.buildPersistedIndex(Tables.documents(s, dir),
        "doc_id", "text", nRanges, p)
    }

  /** Build-once cache of the persisted POSITIONAL index (same
    * fingerprint + lock discipline as [[persistedBm25]], distinct
    * suffix — Bench pre-builds in warmup so the gate times the pruned
    * range reads + positional joins, not the index write). */
  def persistedPositional(s: SparkSession, dir: String, nRanges: Int = 8): String =
    BuildOnce.cached(s"pos-r$nRanges",
        new java.io.File(s"$dir/documents.parquet"))(
        p => s"$p/schema/_SUCCESS") { p =>
      graft.operators.Positional.buildPersistedIndex(Tables.documents(s, dir),
        "doc_id", "text", nRanges, p)
    }

  /** Build-once cache of the bm25_append 90%-baseline index (docs with
    * doc_id % 10 != 0): same fingerprint + lock discipline as
    * [[persistedBm25]], distinct path suffix. Callers must COPY it
    * before appending — the append mutates the layout in place and a
    * second append to the same dir would double-insert
    * (Bm25.appendToPersistedIndex's documented ledger contract). */
  def baselineBm25(s: SparkSession, dir: String, nRanges: Int = 8): String =
    BuildOnce.cached(s"bm25-base90-r$nRanges",
        new java.io.File(s"$dir/documents.parquet"))(
        p => s"$p/schema/_SUCCESS") { p =>
      graft.operators.Bm25.buildPersistedIndex(
        Tables.documents(s, dir).where(col("doc_id") % 10 =!= 0),
        "doc_id", "text", nRanges, p)
    }

  /** Per-run fixture clone of a persisted-index layout: recreate the
    * directory tree and HARD-LINK every regular file (`cp -al`), not
    * copy it. Safe because every index mutation in this repo is
    * write-aside + rename (LayoutSwap.publish, Bm25.writeSwap): new
    * content lands in freshly created files, originals are only ever
    * renamed or unlinked — never opened for in-place write — so the
    * shared BuildOnce baseline cannot be corrupted through a link.
    * The maintenance-gate timed windows then hold the operator under
    * test instead of a driver-side byte copy of the whole index
    * (guide §1.4: fixture reset is not the measured work). Falls back
    * to a byte copy when linking is unsupported (cross-device). */
  private[graft] def copyTree(from: java.io.File, to: java.io.File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f =>
        copyTree(f, new java.io.File(to, f.getName))))
    } else
      try {
        java.nio.file.Files.createLink(to.toPath, from.toPath)
        // r17 (ADVICE): the link is only safe under the write-aside +
        // rename invariant — ENFORCE it instead of trusting it. Once a
        // file is shared through a link, drop its write bit (an inode
        // attribute, so both paths are covered): any future in-place
        // writer errors loudly instead of silently corrupting the
        // shared BuildOnce baseline. Renames and unlinks — the only
        // mutations the layout protocols perform — need directory
        // permissions, not file write permission, and are unaffected
        // (HybridSearchSpec pins all three maintenance protocols on
        // linked clones).
        from.setWritable(false, false)
      } catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        java.nio.file.Files.copy(from.toPath, to.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
  }

  /** Run `body` on a fresh temp dir named `prefix`…, deleting the dir
    * however `body` ends — so `body` must materialize any result that
    * reads from it. */
  private[graft] def withTempDir[T](prefix: String)(body: java.io.File => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(tmp) finally rmTree(tmp)
  }

  /** Delete `f` and everything under it; true when `f` is gone. */
  private[graft] def rmTree(f: java.io.File): Boolean = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete() || !f.exists()
  }

  /** Shared BM25 CTE text, parameterized on the corpus CTE name so the
    * standalone query and the hybrid fusion pin the SAME scoring. */
  private def bm25Sql(corpus: String, k: Int): String =
    s"""toks AS (
       |  SELECT doc_id,
       |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term,
       |         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS dl
       |  FROM $corpus
       |), post AS (
       |  SELECT doc_id, term, dl, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks WHERE term IN ('vector', 'hash', 'join')
       |  GROUP BY 1, 2, 3
       |), dft AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT)) AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM $corpus
       |), scored AS (
       |  SELECT p.doc_id,
       |         CAST(floor((CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5)
       |           * (CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
       |           / (CAST(p.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(p.dl AS DOUBLE) / s.avgdl)))
       |           * 1.0e9) AS BIGINT) AS score_fp
       |  FROM post p JOIN dft d USING (term) CROSS JOIN stats s
       |), btop AS (
       |  -- SUM(BIGINT) is HUGEINT in DuckDB; pin to BIGINT for dtype parity
       |  SELECT doc_id, CAST(SUM(score_fp) AS BIGINT) AS bm25_fp, CAST(COUNT(*) AS BIGINT) AS n_terms
       |  FROM scored GROUP BY 1
       |  ORDER BY bm25_fp DESC, doc_id LIMIT $k
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "bm25_topk" ->
      s"""WITH ${bm25Sql("documents", 20)}
         |SELECT doc_id, bm25_fp, n_terms FROM btop
         |ORDER BY bm25_fp DESC, doc_id""".stripMargin,
    // the full PRF loop replayed: pass-1 btop (k=10) is the feedback
    // set, expansion terms re-derived from the corpus token stream
    // (count desc, term asc, originals excluded), pass 2 re-scored
    // with the integer weights — no handoff anywhere
    "bm25_prf" ->
      s"""WITH ${bm25Sql("documents", 10)},
         |fb AS (SELECT doc_id FROM btop),
         |expt AS (
         |  SELECT t.term, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM toks t JOIN fb USING (doc_id)
         |  WHERE t.term NOT IN ('vector', 'hash', 'join')
         |  GROUP BY 1
         |),
         |expterms AS (SELECT term FROM expt ORDER BY cnt DESC, term LIMIT 8),
         |qterms AS (
         |  SELECT term, CAST(2 AS BIGINT) AS w
         |  FROM (VALUES ('vector'), ('hash'), ('join')) v(term)
         |  UNION ALL
         |  SELECT term, CAST(1 AS BIGINT) FROM expterms
         |),
         |post2 AS (
         |  SELECT t.doc_id, t.term, t.dl, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks t JOIN qterms q USING (term)
         |  GROUP BY 1, 2, 3
         |),
         |dft2 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post2 GROUP BY 1),
         |scored2 AS (
         |  SELECT p.doc_id,
         |         q.w * CAST(floor((CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5)
         |           * (CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
         |           / (CAST(p.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(p.dl AS DOUBLE) / s.avgdl)))
         |           * 1.0e9) AS BIGINT) AS score_fp
         |  FROM post2 p JOIN dft2 d USING (term) JOIN qterms q USING (term)
         |  CROSS JOIN stats s
         |)
         |SELECT doc_id, CAST(SUM(score_fp) AS BIGINT) AS bm25_fp,
         |       CAST(COUNT(*) AS BIGINT) AS n_terms
         |FROM scored2 GROUP BY 1
         |ORDER BY bm25_fp DESC, doc_id LIMIT 20""".stripMargin,
    // index-backed search must equal the on-the-fly computation
    "bm25_indexed" ->
      s"""WITH ${bm25Sql("documents", 20)}
         |SELECT doc_id, bm25_fp, n_terms FROM btop
         |ORDER BY bm25_fp DESC, doc_id""".stripMargin,
    // append ≡ rebuild: the incrementally-maintained index must answer
    // exactly like the on-the-fly computation over the FULL corpus
    "bm25_append" ->
      s"""WITH ${bm25Sql("documents", 20)}
         |SELECT doc_id, bm25_fp, n_terms FROM btop
         |ORDER BY bm25_fp DESC, doc_id""".stripMargin,
    // delete ≡ rebuild: the delete-maintained index must answer
    // exactly like the on-the-fly computation over the SURVIVORS
    "bm25_delete" ->
      s"""WITH surv AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
         |${bm25Sql("surv", 20)}
         |SELECT doc_id, bm25_fp, n_terms FROM btop
         |ORDER BY bm25_fp DESC, doc_id""".stripMargin,
    "hybrid_rrf" ->
      s"""WITH base AS (
         |  SELECT d.doc_id, d.text, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), ${bm25Sql("base", 50)}, qv AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
         |), vtop AS (
         |  SELECT doc_id, CAST(list_cosine_similarity(embedding, qe) AS DOUBLE) AS cos_sim
         |  FROM base CROSS JOIN qv
         |  ORDER BY cos_sim DESC, doc_id LIMIT 50
         |), vrank AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank FROM vtop
         |), brank AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25_fp DESC, doc_id) AS rank FROM btop
         |), fused AS (
         |  SELECT COALESCE(v.doc_id, b.doc_id) AS doc_id,
         |         COALESCE(1000000000 // (60 + v.rank), 0)
         |           + COALESCE(1000000000 // (60 + b.rank), 0) AS rrf_fp
         |  FROM vrank v FULL OUTER JOIN brank b ON v.doc_id = b.doc_id
         |)
         |SELECT doc_id, rrf_fp FROM fused
         |ORDER BY rrf_fp DESC, doc_id LIMIT 10""".stripMargin,
    // full-semantics phrase scan: count positions where the 2-gram
    // matches, keep docs with >= 1 occurrence (overlaps count)
    "phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id,
        |         len(list_filter(range(1, len(w)), i -> w[i] = 'table' AND w[i+1] = 'hash')) AS n
        |  FROM t
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences
        |FROM occ WHERE n >= 1 ORDER BY doc_id""".stripMargin,
    // same full-semantics scan for the 3-gram — deliberately identical
    // machinery to the on-the-fly gate's oracle: a hash match on the
    // INDEXED path certifies the persisted postings too
    "phrase_search_indexed" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id,
        |         len(list_filter(range(1, len(w) - 1),
        |             i -> w[i] = 'slow' AND w[i+1] = 'hash' AND w[i+2] = 'batch')) AS n
        |  FROM t
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_occurrences
        |FROM occ WHERE n >= 1 ORDER BY doc_id""".stripMargin,
    // proximity pairs from position lists: the banded position join,
    // integer pair counts and min token distance
    "proximity_search" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM documents
        |), ga AS (
        |  SELECT doc_id, unnest(list_filter(range(1, len(w) + 1), i -> w[i] = 'customer')) AS pa
        |  FROM t
        |), gb AS (
        |  SELECT doc_id, unnest(list_filter(range(1, len(w) + 1), i -> w[i] = 'join')) AS pb
        |  FROM t
        |), pr AS (
        |  SELECT ga.doc_id, abs(pa - pb) AS d
        |  FROM ga JOIN gb ON ga.doc_id = gb.doc_id
        |  WHERE abs(pa - pb) <= 3
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(min(d) AS BIGINT) AS min_dist
        |FROM pr GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Dirichlet QL, dense form (every doc × kept term; the Spark side
    // runs the sparse rewrite — identical by exact integer
    // cancellation). No ln is computed here: ln_fp values come from
    // the handoff, and the eok guard NULLs every score if any needed
    // argument is missing from it.
    "qld_topk" ->
      s"""WITH lt AS (SELECT v, ln_fp FROM ${rp(QldLnHandoff)}),
         |tok2 AS (
         |  SELECT doc_id, t AS term FROM (
         |    SELECT doc_id,
         |           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
         |    FROM documents) WHERE t <> ''
         |), dl AS (
         |  SELECT d.doc_id, CAST(coalesce(c.dl, 0) AS BIGINT) AS dl
         |  FROM documents d LEFT JOIN (
         |    SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1) c USING (doc_id)
         |), n AS (SELECT CAST(sum(dl) AS BIGINT) AS n FROM dl),
         |q(term) AS (VALUES ${QldTerms.map(t => s"('$t')").mkString(",")}),
         |kept AS (
         |  SELECT t.term, CAST(count(*) AS BIGINT) AS cf
         |  FROM tok2 t JOIN q USING (term) GROUP BY 1
         |), tf AS (
         |  SELECT t.doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok2 t JOIN kept USING (term) GROUP BY 1, 2
         |), pairs AS (
         |  SELECT dl.doc_id, k.term,
         |         coalesce(tf.tf, 0) * n.n + $QldMu * k.cf AS av,
         |         n.n * (dl.dl + $QldMu) AS cv,
         |         coalesce(tf.tf, 0) AS tf
         |  FROM dl CROSS JOIN kept k CROSS JOIN n
         |  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = k.term
         |), needed AS (
         |  SELECT DISTINCT av AS v FROM pairs
         |  UNION SELECT DISTINCT cv AS v FROM pairs
         |), ok AS (
         |  SELECT CASE WHEN (SELECT count(*) FROM needed) =
         |              (SELECT count(*) FROM needed JOIN lt USING (v))
         |         THEN 1 ELSE NULL END AS ok
         |), sc AS (
         |  SELECT p.doc_id,
         |         CAST(sum(la.ln_fp - lc.ln_fp) AS BIGINT)
         |           * (SELECT ok FROM ok) AS qld_fp,
         |         CAST(sum(CASE WHEN p.tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_terms
         |  FROM pairs p
         |  JOIN lt la ON la.v = p.av
         |  JOIN lt lc ON lc.v = p.cv
         |  GROUP BY 1
         |)
         |SELECT doc_id, qld_fp, n_terms FROM sc
         |ORDER BY qld_fp DESC, doc_id LIMIT 15""".stripMargin,
    "best_passage" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x <> '') AS w
        |  FROM documents
        |), kt AS (
        |  SELECT t.doc_id, CAST(u.i AS BIGINT) AS pos
        |  FROM t, unnest(range(1, len(t.w) + 1)) AS u(i)
        |  WHERE t.w[u.i] IN ('hash', 'join', 'vector')
        |), hits AS (
        |  SELECT a.doc_id, a.pos AS s, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM kt a JOIN kt b
        |    ON a.doc_id = b.doc_id AND b.pos >= a.pos AND b.pos < a.pos + 16
        |  GROUP BY 1, 2
        |), best AS (
        |  SELECT doc_id, s, n_hits,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY n_hits DESC, s) AS rn
        |  FROM hits
        |)
        |SELECT b.doc_id, b.n_hits, b.s - 1 AS win_start,
        |       array_to_string(t.w[b.s : b.s + 15], ' ') AS passage
        |FROM best b JOIN t USING (doc_id)
        |WHERE b.rn = 1
        |ORDER BY b.n_hits DESC, b.doc_id LIMIT 10""".stripMargin,
    "fuzzy_term_search" -> FuzzyScanOracle,
    // indexed plan, identical answer: literally the same oracle
    // (shared reference - the batch_topk_partitioned aliasing rule)
    "fuzzy_term_search_indexed" -> FuzzyScanOracle
  )

  /** The one fuzzy oracle BOTH plan variants gate against (plans
    * differ, answers must not). Lazy: referenced by the `oracle` val
    * declared above it — a strict val here would still be null when
    * the map initializes. */
  private lazy val FuzzyScanOracle: String =
    """WITH tok2 AS (
      |  SELECT doc_id, t AS term FROM (
      |    SELECT doc_id,
      |           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
      |    FROM documents) WHERE t <> ''
      |), tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok2 GROUP BY 1, 2
      |), vocab AS (SELECT DISTINCT term FROM tok2),
      |q(qterm) AS (VALUES ('vecto'), ('hash')),
      |exp AS (
      |  SELECT v.term, q.qterm FROM vocab v CROSS JOIN q
      |  WHERE levenshtein(v.term, q.qterm) <= 1
      |), sc AS (
      |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS score,
      |         CAST(count(DISTINCT e.qterm) AS BIGINT) AS n_terms
      |  FROM tf JOIN exp e USING (term) GROUP BY 1
      |)
      |SELECT doc_id, score, n_terms FROM sc
      |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin
}
