package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dirichlet-smoothed query-likelihood retrieval (QL/Dirichlet, Zhai &
  * Lafferty SIGIR'01) — the second classic probabilistic ranking next
  * to [[Bm25]], and the one the LM-curation stack shares its math
  * with: rank documents by Σ_t ln p(t|θ_d) with
  * p(t|θ_d) = (tf_td + μ·p(t|C)) / (dl_d + μ).
  *
  * Engine-portable arithmetic: with integer μ, corpus size N, corpus
  * frequency cf_t and doc length dl_d, every per-(term,doc) factor is
  * the ratio of two LONGS — (tf·N + μ·cf) over (N·(dl+μ)) — so the
  * score is an exact integer sum of fixed-point logs:
  * `qld_fp(d) = Σ_t (lnfp(tf·N + μ·cf_t) − lnfp(N·(dl+μ)))`,
  * `lnfp(v) = floor(ln(v)·1e9)`. ln() itself is NOT bitwise-portable
  * across engines, so the gate's oracle never computes one: Spark
  * publishes the (v, ln_fp) table over every ln argument ([[lnTable]])
  * and DuckDB joins it with a completeness guard (the t_char_entropy
  * handoff recipe).
  *
  * Sparse evaluation (what runs at scale): only MATCHED postings carry
  * data — score(d) = Σ_t lnfp(μ·cf_t) − |q|·lnfp(N·(dl+μ))
  * + Σ_{matched} (lnfp(tf·N + μ·cf_t) − lnfp(μ·cf_t)). The identity to
  * the dense form is exact in integers (term-by-term cancellation).
  * The corpus-sized frames are the postings (query terms only — the
  * [[Bm25.index]] in-array filter) and the narrow (id, dl) pass; term
  * stats are a ≤|q|-row broadcast and the result is a TakeOrdered.
  * Every doc gets a score (smoothing ranks even no-match docs, the
  * textbook semantics); query terms absent from the corpus have
  * p(t|C) = 0 — their factor is 0 for every doc alike — and are
  * dropped, the standard QL convention; a query with NO
  * corpus-present term ranks nothing (empty result, the oracle's
  * empty dense pair set).
  */
object Qld {

  /** Fixed-point scale for ln values (the CorpusModels.LpScale rule). */
  val LnScale = 1.0e9

  /** floor(ln(v)·1e9) via StrictMath — ln intrinsics are not
    * bitwise-portable across JVMs (the Hnsw/Unigram rule), and these
    * values are the published handoff: the same corpus must mint the
    * same table on any box. A UDF, not codegen'd `log` — the call
    * sits on the narrow postings/dl frames, far off the hot path. */
  private val lnFpUdf = udf { (v: Long) =>
    StrictMath.floor(StrictMath.log(v.toDouble) * LnScale).toLong
  }
  private def lnFp(c: Column): Column = lnFpUdf(c.cast("long"))

  /** (result, lnTable): the ranked top-k and the (v, ln_fp) handoff
    * covering every ln argument either engine needs.
    *
    * result: (id, qld_fp, n_terms) — score desc, id asc; n_terms =
    * distinct kept query terms the doc actually contains. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k: Int,
           mu: Long = 2000L): (DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    require(mu >= 1L, s"mu must be >= 1, got $mu")
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")

    // (id, dl) over ALL docs: a null/empty text has dl = 0 (DuckDB's
    // unnest-of-NULL emits no token rows; the oracle left-join
    // coalesces to the same 0). Both dl and the postings feed several
    // branches (score + every lnTable union leg): persist once — the
    // tokenize scan must not re-run per branch.
    val dl = docs.select(col(idCol).as("id"),
      coalesce(size(Bm25.terms(col(textCol))), lit(0)).cast("long").as("dl"))
      .persist()
    Dedup.releaseAfterUse(dl)
    val n1 = dl.agg(sum(col("dl")).as("n")) // 1 row

    // matched postings (id, term, tf) and per-term corpus stats; a
    // query term with no posting anywhere has cf = 0 and simply never
    // appears — the drop-unseen-terms rule
    val postings = Bm25.index(docs, idCol, textCol, queryTerms.distinct)
      .select(col("id"), col("term"), col("tf").cast("long").as("tf"))
      .persist()
    Dedup.releaseAfterUse(postings)
    val kept = postings.groupBy(col("term"))
      .agg(sum(col("tf")).as("cf"))
      .crossJoin(broadcast(n1))
      .withColumn("b_v", lit(mu) * col("cf"))
      .withColumn("b_fp", lnFp(col("b_v")))

    // scalar per-query constants: Σ_t lnfp(μ·cf_t) and |kept|
    val consts = kept.agg(sum(col("b_fp")).as("b_sum"),
      count(lit(1)).as("qlen"))

    // matched contribution per doc: Σ (lnfp(tf·N + μ·cf) − lnfp(μ·cf))
    val matched = postings
      .join(broadcast(kept.select(col("term"), col("cf"), col("b_fp"), col("n"))),
        Seq("term"))
      .withColumn("a_v", col("tf") * col("n") + lit(mu) * col("cf"))
      .withColumn("contrib", lnFp(col("a_v")) - col("b_fp"))
      .groupBy(col("id"))
      .agg(sum(col("contrib")).as("m_sum"),
        count(lit(1)).as("n_terms"))

    val scored = dl
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(consts))
      // a query with NO corpus-present term ranks nothing (the oracle's
      // dense pair set is empty → zero rows) — without this, the empty
      // kept aggregate's NULL b_sum would poison every score
      .where(col("qlen") > lit(0L))
      .withColumn("c_v", col("n") * (col("dl") + lit(mu)))
      .join(matched, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("b_sum"), lit(0L)) + coalesce(col("m_sum"), lit(0L)) -
          col("qlen") * lnFp(col("c_v"))).as("qld_fp"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"))
      .orderBy(col("qld_fp").desc, col("id"))
      .limit(k)

    // the ln handoff: every distinct ln argument either engine touches
    val matchedVals = postings
      .join(broadcast(kept.select(col("term"), col("cf"), col("n"))), Seq("term"))
      .select((col("tf") * col("n") + lit(mu) * col("cf")).as("v"))
    val lnTable = matchedVals
      .union(kept.select(col("b_v").as("v")))
      .union(dl.crossJoin(broadcast(n1))
        .select((col("n") * (col("dl") + lit(mu))).as("v")))
      .distinct()
      .withColumn("ln_fp", lnFp(col("v")))
      .orderBy(col("v"))

    (scored, lnTable)
  }
}
