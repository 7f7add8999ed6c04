package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch workloads: passes over a fixed list of
  * `graft.SparkEntry.queries`, each query materialized through the
  * `noop` sink exactly as `graft.Bench` times it. */
object Batch {
  val Curate: Seq[String] = Seq("dedup_editdist", "dedup_jaccard",
    "dedup_minhash_lsh", "dedup_apply_lsh_distinct", "dedup_components",
    "semdedup_keep", "dedup_lines", "fuzzy_term_search")

  val IndexReads: Seq[String] = Seq("ann_ivf", "ann_hnsw", "bm25_indexed",
    "phrase_search_indexed", "hybrid_rrf", "a2_knn_score")
  val IndexWrites: Seq[String] = Seq("bm25_append", "bm25_delete",
    "ann_ivf_append", "ann_ivf_delete", "ann_hnsw_append", "ann_hnsw_compact",
    "b11_dual_write", "d1_delete_cascade", "export_pipeline")
  val IndexRw: Seq[String] = IndexReads ++ IndexWrites

  def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  /** Query order of every pass of a run: the list shuffled by the seed. */
  def order(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  /** Untimed result fingerprint: row count plus two order-insensitive
    * sums over a 64-bit hash of every row. */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftright(col("h"), 32)))
      .head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }

  /** Materializes a query the way `graft.Bench` times it. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drops caches graft's operators keep for a plan that was built but
    * not run (`graft.operators.Dedup.releasePending`, which
    * `graft.Bench` calls between runs). Reached reflectively because it
    * is package-private to graft. */
  def releasePending(): Unit = {
    val module = Class.forName("graft.operators.Dedup$")
    val dedup = module.getField("MODULE$").get(null)
    module.getMethod("releasePending").invoke(dedup)
  }
}
