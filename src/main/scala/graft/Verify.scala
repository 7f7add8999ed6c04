package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/verify_local.py). Runs
  * on the [[GraftSession]] profile, so it checks the plans Bench times. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder(GraftSession.envCpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_QUERIES=a,b,c dumps a subset (dev loop for a
    // targeted gate re-verify — tools/verify_local.py compares only
    // the dirs present; the driver never sets this)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[verify] WARNING: unknown queries ignored: $unknown")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale result from a previous run: a leftover dir
        // would let the oracle compare silently pass on old output.
        // Recursive — a failed write can leave _temporary/ subtrees that
        // a flat listFiles delete would silently skip.
        val stale = new java.io.File(s"$outDir/$name")
        if (!graft.queries.HybridQueries.rmTree(stale))
          System.err.println(s"[verify] WARNING: could not delete stale $stale")
      }
      finally graft.operators.Dedup.releasePending()
    }
    writeOracleJson(outDir)
    spark.stop()
  }

  /** Dump SparkEntry.oracleSql as JSON (shared with dev entry points so
    * the escaping can never fork). Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def writeOracleJson(outDir: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
