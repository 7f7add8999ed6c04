package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session profile: tests, Verify, Bench, Probe and the
  * fixture generators all build on it, so the oracle gates check the
  * plans Bench times. Callers add only deployment settings (app name,
  * warehouse dir) and call `getOrCreate`.
  *
  * The AQE settings are Bench's measured profile (A/B runs in plans/r17
  * and SCALEBENCH r15). With `parallelismFirst=false` AQE sizes reduce
  * partitions by bytes (advisory 256m): tiny shuffles coalesce to one
  * task, large ones get bytes/256m tasks. With the Spark default (true)
  * it refuses to coalesce below the core count, so at the gate SF every
  * exchange ran `cpus` reduce tasks over kilobytes (the r16 suite ran
  * faster on 8 cores than on 32). `spark.sql.shuffle.partitions` stays
  * `cpus` as the pre-AQE upper bound. The floor `minPartitionNum =
  * cpus/4` (it overrides the parallelismFirst fallback when set) keeps
  * CPU-dense but byte-light stages parallel: the array-heavy dedup cores
  * lose partial aggregation if they declare width via repartition
  * (dedup_jaccard 4.9 → 2.6 s at floor 8, the 200-query window
  * unchanged). At real volumes bytes/advisory ≫ floor.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, the core-count contract of every entry point. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def builder(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        (cpus / 4).max(1).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    // SPARK_GRAFT_SHUFFLE_CODEC=zstd halves shuffle/spill file size vs
    // the lz4 default: at derived-100× the output-quadratic pair
    // queries are DISK-bound on a single box — the global presentation
    // sort of a 7.6B-row result retains its whole compressed run on
    // local scratch
    sys.env.get("SPARK_GRAFT_SHUFFLE_CODEC")
      .fold(b)(c => b.config("spark.io.compression.codec", c))
  }
}
