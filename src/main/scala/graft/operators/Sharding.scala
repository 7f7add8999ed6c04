package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic shard export for training-data pipelines (north-star
  * scope): the final step of a curation run is materializing the
  * surviving corpus as N stable shards that downstream trainers read
  * independently.
  *
  * Shard assignment is content-addressed, not engine-addressed:
  * md5 of the key's decimal/string form → top 64 bits → mod N. That
  * makes the mapping reproducible across engines and runs (no RNG, no
  * dependence on Spark's internal hash or partition count) — the same
  * doc lands in the same shard on a 1-core laptop and a 1000-executor
  * cluster, so incremental re-exports and cross-system audits diff
  * cleanly. md5 here is a stable bucketing hash, not a security
  * boundary.
  *
  * 100 TB: assignment is a narrow codegen'd projection (no shuffle);
  * the export itself shuffles once on the shard id, and per-shard
  * output arrives as one directory per shard via dynamic partition
  * write. Shard balance is a hash property: E[shard size] = corpus/N
  * with ~√ deviation, verified by [[shardStats]] rather than assumed.
  */
object Sharding {

  /** Shard id in [0, nShards): top 64 md5 bits of the key's string
    * form, mod nShards. DuckDB twin (same value, HUGEINT-free):
    * `CAST(CAST('0x' || substr(md5(CAST(k AS VARCHAR)),1,16) AS UBIGINT)
    *  % n AS BIGINT)`. Spark's conv() parses the same 16 hex chars as
    * an unsigned 64-bit decimal string; DECIMAL(20,0) holds it exactly
    * (2^64-1 has 20 digits), so the mod matches bit-for-bit. */
  def shardId(key: Column, nShards: Int): Column = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    pmod(conv(substring(md5(key.cast("string").cast("binary")), 1, 16), 16, 10)
      .cast("decimal(20,0)"), lit(nShards)).cast("long")
  }

  /** Attach the deterministic shard id as `shard`. */
  def assignShards(docs: DataFrame, keyCol: String, nShards: Int): DataFrame =
    docs.withColumn("shard", shardId(col(keyCol), nShards))

  /** Per-shard balance report: doc/token/byte totals per shard. Token
    * semantics match TextAnalysis (whitespace split, empties dropped);
    * byte size is UTF-8. One map-side-combined aggregation on the shard
    * id — at 100 TB this is the cheap sanity pass you run BEFORE the
    * export shuffle, not after the files land. */
  def shardStats(docs: DataFrame, keyCol: String, textCol: String,
                 nShards: Int): DataFrame =
    assignShards(docs, keyCol, nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(array_remove(split(col(textCol), " "), ""))
          .cast("long")).as("n_tokens"),
        sum(octet_length(col(textCol)).cast("long")).as("n_bytes"))

  /** Materialize the corpus as one directory per shard
    * (`.../shard=<id>/`). Repartitioning ON the shard column first
    * means each output directory is written by the tasks that own that
    * shard — without it, every task holding any shard's rows opens a
    * file in every directory (N_tasks × N_shards small files). */
  def exportShards(docs: DataFrame, keyCol: String, nShards: Int,
                   path: String): Unit =
    assignShards(docs, keyCol, nShards)
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Incremental re-export: rewrite ONLY the shard directories whose
    * membership changed between two corpus snapshots — at 100 TB the
    * nightly delta touches a handful of shards and re-exporting all N
    * is almost entirely wasted IO. The change test fingerprints ALL
    * non-key columns (a doc whose lang flips but whose text is
    * unchanged must still rewrite its shard, or incremental and full
    * exports diverge), through the same fingerprint-only diff shape as
    * [[Maintenance.corpusDiff]] — payloads never shuffle. Shard ids
    * are content-addressed and engine-stable, so the changed-shard set
    * is exact. The write ships only the new snapshot's rows for those
    * shards via dynamic partition overwrite — untouched shard
    * directories are left byte-identical (spec-pinned), and the result
    * equals a full [[exportShards]] of the new snapshot. Null-key rows
    * are supported: they live in the Hive default partition and a
    * null-key change rewrites exactly that directory.
    *
    * Returns the rewritten non-null shard ids (≤ nShards, collected —
    * this IS the audit record an ops pipeline logs). */
  def incrementalExportShards(oldDocs: DataFrame, newDocs: DataFrame,
                              keyCol: String, nShards: Int,
                              path: String): Seq[Long] = {
    require(oldDocs.columns.sorted.sameElements(newDocs.columns.sorted),
      s"snapshot schemas differ: ${oldDocs.columns.mkString(",")} vs " +
        newDocs.columns.mkString(","))
    // one fingerprint over every non-key column, in a FIXED (sorted)
    // column order so both snapshots hash identically. The diff joins
    // on a null-safe SURROGATE key: an equi-join never matches null
    // keys, so the (at most one, per the unique-id contract) null-key
    // row would read as removed+added on EVERY run and churn the
    // default partition nightly even when untouched.
    val payloadCols = oldDocs.columns.filterNot(_ == keyCol).sorted
    def payloadFp = md5(to_json(struct(payloadCols.map(col): _*))
      .cast("binary"))
    def fingerprinted(df: DataFrame, fpName: String): DataFrame = {
      val nonNull = df.filter(col(keyCol).isNotNull).select(
        concat(lit("k:"), col(keyCol).cast("string")).as("__k"),
        shardId(col(keyCol), nShards).as("shard"), payloadFp.as(fpName))
      // ALL null-key rows collapse to one SET-SIGNATURE row: with no
      // identity to pair on, they can only be compared as a multiset —
      // (count : xor of payload fingerprints), order-independent and
      // ONE row however many null keys a dirty snapshot carries (a
      // shared per-row surrogate would cross-join m×n through the
      // full-outer and flag churn on every no-op run). The xor screen
      // shares CC's negligible-collision caveat; a collision means one
      // skipped rewrite, never corruption.
      val nullSig = df.filter(col(keyCol).isNull)
        .select(conv(substring(payloadFp, 1, 15), 16, 10)
          .cast("long").as("__pfp"))
        .agg(concat_ws(":", count(lit(1)).cast("string"),
          coalesce(expr("bit_xor(__pfp)"), lit(0L)).cast("string"))
          .as(fpName))
        .select(lit("__graft_null_key__").as("__k"),
          lit(null).cast("long").as("shard"), col(fpName))
      nonNull.unionByName(nullSig)
    }
    val changedRows = fingerprinted(oldDocs, "__ofp")
      .withColumnRenamed("shard", "__oshard")
      .join(fingerprinted(newDocs, "__nfp").withColumnRenamed("shard", "__nshard"),
        Seq("__k"), "full_outer")
      .filter(!(col("__ofp") <=> col("__nfp")))
      // an added doc has no old-side shard and vice versa
      .select(coalesce(col("__oshard"), col("__nshard")).as("shard"))
      .distinct()
      .collect()
    // a null key hashes to a null shard — it addresses the Hive
    // default partition, not a numbered directory
    val nullChanged = changedRows.exists(_.isNullAt(0))
    val changedShards =
      changedRows.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted.toSeq
    if (changedShards.nonEmpty || nullChanged) {
      val shardFilter =
        if (nullChanged && changedShards.nonEmpty)
          col("shard").isin(changedShards: _*) || col("shard").isNull
        else if (nullChanged) col("shard").isNull
        else col("shard").isin(changedShards: _*)
      val replacement = assignShards(newDocs, keyCol, nShards)
        .filter(shardFilter)
        .persist() // consumed twice: the write and the populated-set scan
      try {
        replacement
          .repartition(math.max(1, changedShards.size + 1), col("shard"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard").parquet(path)
        // dynamic overwrite only replaces partitions PRESENT in the
        // written rows — a shard whose every doc was removed writes
        // nothing and would keep its stale directory; delete those
        val populatedRows = replacement.select(col("shard")).distinct().collect()
        val populated =
          populatedRows.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
        val nullPopulated = populatedRows.exists(_.isNullAt(0))
        val fsPath = new org.apache.hadoop.fs.Path(path)
        val fs = fsPath.getFileSystem(
          oldDocs.sparkSession.sparkContext.hadoopConfiguration)
        (changedShards.toSet -- populated).foreach { s =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/shard=$s"), true)
        }
        if (nullChanged && !nullPopulated)
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$path/shard=__HIVE_DEFAULT_PARTITION__"), true)
      } finally replacement.unpersist()
    }
    changedShards
  }

  /** Range-sorted export with a zone-map manifest — the layout for
    * corpora queried by range (time-series events, id scans): rows are
    * range-partitioned and sorted on `sortCol`, written as one file set
    * per range, and the returned manifest holds each range's (min, max,
    * rows). A reader pruning on `sortCol` consults the manifest (or the
    * identical parquet row-group stats the sort produces) and touches
    * only overlapping ranges — the same skip-index idea the zone-map /
    * min-max-pruning literature describes, expressed as plain Spark.
    *
    * One range-exchange + in-partition sort for the write; the manifest
    * is then computed from the WRITTEN files — a second, column-pruned
    * scan of (range_id, sortCol) only, cheap relative to the write and
    * guaranteed to describe exactly what landed on disk. Range
    * boundaries come from Spark's sampling range partitioner — the
    * LAYOUT may vary run to run, but the manifest invariants
    * (disjoint, covering, sorted) always hold and are spec-gated.
    * `thenBy` orders the rows that share a `sortCol` value (it changes
    * neither the ranges nor the manifest). */
  def exportSorted(docs: DataFrame, sortCol: String, nRanges: Int,
                   path: String, thenBy: Seq[String] = Nil): DataFrame = {
    val spark = docs.sparkSession
    val ranged = docs.repartitionByRange(nRanges, col(sortCol))
      .withColumn("range_id", spark_partition_id())
      // sort key includes range_id (constant per partition, so the row
      // order is the same) — the dynamic-partition writer requires an
      // ordering on the partition column and would otherwise insert its
      // OWN sort on range_id alone, whose spill-merge may reorder the
      // sortCol-sorted rows
      .sortWithinPartitions((col("range_id") +: (sortCol +: thenBy).map(col)): _*)
    ranged.write.mode("overwrite").partitionBy("range_id").parquet(path)
    // read back with the explicit schema: empty input writes no parquet
    // files and schema inference would throw instead of returning the
    // correct empty manifest
    spark.read.schema(ranged.schema).parquet(path)
      .groupBy(col("range_id"))
      .agg(min(col(sortCol)).as("min_key"), max(col(sortCol)).as("max_key"),
        count(lit(1)).as("n_rows"))
  }

  /** Linear quantization of `v` into [0, 2^bits): pure integer math so
    * any engine draws identical bucket boundaries; values outside
    * [lo, hi] clamp to the edge buckets. The clamp happens BEFORE the
    * multiply — clamping the product instead would let a far-out value
    * (an epoch-nanos outlier, a Long.MaxValue sentinel) overflow
    * `(v - lo) * 2^bits` first, which under ANSI mode kills the whole
    * job and without it silently wraps to the WRONG edge. After the
    * clamp the span guard in [[zOrderKey]] makes overflow impossible. */
  private[graft] def quantize(v: Column, lo: Long, hi: Long, bits: Int): Column = {
    val nb = 1L << bits
    val clamped = greatest(lit(lo), least(lit(hi), v.cast("long")))
    graft.functions.IntMath.integralDivide(
      (clamped - lit(lo)) * lit(nb), lit(hi - lo + 1))
  }

  /** Z-order (Morton) key over two dimensions: each value quantized to
    * `bits` buckets, then bit-interleaved (x in even positions, y in
    * odd). Sorting by this ONE key gives locality in BOTH dimensions —
    * the classic multi-dimensional clustering trick (Morton '66; the
    * same layout Delta's OPTIMIZE ZORDER BY produces) — so per-file
    * zone maps stay tight on x AND y and a 2-D box query can prune on
    * either. Bounds are explicit (not data-sampled) so the key is a
    * pure deterministic projection, reproducible across engines.
    * `bits` ≤ 31 per dimension keeps the interleaved key in a long. */
  def zOrderKey(x: Column, y: Column, xLo: Long, xHi: Long,
                yLo: Long, yHi: Long, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    require(xHi >= xLo && yHi >= yLo, "empty quantization range")
    require((xHi - xLo) <= (Long.MaxValue >> bits) &&
      (yHi - yLo) <= (Long.MaxValue >> bits),
      s"dimension span too wide for $bits-bit quantization without overflow")
    val xb = quantize(x, xLo, xHi, bits)
    val yb = quantize(y, yLo, yHi, bits)
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(xb, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(yb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Z-ordered export with 2-D zone maps: rows are range-partitioned
    * and sorted on the interleaved [[zOrderKey]], written one file set
    * per range; the manifest carries each range's (min,max) of BOTH
    * dimensions plus row count. Because Z-order clusters both
    * dimensions, each range's x-interval AND y-interval are tight —
    * [[readBox]] then prunes on both, where a 1-D [[exportSorted]]
    * layout can only ever prune its sort column. Same write shape as
    * exportSorted: one range exchange + in-partition sort, manifest
    * computed from the written files. */
  def exportZOrder(docs: DataFrame, xCol: String, yCol: String,
                   xLo: Long, xHi: Long, yLo: Long, yHi: Long,
                   nRanges: Int, path: String, bits: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    val keyed = docs.withColumn("__z",
        zOrderKey(col(xCol), col(yCol), xLo, xHi, yLo, yHi, bits))
      .repartitionByRange(nRanges, col("__z"))
      .withColumn("range_id", spark_partition_id())
      .sortWithinPartitions(col("range_id"), col("__z"))
      // the Z-key is POSITIONAL once rows are laid out — persisting it
      // would leak an undocumented synthetic column into every readBox
      // result (and pay 8 bytes/row forever); the projection after the
      // sort preserves the row order the writer sees
      .drop("__z")
    keyed.write.mode("overwrite").partitionBy("range_id").parquet(path)
    spark.read.schema(keyed.schema).parquet(path)
      .groupBy(col("range_id"))
      .agg(min(col(xCol)).as("min_x"), max(col(xCol)).as("max_x"),
        min(col(yCol)).as("min_y"), max(col(yCol)).as("max_y"),
        count(lit(1)).as("n_rows"))
  }

  /** 2-D box read over an [[exportZOrder]] layout: keep only the
    * `range_id` directories whose x-zone AND y-zone overlap the box,
    * then filter rows exactly. Pruning is at path construction, like
    * [[readRange]] — `inputFiles` proves the skipped ranges are never
    * listed. */
  def readBox(manifest: DataFrame, path: String, xCol: String, yCol: String,
              xLoQ: Long, xHiQ: Long, yLoQ: Long, yHiQ: Long): DataFrame = {
    val spark = manifest.sparkSession
    val overlapping = manifest
      .filter(col("max_x") >= lit(xLoQ) && col("min_x") <= lit(xHiQ) &&
        col("max_y") >= lit(yLoQ) && col("min_y") <= lit(yHiQ))
      .select(col("range_id").cast("long")).collect().map(_.getLong(0)).sorted
    val base = path.stripSuffix("/")
    val boxFilter = col(xCol) >= lit(xLoQ) && col(xCol) <= lit(xHiQ) &&
      col(yCol) >= lit(yLoQ) && col(yCol) <= lit(yHiQ)
    if (overlapping.isEmpty)
      spark.read.schema(spark.read.parquet(path).schema).parquet(path)
        .filter(lit(false))
    else
      spark.read.option("basePath", path)
        .parquet(overlapping.map(id => s"$base/range_id=$id"): _*)
        .filter(boxFilter)
  }

  /** Manifest-driven range read over an [[exportSorted]] layout: prune
    * to the `range_id` directories whose [min_key, max_key] overlaps
    * [lo, hi], then filter rows. Pruning happens at PATH construction —
    * only the overlapping `range_id=<id>` directories are ever listed,
    * so at 100 TB a point/range lookup touches a handful of files no
    * matter how many ranges the export produced (`df.inputFiles` proves
    * it, spec-gated). The manifest is nRanges rows — collecting it
    * driver-side is the zone-map read, not a data scan.
    *
    * An empty overlap returns an empty DataFrame with the manifest-free
    * schema read from the full layout (schema-only, no row scan). */
  def readRange(manifest: DataFrame, path: String, sortCol: String,
                lo: Any, hi: Any): DataFrame = {
    val spark = manifest.sparkSession
    val overlapping = manifest
      .filter(col("max_key") >= lit(lo) && col("min_key") <= lit(hi))
      .select(col("range_id").cast("long")).collect().map(_.getLong(0)).sorted
    val base = path.stripSuffix("/")
    if (overlapping.isEmpty)
      spark.read.schema(spark.read.parquet(path).schema).parquet(path)
        .filter(lit(false))
    else
      spark.read.option("basePath", path)
        .parquet(overlapping.map(id => s"$base/range_id=$id"): _*)
        .filter(col(sortCol) >= lit(lo) && col(sortCol) <= lit(hi))
  }
}
