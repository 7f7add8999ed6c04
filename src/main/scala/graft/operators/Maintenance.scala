package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance utilities — the file-management side of the 100 TB
  * story. Incremental appends and per-collection dual-writes
  * accumulate small files; scan throughput collapses when file count
  * dominates (every file = one task + one footer read).
  */
object Maintenance {

  /** Resolve the live data directory of a pointer-managed table: when
    * `<path>/_current` exists its contents name the live version subdir
    * (`<path>/v<N>`); otherwise the table is a legacy flat layout and
    * `path` itself is the data dir. ALL readers of a
    * [[compactParquetVersioned]]-managed table go through this — the
    * pointer indirection is what makes the swap atomic. */
  def resolveCurrent(spark: SparkSession, path: String): String = {
    val base = path.stripSuffix("/")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveCurrentFs(fs, base)
  }

  /** The ONE pointer-READ implementation (no SparkSession — the
    * serving resolver shares it): `<base>/_current` names the live
    * version subdir; absent pointer = legacy flat layout = `base`. */
  private[graft] def resolveCurrentFs(fs: org.apache.hadoop.fs.FileSystem,
                                      base: String): String = {
    val ptr = new org.apache.hadoop.fs.Path(s"$base/_current")
    if (!fs.exists(ptr)) base
    else {
      val in = fs.open(ptr)
      val ver = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      require(ver.matches("v[0-9]+"), s"corrupt _current pointer at $ptr: '$ver'")
      s"$base/$ver"
    }
  }

  /** Atomic-swap compaction: versioned data subdirs + a pointer file.
    * The rewrite lands in a NEW `v<N+1>` subdir (count-checked before
    * it is published), then the swap is a single atomic rename of the
    * pointer file — a reader that resolves the pointer one instant
    * before the flip reads `v<N>`, one instant after reads `v<N+1>`,
    * and NEVER sees a missing table. The `retainPrevious` most recent
    * prior versions are retained for in-flight readers (default 1 =
    * one compaction cycle of grace); versions older than that are
    * vacuumed — [[vacuumVersions]] is the standalone knob when
    * retention policy runs on its own schedule. A hive-partitioned
    * layout (collection=... dirs) is preserved.
    *
    * First call on a legacy flat layout migrates it (flat files →
    * `v1` + pointer) and deletes the flat files — that one migration
    * needs a single-writer, no-reader window; every SUBSEQUENT
    * compaction is fully online. Readers must resolve through
    * [[resolveCurrent]]. Returns the row count.
    *
    * CONCURRENT writers are safe (post-migration): each compactor
    * claims a distinct version number via [[claimVersion]]'s atomic
    * create-exclusive marker and publishes a complete rewrite by
    * rename, so simultaneous compactions can never co-write a dir; the
    * pointer flip is last-writer-wins between two valid versions
    * (both rewrites of a consistent snapshot, counts checked). */
  def compactParquetVersioned(spark: SparkSession, path: String,
                              targetBytes: Long = 128L * 1024 * 1024,
                              retainPrevious: Int = 1): Long = {
    require(retainPrevious >= 1, s"retainPrevious must be >= 1, got $retainPrevious")
    val base = path.stripSuffix("/")
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = resolveCurrent(spark, path)
    val curPath = new org.apache.hadoop.fs.Path(cur)

    val totalBytes = fs.getContentSummary(curPath).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // preserve hive-style partition columns (dirs named col=value)
    val partitionCols = fs.listStatus(curPath).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.contains("=")).map(_.split("=", 2)(0)).distinct

    val df = spark.read.parquet(cur)
    val expected = df.count()
    publishVersion(spark, base, cur, retainPrevious) { writing =>
      val writer = df.repartition(nFiles).write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(writing)
      val actual = spark.read.parquet(writing).count()
      require(actual == expected,
        s"compaction row mismatch: $expected before, $actual after — pointer not flipped")
    }
    // legacy flat files cannot be retained alongside the version dirs
    // — migration is the one offline step, so delete them
    if (cur == base) fs.listStatus(basePath).foreach { st =>
      if (!st.isDirectory && st.getPath.getName.endsWith(".parquet"))
        fs.delete(st.getPath, false)
    }
    expected
  }

  /** The ONE pointer-publish sequence, shared by
    * [[compactParquetVersioned]] and the model registry
    * ([[CorpusModels.publishModelVersion]]): claim → write
    * `v<N>__writing` → rename to `v<N>` → [[flipCurrent]] →
    * [[vacuumVersions]] → release the claim. `cur` is the live dir
    * the caller resolved (`base` itself for a legacy flat layout).
    * Returns N.
    *
    *  - Claim: N is the max EXISTING version + 1, not current + 1 —
    *    after a hand rollback (pointer at v3 while v4 exists, a state
    *    vacuumVersions deliberately preserves) current + 1 would
    *    OVERWRITE the retained v4 that in-flight readers may hold
    *    open. Two writers that both observed the same max would both
    *    target v<max+1>, so each CLAIMS its number via
    *    [[claimVersion]]'s create-exclusive marker and the loser moves
    *    on; a version dir either doesn't exist or is complete.
    *  - Failure: a `write` that throws deletes its writing dir and its
    *    claim — a stranded marker would burn version N forever
    *    (claimVersion skips live claims). Hard crashes that skip this
    *    are covered by [[reapAbandoned]] on the root.
    *  - Retention: `retainPrevious` prior versions are kept for
    *    in-flight readers, and ALWAYS the version that was current
    *    until this flip — after a hand rollback it is not among the
    *    highest-numbered, yet it is exactly the one readers are on.
    *  - The claim is released only after the flip: a published-but-
    *    not-yet-flipped version must not be vacuumable by a faster
    *    concurrent writer (vacuumVersions keeps any version with a
    *    live marker). */
  private[graft] def publishVersion(spark: SparkSession, base: String, cur: String,
                                    retainPrevious: Int)
                                   (write: String => Unit): Int = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val curVer = if (cur == base) 0 else cur.substring(cur.lastIndexOf("/v") + 2).toInt
    val maxVer = (curVer +: fs.listStatus(basePath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v[0-9]+"))
      .map(_.getPath.getName.substring(1).toInt)).max
    val v = claimVersion(fs, base, maxVer + 1)
    val writing = s"$base/v${v}__writing"
    val writingPath = new org.apache.hadoop.fs.Path(writing)
    val claim = new org.apache.hadoop.fs.Path(s"$base/.claim_v$v")
    try {
      write(writing)
      // the claim guarantees exclusivity, so a pre-existing dest is a
      // hard error (Hadoop rename would otherwise move the source INTO it)
      val nextPath = new org.apache.hadoop.fs.Path(s"$base/v$v")
      require(!fs.exists(nextPath),
        s"publish: claimed version dir $nextPath already exists — claim protocol violated")
      require(fs.rename(writingPath, nextPath),
        s"publish: could not publish $writing -> $nextPath")
    } catch {
      case e: Throwable =>
        fs.delete(writingPath, true)
        fs.delete(claim, false)
        throw e
    }
    flipCurrent(fs, spark.sparkContext.hadoopConfiguration, base, v)
    vacuumVersions(spark, base, keep = retainPrevious + 1,
      alwaysKeep = if (curVer > 0) Set(s"v$curVer") else Set.empty)
    fs.delete(claim, false)
    v
  }

  /** Atomically flip `<base>/_current` to `v<nextVer>` (the flip step
    * of [[publishVersion]]): write the new pointer aside, rename it
    * OVER `_current`, so the pointer file always exists with either
    * the old or the new value. The aside file is PER-VERSION (concurrent flippers must not
    * co-write one tmp name; each renames its own, last writer wins). */
  private def flipCurrent(fs: org.apache.hadoop.fs.FileSystem,
                                 conf: org.apache.hadoop.conf.Configuration,
                                 base: String, nextVer: Int): Unit = {
    val tmpPtr = new org.apache.hadoop.fs.Path(s"$base/_current.tmp.v$nextVer")
    val curPtr = new org.apache.hadoop.fs.Path(s"$base/_current")
    if (fs.makeQualified(curPtr).toUri.getScheme == "file") {
      // posix rename(2) overwrites atomically; Hadoop's local
      // Rename.OVERWRITE is delete-then-rename — a concurrent flipper
      // can land between the two and abort the flip. Write + move via
      // NIO (no ChecksumFileSystem .crc sidecar, whose staleness after
      // a raw move would fail every subsequent pointer read).
      val tmpNio = java.nio.file.Paths.get(fs.makeQualified(tmpPtr).toUri.getPath)
      val curNio = java.nio.file.Paths.get(fs.makeQualified(curPtr).toUri.getPath)
      java.nio.file.Files.write(tmpNio, s"v$nextVer".getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(
        curNio.resolveSibling("._current.crc")) // stale sidecar from a raw create
      java.nio.file.Files.move(tmpNio, curNio,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = fs.create(tmpPtr, true)
      try out.write(s"v$nextVer".getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new org.apache.hadoop.fs.Path(base).toUri, conf)
      fc.rename(tmpPtr, curPtr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Atomically claim the first free version number >= `from`: the
    * claim is a create-exclusive marker file (`.claim_v<N>` — dot-
    * prefixed so parquet readers ignore it); exactly one writer wins
    * each number, losers advance. A number is also skipped when its
    * version dir already exists (a finished writer may have deleted
    * its marker). Bounded so a pathological store cannot spin. */
  private def claimVersion(fs: org.apache.hadoop.fs.FileSystem, base: String,
                           from: Int): Int = {
    var v = from
    while (v - from < 1000) {
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/v$v"))) {
        val marker = fs.makeQualified(
          new org.apache.hadoop.fs.Path(s"$base/.claim_v$v"))
        // local fs: Hadoop's create(overwrite=false) is CHECK-then-
        // create (two racers both pass the check) — go through NIO's
        // CREATE_NEW, which is O_EXCL-atomic on posix. Elsewhere
        // (HDFS), Hadoop's exclusive create is atomic natively.
        val won =
          if (marker.toUri.getScheme == "file")
            try {
              java.nio.file.Files.createFile(
                java.nio.file.Paths.get(marker.toUri.getPath)); true
            } catch { case _: java.nio.file.FileAlreadyExistsException => false }
          else
            try { fs.create(marker, false).close(); true }
            catch { case _: java.io.IOException => false }
        if (won) return v
      }
      v += 1
    }
    throw new IllegalStateException(
      s"claimVersion: 1000 consecutive claim conflicts under $base")
  }

  /** Retention vacuum for a pointer-managed table: keep the `keep`
    * highest-numbered version dirs (the live one always among them),
    * delete the rest, and return the deleted version names.
    * [[compactParquetVersioned]] hard-codes one cycle of reader grace;
    * this is the explicit knob for longer retention windows — run
    * compaction with versions accumulating, then vacuum on the ops
    * schedule that matches the fleet's longest-running reader. The
    * current version is never deleted even if `keep` would exclude it
    * (a pointer rolled back by hand must not have its data vacuumed). */
  def vacuumVersions(spark: SparkSession, path: String, keep: Int): Seq[String] =
    vacuumVersions(spark, path, keep, Set.empty)

  private[graft] def vacuumVersions(spark: SparkSession, path: String, keep: Int,
                             alwaysKeep: Set[String]): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val base = path.stripSuffix("/")
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = resolveCurrent(spark, path)
    if (cur == base) return Nil // legacy flat layout: nothing versioned
    val curName = cur.substring(cur.lastIndexOf('/') + 1)
    val versions = fs.listStatus(basePath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v[0-9]+"))
      .map(_.getPath.getName)
      .sortBy(_.substring(1).toInt)
    // a live .claim_vN marker means a concurrent compactor published
    // (or is about to publish) that version but has not flipped the
    // pointer yet — vacuuming it would strand their flip on a deleted
    // directory. Markers release only after the flip.
    val claimed = versions.filter(v =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$base/.claim_$v"))).toSet
    val retained = versions.takeRight(keep).toSet + curName ++ alwaysKeep ++ claimed
    val doomed = versions.filterNot(retained)
    doomed.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$base/$v"), true))
    doomed
  }

  /** Reap artifacts abandoned by CRASHED compactors: `.claim_vN`
    * markers and `v<N>__writing` rewrite dirs older than
    * `olderThanMs` (a marker whose version dir was published is left
    * for its writer's post-flip cleanup unless stale). Run on the ops
    * schedule, sized well past the longest legitimate compaction —
    * reaping a LIVE writer's marker would re-expose its version to
    * [[vacuumVersions]]. Returns the reaped names. */
  def reapAbandoned(spark: SparkSession, path: String,
                    olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val base = path.stripSuffix("/")
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(basePath)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    fs.listStatus(basePath).toSeq.filter { st =>
      val n = st.getPath.getName
      (n.matches("\\.claim_v[0-9]+") || n.matches("v[0-9]+__writing") ||
        n.matches("_current\\.tmp\\.v[0-9]+")) && // pointer-aside of a crashed flip
        st.getModificationTime < cutoff
    }.map { st =>
      fs.delete(st.getPath, true); st.getPath.getName
    }
  }

  /** File-count + size profile of a parquet table (the signal that
    * triggers compaction). */
  def fileStats(spark: SparkSession, path: String): (Long, Long) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(hPath, true)
    var files = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { files += 1; bytes += f.getLen }
    }
    (files, bytes)
  }

  /** Corpus version diff — the audit step between two snapshots of a
    * training corpus: which docs were added, removed, or edited. Rows
    * are compared by content fingerprint, so the join ships (id, 16-byte
    * md5) only — at 100 TB this is ONE shuffle of slim fingerprint rows
    * on the doc id, never the payloads. Returns one row per doc id in
    * either snapshot with status added/removed/changed/unchanged.
    *
    * Contract: ids must be unique WITHIN each snapshot (dedup upstream —
    * [[graft.operators.Dedup.dropDuplicates]]); duplicate ids fan out
    * through the join and inflate the stats. Presence is tracked with
    * explicit markers and the change test is null-safe, so a null text
    * (a legitimate state for JSONL-read docs with a missing field) is a
    * comparable value, not a fake join miss. The join itself is
    * NULL-SAFE on the id (`<=>`): the (at most one, per the uniqueness
    * contract) null-id row compares across snapshots like any other id
    * instead of reading as removed+added on every audit. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol), md5(col(textCol).cast("binary")).as("old_fp"),
      lit(true).as("in_old"))
    val n = newDocs.select(col(idCol).as("__nid"),
      md5(col(textCol).cast("binary")).as("new_fp"),
      lit(true).as("in_new"))
    o.join(n, o(idCol) <=> n("__nid"), "full_outer")
      .withColumn(idCol, coalesce(o(idCol), n("__nid")))
      .drop("__nid")
      .withColumn("status",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("old_fp") <=> col("new_fp")), "changed")
          .otherwise("unchanged"))
      .select(col(idCol), col("status"))
  }

  /** Corpus health report: one row per column with its null count and
    * (for strings) empty/blank count — the data-quality gate an ingest
    * pipeline runs before promoting a snapshot. ONE pass over the
    * corpus: every counter is a conditional sum inside a single
    * aggregation (map-side combined, fixed-size state), then the 1-row
    * wide result is unpivoted driver-side — no per-column jobs, no
    * second scan. Deterministic integer outputs, so the report is
    * oracle-exact. */
  def corpusHealth(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types.StringType
    val fields = df.schema.fields
    val aggs = count(lit(1)).as("__rows") +: fields.flatMap { f =>
      // backtick-quote (with doubling) so a column literally named
      // `meta.source` resolves as a column, not a struct-field path —
      // messy schemas are exactly what a health gate inspects
      val c = col(s"`${f.name.replace("`", "``")}`")
      val nulls = sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls")
      if (f.dataType == StringType)
        Seq(nulls, sum(when(trim(c) === "", 1L).otherwise(0L))
          .as(s"${f.name}__blank"))
      else Seq(nulls)
    }.toSeq
    val wide = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = fields.map { f =>
      val nulls = wide.getAs[Long](s"${f.name}__nulls")
      val blank = if (f.dataType == StringType)
        Some(wide.getAs[Long](s"${f.name}__blank")) else None
      (f.name, f.dataType.simpleString, wide.getAs[Long]("__rows"),
        nulls, blank)
    }
    import spark.implicits._
    rows.toSeq.toDF("column", "dtype", "n_rows", "n_nulls", "n_blank")
  }

  /** Health report for an EMBEDDING column — the vector-side
    * [[corpusHealth]]: the invariants every ANN/quantization/serving
    * path in this engine assumes (constant dimension, finite
    * components, no zero vectors in a unit-norm corpus) checked in ONE
    * map-side-combined aggregation pass. A single row:
    * (n_rows, n_null, n_zero, n_nonfinite, dim_min, dim_max, n_dims,
    * norm_min, norm_max, norm_mean).
    *
    * Norms are the f32 EuclideanDistF32 kernel against the zero
    * vector (DuckDB `list_distance`-vs-zeros bit-parity, the Sq
    * contract); min/max are exact f32 values widened to double, the
    * mean rides the 2^20 fixed-point sum (the drift-report pattern)
    * so it is engine-identical. Zero detection treats −0.0 components
    * as zero on both engines. Null embeddings are excluded from every
    * vector stat and counted separately; non-finite rows are counted
    * in n_nonfinite and EXCLUDED from the norm envelope/mean (their
    * NaN/Inf norms would otherwise poison all three); an all-null or
    * all-non-finite corpus reports null norm stats rather than
    * dividing by zero. */
  def embeddingHealth(df: DataFrame, embCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = col(embCol)
    val nrm = l2DistF32(e, array_repeat(lit(0.0f), size(e))).cast("double")
    val isZero = e.isNotNull &&
      size(filter(e, x => x =!= lit(0.0f))) === 0
    // pathological at the NORM level: NaN/Inf components, a
    // finite-component vector whose f32 sum-of-squares overflows, AND
    // finite norms beyond the fixed-point domain [0, 8e12) (the Ann.fp
    // contract) — floor(nrm·2^20) of a 2e19 norm would overflow the
    // per-row long cast, poisoning exactly the gate built to flag it
    val nonFinite = e.isNotNull &&
      (size(filter(e, x => isnan(x) || x === lit(Float.PositiveInfinity) ||
        x === lit(Float.NegativeInfinity))) > 0 ||
        isnan(nrm) || nrm >= lit(8.0e12))
    val nrmOk = when(e.isNotNull && !nonFinite, nrm)
    val nOk = sum(when(e.isNotNull && !nonFinite, 1L).otherwise(0L))
    df.agg(
      count(lit(1)).as("n_rows"),
      sum(when(e.isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(isZero, 1L).otherwise(0L)).as("n_zero"),
      sum(when(nonFinite, 1L).otherwise(0L)).as("n_nonfinite"),
      min(when(e.isNotNull, size(e))).cast("bigint").as("dim_min"),
      max(when(e.isNotNull, size(e))).cast("bigint").as("dim_max"),
      countDistinct(when(e.isNotNull, size(e))).as("n_dims"),
      min(nrmOk).as("norm_min"),
      max(nrmOk).as("norm_max"),
      // the AGGREGATE sum rides decimal(38,0): per-row values are
      // < 2^63 by the domain cap above, but a 100 TB corpus of large
      // norms can push the TOTAL past long range — decimal keeps it
      // exact (DuckDB's BIGINT sum widens to HUGEINT, same headroom)
      (sum(floor(nrmOk * lit(1048576.0)).cast("long").cast("decimal(38,0)"))
        .cast("double") /
        when(nOk === 0, lit(null))
          .otherwise(nOk * lit(1048576L)).cast("double"))
        .as("norm_mean"))
  }

  /** Roll-up of [[corpusDiff]]: doc counts per status. */
  def corpusDiffStats(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    corpusDiff(oldDocs, newDocs, idCol, textCol)
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
}
