package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate nearest-neighbor paths (SURVEY §4.1: the reference's HNSW
  * has no Catalyst equivalent — these are the Spark-native substitutes,
  * with exact brute-force KNN as the recall oracle).
  *
  * Two complementary schemes:
  *  - **SignLsh** (random-hyperplane): deterministic Rademacher planes
  *    hashed from (plane, dim) — no fitted model, no driver state, pure
  *    narrow map to a bucket id. Candidates = same bucket (multi-probe:
  *    Hamming-1 neighbors). Best for near-dup candidate generation.
  *  - **IVF** (inverted-file via MLlib KMeans): fit centroids once,
  *    tag every row with its cluster, store partitioned by cluster. A
  *    query probes the `nprobe` nearest centroids — at 100 TB with the
  *    corpus written `partitionBy("ivf_cluster")`, partition pruning
  *    turns each search into a scan of nprobe/k of the data, the same
  *    asymptotic win the reference gets from HNSW's graph descent
  *    (`BASELINE.md`: HNSW M=16, ef=100).
  */
object Ann {

  // ------------------------------------------------------------- sign-LSH

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic Rademacher (±1) hyperplanes — plane p, component d is
    * sign(mix64(p * 1_000_003 + d)). Stateless: executors regenerate
    * them from (nBits, dim) alone. */
  def planeSign(p: Int, d: Int): Float =
    if ((mix64(p.toLong * 1000003L + d) & 1L) == 0L) 1.0f else -1.0f

  /** Flat row-major cache of the deterministic hyperplane family.
    * Planes are a pure function of (p, d) — no data, no RNG state — so
    * the per-row signature kernels index ONE precomputed array instead
    * of re-hashing mix64 for every vector component (the r17 job probe
    * caught the sign-LSH bucket stage serializing bands·bits·dim mix64
    * calls per ROW — ~25M hashes for a 2000-row fixture — into the
    * slowest task of the whole query). Bounded: keyed by
    * (nPlanes, dim), a handful of shapes per session at ≤ ~1 MB each;
    * this is a constant table like [[rpPlanes]]'s, not result caching. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Float]]()
  private[graft] def planeMatrix(nPlanes: Int, dim: Int): Array[Float] =
    planeCache.computeIfAbsent((nPlanes, dim), { key: (Int, Int) =>
      val (np, dm) = key
      val m = new Array[Float](np * dm)
      var p = 0
      var i = 0
      while (p < np) {
        var d = 0
        while (d < dm) { m(i) = planeSign(p, d); d += 1; i += 1 }
        p += 1
      }
      m
    })

  /** One unboxed copy of an embedding for the while-loop kernels —
    * Seq.apply in the inner loop pays interface dispatch and Float
    * boxing per component; converting once per row does not. */
  private[graft] def toFloatArray(vec: Seq[Float]): Array[Float] =
    vec.toArray

  /** Signature of `bits` consecutive planes starting at `firstPlane`,
    * over an unboxed vector and the precomputed plane matrix (which
    * must hold ≥ (firstPlane + bits) · dim entries). Bit j =
    * [dot(v, plane_{firstPlane+j}) ≥ 0]. Float semantics are identical
    * to the per-component reference form: the multiplicands are the
    * same ±1.0f values in the same accumulation order, and x·(±1.0f)
    * is exact — AnnSpec pins kernel == reference. */
  private[graft] def signatureFrom(v: Array[Float], planes: Array[Float],
                                       firstPlane: Int, bits: Int): Int = {
    val dim = v.length
    var sig = 0
    var j = 0
    while (j < bits) {
      val off = (firstPlane + j) * dim
      var dot = 0.0f
      var d = 0
      while (d < dim) { dot += v(d) * planes(off + d); d += 1 }
      if (dot >= 0) sig |= (1 << j)
      j += 1
    }
    sig
  }

  /** nBits-bit signature: bit p = [dot(vec, plane_p) >= 0]. */
  def signSignature(vec: Seq[Float], nBits: Int): Int = {
    require(nBits > 0 && nBits <= 31,
      s"nBits must be 1..31 for an Int bucket (got $nBits; 1<<p wraps past 31)")
    val v = toFloatArray(vec)
    signatureFrom(v, planeMatrix(nBits, v.length), 0, nBits)
  }

  /** Tag rows with their LSH bucket (narrow map, codegen-adjacent UDF). */
  def withSignBucket(df: DataFrame, embCol: String = "embedding",
                     nBits: Int = 12, out: String = "lsh_bucket"): DataFrame = {
    val u = udf { (v: Seq[Float]) =>
      // fail LOUD, not an anonymous NPE deep in a stage (the
      // nearestCentroid null-hygiene rule)
      require(v != null, "withSignBucket: null embedding — filter or " +
        "impute null vectors before bucketing")
      signSignature(v, nBits)
    }
    df.withColumn(out, u(col(embCol)))
  }

  /** ANN top-k via sign-LSH: probe the query's bucket plus all buckets
    * within Hamming distance `probeRadius` (multi-probe — recovers most
    * of the recall a single bucket loses), exact-rerank the candidates.
    * The bucket predicate is an IN-list over an indexed/bucketed column:
    * at scale this prunes both partitions and row groups before any
    * distance math. Recall depends on data having angular structure —
    * on uniform random vectors NO sublinear method can beat scanning
    * (measured in AnnSpec: clustered data ~1.0, uniform ~0.15). */
  def searchSignLsh(bucketed: DataFrame, queryVec: Seq[Float], k: Int,
                    nBits: Int = 12, probeRadius: Int = 1,
                    metric: VectorSearch.Metric = VectorSearch.Euclidean,
                    embCol: String = "embedding", idCol: String = "vec_id",
                    bucketCol: String = "lsh_bucket"): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 2,
      s"probeRadius must be 0..2 (got $probeRadius); deeper probing is not generated")
    val qSig = signSignature(queryVec, nBits)
    val r1 = (0 until nBits).map(b => qSig ^ (1 << b))
    val r2 = for (a <- 0 until nBits; b <- (a + 1) until nBits)
      yield qSig ^ (1 << a) ^ (1 << b)
    val probes = (Seq(qSig) ++ (if (probeRadius >= 1) r1 else Nil)
      ++ (if (probeRadius >= 2) r2 else Nil)).distinct
    VectorSearch.topKWithScore(
      bucketed.filter(col(bucketCol).isin(probes: _*)),
      queryVec, k, metric, None, embCol, idCol)
  }

  // ------------------------------------------------------------------ IVF

  /** IVF index: driver-held centroids + the corpus tagged with its
    * nearest-centroid id. At scale, persist `assigned` partitioned by
    * `ivf_cluster` so probing prunes at the file-listing level. */
  final case class IvfIndex(centroids: Array[Array[Float]], assigned: DataFrame,
                            embCol: String, idCol: String)

  /** Build: MLlib k-means (seeded, deterministic) over the embedding
    * column; one fit (sampled in practice at 100 TB) + one narrow map to
    * tag rows. */
  def buildIvf(emb: DataFrame, numClusters: Int, embCol: String = "embedding",
               idCol: String = "vec_id", seed: Long = 42L): IvfIndex = {
    val feats = emb.withColumn("__features", array_to_vector(col(embCol).cast("array<double>")))
    val model = new KMeans().setK(numClusters).setSeed(seed)
      .setMaxIter(10) // routing quality plateaus early; fit time halves
      .setFeaturesCol("__features").setPredictionCol("ivf_cluster")
      .fit(feats)
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
    val assigned = model.transform(feats).drop("__features")
    IvfIndex(centroids, assigned, embCol, idCol)
  }

  /** Persist an IVF index: centroids as a tiny parquet + the assigned
    * corpus partitioned by cluster (searches then prune partitions at
    * the file listing — no re-fit, no full scan). */
  def saveIvf(index: IvfIndex, dir: String): Unit = {
    val spark = index.assigned.sparkSession
    centroidsDf(spark, index.centroids, "cluster_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    index.assigned.write.mode("overwrite")
      .partitionBy("ivf_cluster").parquet(s"$dir/corpus")
  }

  /** k centroid rows ((idCol: int, centroid: array<float>)) — one
    * schema shared by index persistence and the clustering census so
    * the load/join paths can never drift apart. */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                  centroids: Array[Array[Float]], idCol: String)
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = centroids.zipWithIndex
      .map { case (c, i) => org.apache.spark.sql.Row(i, c.toSeq) }.toSeq.asJava
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false),
        nullable = false))))
  }

  /** Load a persisted IVF index. */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
              embCol: String = "embedding", idCol: String = "vec_id"): IvfIndex = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("cluster_id")).collect()
      .map(_.getSeq[Float](1).toArray)
    IvfIndex(centroids, spark.read.parquet(s"$dir/corpus"), embCol, idCol)
  }

  /** Incremental index maintenance: assign NEW vectors to an existing
    * index's centroids without a refit — the nightly-append path. A
    * refit over 100 TB per append is not a plan; nearest-centroid
    * assignment is a narrow map with the (kilobyte) centroid array in
    * the closure, and the appended rows land in the same
    * `partitionBy("ivf_cluster")` layout the probe-scan prunes.
    * Assignment ties break to the lowest cluster id — the same rule as
    * MLlib's transform — and distances accumulate in double precision
    * against the stored (float-rounded) centroids, so the only residual
    * divergence from a refit's own transform is a vector sitting within
    * float-rounding distance of two centroids (AnnSpec pins equality on
    * the fit corpus). */
  /** The ASSIGNMENT kernel (one owner): double-precision squared
    * argmin, strict `<` so a tie keeps the lower cluster id — shared
    * by [[assignToIvf]] and the online HNSW insert router
    * ([[graft.serving.Serving.OnlineHnsw]]), so a live insert and the
    * nightly batch append can never route the same vector to
    * different shards. NOTE: deliberately NOT [[rankProbes]] — probe
    * RANKING is f32+sqrt for oracle parity; assignment is the f64
    * argmin the persisted layout was built with. */
  private[graft] def nearestCentroid(cents: Array[Array[Float]],
                                     v: Seq[Float]): Int = {
    require(v != null, "nearestCentroid: null embedding")
    require(v.length == cents(0).length,
      s"nearestCentroid: vector dim ${v.length} != centroid dim ${cents(0).length}")
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var acc = 0.0; var d = 0
      while (d < cent.length) {
        val x = v(d).toDouble - cent(d); acc += x * x; d += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  def assignToIvf(index: IvfIndex, newVectors: DataFrame): DataFrame = {
    val cents = index.centroids
    val assignUdf = udf { (v: Seq[Float]) => nearestCentroid(cents, v) }
    newVectors.withColumn("ivf_cluster", assignUdf(col(index.embCol)))
  }

  /** Delete-maintenance for the persisted IVF layout — the dual of
    * [[assignToIvf]]'s nightly append, closing the same asymmetry the
    * keyword indexes closed with `Bm25.deleteFromPersistedIndex`: a
    * corpus that deletes documents must not drift from its vector
    * index until a refit.
    *
    * Victims (id + embedding) route to their cluster by the SAME
    * double-precision centroid argmin the layout was built with
    * ([[nearestCentroid]]), so the touched `ivf_cluster=K` partitions
    * are known WITHOUT scanning the index; only those partitions are
    * read (partition-pruned) and rewritten survivors-only. The swap
    * follows the keyword-index discipline: every staged partition
    * writes before any publish; publishes are aside-renames rolled
    * back TOGETHER on failure; crash parks (`.old_c*`) are removed
    * only after every publish committed, and a leftover park from a
    * crashed run refuses loudly (restore or rebuild first). An
    * EMPTIED cluster's partition dir is removed — partition discovery
    * then treats the cluster as empty, which is the correct search
    * result. A victim missing from its routed partition (possible:
    * build-time assignment is MLlib's double-precision transform
    * while routing argmins the float-rounded stored centroids, so a
    * boundary-straddling vector can land one cluster over) is LOCATED
    * by a column-pruned id scan and deleted where it actually lives;
    * only a victim absent from the whole index refuses loudly —
    * corpus/index disagreement must not be papered over.
    *
    * Returns the touched cluster ids, ascending. Single-writer
    * contract, like the keyword indexes. */
  def deleteFromPersistedIvf(spark: org.apache.spark.sql.SparkSession,
                             dir: String, victims: DataFrame,
                             embCol: String = "embedding",
                             idCol: String = "vec_id"): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val corpus = s"$dir/corpus"
    val fs = new Path(corpus).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val parks = Option(fs.globStatus(new Path(s"$corpus/.old_c*")))
      .getOrElse(Array.empty).toSeq
    require(parks.isEmpty,
      s"ivf-delete: leftover crash-recovery park(s) " +
        s"${parks.map(_.getPath).mkString(", ")} — restore the parked " +
        "partitions (or rebuild the index) before deleting")
    val index = loadIvf(spark, dir, embCol, idCol)
    val cents = index.centroids
    val assignU = udf { (v: Seq[Float]) => nearestCentroid(cents, v) }
    val routed0 = victims
      .select(col(idCol).as("__vid"), assignU(col(embCol)).as("__vc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched0 = routed0.select(col("__vc")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      if (touched0.isEmpty) return Seq.empty
      def idClusters(pruneTo: Option[Seq[Int]]) = {
        // ids + the partition column ONLY — never the vectors
        val all = spark.read.parquet(corpus)
        pruneTo.fold(all)(cs => all.where(col("ivf_cluster").isin(cs: _*)))
          .select(col(idCol).as("__vid"), col("ivf_cluster").as("__vc"))
      }
      // build-time assignment is MLlib's double-precision transform;
      // the routing here argmins against the float-rounded stored
      // centroids — a victim sitting within float-rounding distance of
      // two centroids can straddle the boundary. Those strays are
      // LOCATED by a column-pruned id scan instead of refusing a
      // healthy delete; only a victim absent from the whole index is a
      // real corpus/index disagreement and still refuses.
      val missIds = routed0
        .join(idClusters(Some(touched0)), Seq("__vid", "__vc"), "left_anti")
        .select(col("__vid")).collect().map(_.get(0))
      val routed = if (missIds.isEmpty) routed0 else {
        val strays = idClusters(None)
          .where(col("__vid").isin(missIds: _*))
          .withColumnRenamed("__vc", "__vc2")
        val found = strays.select(col("__vid")).collect().map(_.get(0)).toSet
        val absent = missIds.filterNot(found)
        require(absent.isEmpty,
          s"ivf-delete: victim id(s) ${absent.take(5).mkString(", ")} not " +
            "present in the index — corpus and index disagree; rebuild")
        routed0.join(strays, Seq("__vid"), "left_outer")
          .select(col("__vid"),
            coalesce(col("__vc2"), col("__vc")).as("__vc"))
      }
      val touched = routed.select(col("__vc")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      // stage ALL survivors before publishing ANY partition — the one
      // full-row read of the touched partitions in the whole protocol
      val staging = s"$corpus/.delete_stage"
      fs.delete(new Path(staging), true)
      spark.read.parquet(corpus)
        .where(col("ivf_cluster").isin(touched: _*))
        .join(routed.select(col("__vid").as(idCol)), Seq(idCol), "left_anti")
        .write.partitionBy("ivf_cluster").parquet(staging)
      def oldP(c: Int) = new Path(s"$corpus/.old_c$c")
      LayoutSwap.publish[Int](fs, touched,
        c => new Path(s"$corpus/ivf_cluster=$c"), oldP,
        c => new Path(s"$staging/ivf_cluster=$c"),
        "ivf-delete", allowMissingStaged = true)
      LayoutSwap.removeParks(fs, touched, oldP)
      fs.delete(new Path(staging), true)
      touched
    } finally routed0.unpersist(blocking = false)
  }

  /** Fixed-point scale for deterministic distributed float sums: a
    * per-row double in [0, ~8e12) is floored to integer 2^-20 units, so
    * the aggregation sums LONGS — exact, associative, and therefore
    * identical under any partitioning, task order, or engine. A plain
    * `sum(double)` is run-to-run nondeterministic at 100 TB (the
    * combine order changes with the shuffle); the fixed-point form
    * makes drift/census reports reproducible AND DuckDB-replayable. */
  private[operators] val FpScale = 1048576L // 2^20

  private[operators] def fp(c: Column): Column =
    floor(c * FpScale.toDouble).cast("long")

  /** Routing-quality drift report: per-cluster row count and mean
    * squared distance to the centroid. Run it over the standing corpus
    * after appends — when a cluster's mean distance grows well past its
    * fit-time value (or counts skew hard), the centroids no longer
    * describe the data and it is time to REFIT, not to keep appending.
    * One broadcast join against the k-row centroid table + one
    * map-side-combined aggregation; the distance runs in the codegen'd
    * [[graft.functions.VectorFunctions.l2DistF32]] kernel (squared in
    * double after the f32 kernel — the same value DuckDB reaches via
    * `pow(list_distance(...), 2)`), and the mean accumulates in
    * [[fp]] fixed point so the report is bit-stable under any
    * partitioning (and oracle-checkable). */
  def ivfDriftReport(index: IvfIndex): DataFrame = {
    val spark = index.assigned.sparkSession
    val cents = broadcast(centroidsDf(spark, index.centroids, "ivf_cluster"))
    val d = graft.functions.VectorFunctions.l2DistF32(col(index.embCol),
      col("centroid")).cast("double")
    index.assigned
      .join(cents, Seq("ivf_cluster"))
      .withColumn("__d2fp", fp(d * d))
      .groupBy(col("ivf_cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        // guarded exact sum: the per-row fp value is bounded but a
        // mega-cluster's SUM can exceed int64 — a silent wrap would
        // corrupt the refitIfDrifted decision
        (ExactSums.guardedLongSum(col("__d2fp"), "sum_d2_fp").cast("double") /
          (count(lit(1)) * FpScale).cast("double")).as("mean_sq_dist"))
  }

  /** The append-vs-refit POLICY as code (not a runbook comment): given
    * the drift report captured AT FIT TIME (`fitReport` — run
    * [[ivfDriftReport]] right after [[buildIvf]] and persist it next to
    * the index), decide whether the standing index still describes the
    * corpus. Refit triggers when any cluster's mean squared distance
    * grew past `ratioThreshold` × its fit-time value (routing quality
    * decayed — appended vectors no longer sit near the centroids that
    * route them) or when a cluster's row count grew past the same
    * ratio (occupancy skew: probes of that cluster degrade toward full
    * scans). Clusters absent from the fit report (impossible for a real
    * fit, which assigns every cluster id) are treated as drifted.
    *
    * Cost: the decision is ONE broadcast join + aggregation over the
    * k-row reports; the refit itself (only when triggered) is a fresh
    * [[buildIvf]] over the index's corpus. Returns the (possibly new)
    * index and whether a refit happened — on `false` the input index is
    * returned as-is, so assignment parity is trivially preserved. */
  def refitIfDrifted(index: IvfIndex, fitReport: DataFrame,
                     ratioThreshold: Double = 2.0,
                     seed: Long = 42L): (IvfIndex, Boolean) = {
    require(ratioThreshold > 1.0,
      s"ratioThreshold must be > 1 (got $ratioThreshold): <= 1 would refit on no drift")
    val now = ivfDriftReport(index)
    val base = broadcast(fitReport.select(col("ivf_cluster"),
      col("n_vectors").as("fit_n"), col("mean_sq_dist").as("fit_d2")))
    val drifted = now.join(base, Seq("ivf_cluster"), "left_outer")
      .filter(col("fit_n").isNull ||
        col("mean_sq_dist") > col("fit_d2") * ratioThreshold ||
        col("n_vectors").cast("double") > col("fit_n").cast("double") * ratioThreshold)
      .limit(1).count() > 0
    if (!drifted) (index, false)
    else {
      val corpus = index.assigned.drop("ivf_cluster", "__features")
      (buildIvf(corpus, index.centroids.length, index.embCol, index.idCol, seed), true)
    }
  }

  /** Search: rank centroids driver-side (tiny), probe the nprobe nearest
    * clusters, exact top-k within them. */
  /** Driver-side probe ranking shared by every single-query IVF
    * variant ([[searchIvf]], [[Sq.searchIvfSq8]], the serving probes):
    * f32 Euclidean distance to each centroid (sqrt-rounded — see the
    * probe comment in [[searchIvf]]), ties to the lower cluster id. */
  private[graft] def rankProbes(centroids: Array[Array[Float]],
                                q: Array[Float], nprobe: Int): IndexedSeq[Int] = {
    val top = new TopK[AnyRef](nprobe)
    centroids.indices.foreach { i =>
      require(centroids(i).length == q.length,
        s"rankProbes: query dim ${q.length} != centroid dim ${centroids(i).length}")
      top.offer(TopK.asc(PartitionedTopK.l2F32(centroids(i), q).toDouble), i)
    }
    (0 until top.size).map(r => top.id(r).toInt)
  }

  def searchIvf(index: IvfIndex, queryVec: Seq[Float], k: Int, nprobe: Int,
                metric: VectorSearch.Metric = VectorSearch.Euclidean,
                filter: Option[Column] = None): DataFrame = {
    val q = queryVec.toArray
    // probe ranking in f32 EUCLIDEAN distance (sqrt, exactly the
    // EuclideanDistF32 kernel — double-rounded sqrt of the f32 acc),
    // NOT the raw squared acc: [[batchSearchIvf]] and the SQL oracle
    // rank probes with the distance kernel / list_distance, and sqrt
    // rounding can merge two distinct squared values — ranking the
    // same quantity on every path keeps the probe set identical even
    // at those collisions (tie → smaller cluster id everywhere)
    val probes = rankProbes(index.centroids, q, nprobe)
    // metadata filter INSIDE the probe scan (Chroma's `where` + KNN on
    // the ANN path): the predicate prunes candidates before the top-k
    // heap, and on a partitioned-by-cluster layout both the cluster
    // pruning and the predicate push into the scan. A highly selective
    // filter can starve k below the probed clusters' survivors — the
    // caller widens nprobe, exactly the filtered-HNSW tradeoff.
    VectorSearch.topKWithScore(
      index.assigned.filter(col("ivf_cluster").isin(probes: _*)),
      queryVec, k, metric, filter, index.embCol, index.idCol)
  }

  /** BATCH IVF search — [[searchIvf]] for a query SET, fully
    * distributed (no driver probe loop): each query's `nprobe`
    * nearest centroids come from a per-query window over the
    * broadcast k-row centroid table, the corpus-sized assignment then
    * joins the (queries·nprobe)-row probe list BY CLUSTER — a
    * broadcast join, the corpus never shuffles for candidate
    * generation — and exact distances + a top-k-per-query window
    * finish it (candidates ≈ |corpus|·nprobe/k per query, the IVF
    * pruning; the window shuffle is candidates hash-partitioned by
    * query id, WindowGroupLimit keeps per-task top-k first). Same
    * f32 distance kernel and (dist, id) tie-break as [[searchIvf]],
    * so a single-row query set reproduces it hit for hit.
    *
    * `queries`: (qIdCol, qEmbCol) — the eval-sample contract: Q is
    * bounded (recall evals run on samples), the corpus is not. */
  def batchSearchIvf(spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
                     queries: DataFrame, k: Int, nprobe: Int,
                     metric: VectorSearch.Metric = VectorSearch.Euclidean,
                     qIdCol: String = "query_id",
                     qEmbCol: String = "query_embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroidsDf(spark, index.centroids, "cluster_id")
    val wp = Window.partitionBy(col(qIdCol))
      .orderBy(col("__cdist").asc_nulls_last, col("cluster_id"))
    // probe ranking is ALWAYS f32 Euclidean (the searchIvf / oracle
    // contract — see the probe comment there); `metric` governs only
    // the candidate ranking below
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("__cdist",
        l2DistF32(col(qEmbCol), col("centroid")).cast("double"))
      .withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") <= nprobe)
      .select(col(qIdCol), col(qEmbCol), col("cluster_id").as("ivf_cluster"))
    val wk = Window.partitionBy(col(qIdCol))
      .orderBy(col("dist").asc_nulls_last, col(index.idCol))
    index.assigned
      .join(broadcast(probes), Seq("ivf_cluster"))
      .withColumn("dist", metric.dist(col(index.embCol), col(qEmbCol)).cast("double"))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col(qIdCol), col(index.idCol), col("dist"), col("rn"))
  }

  /** Recall@k of an approximate result set against exact ground
    * truth — the eval metric a vector platform publishes with every
    * index build. Both inputs are (qIdCol, idCol) top-k frames;
    * output is (qIdCol, n_hits, recall_at_k) for EVERY query in
    * `exact` (a query the approx side missed entirely scores 0).
    * Exact integer intersection counts + one engine-stable division;
    * both frames are Q·k rows — nothing corpus-sized. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int,
                qIdCol: String = "query_id", idCol: String = "vec_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // intersection of SETS: distinct both sides first — a duplicated
    // corpus id (two rows sharing one vec_id) would otherwise multiply
    // through the join and report recall > 1
    val hits = exact.select(col(qIdCol), col(idCol)).distinct()
      .join(approx.select(col(qIdCol), col(idCol)).distinct(), Seq(qIdCol, idCol))
      .groupBy(col(qIdCol)).agg(count(lit(1)).as("n_hits"))
    // denominator = the query's ACTUAL exact-list size (capped at k),
    // not the constant k: a filtered corpus can yield fewer than k
    // exact results, and a perfect approximate ranking of that short
    // list must score 1.0 — the same short-list contract ndcgAtK's
    // per-query IDCG implements (full-k queries are unchanged)
    val nEx = exact.select(col(qIdCol), col(idCol)).distinct()
      .groupBy(col(qIdCol)).agg(count(lit(1)).as("__nex"))
    exact.select(col(qIdCol)).distinct()
      .join(hits, Seq(qIdCol), "left")
      .join(nEx, Seq(qIdCol))
      .select(col(qIdCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          least(lit(k.toLong), col("__nex")).cast("double"))
          .as(s"recall_at_$k"))
  }

  /** The NDCG@k rank-discount table in [[fp]]-style fixed point:
    * (rank 1..k, disc_fp = floor(1e9/log2(rank+1))). log2 is a libm
    * value mapping — not bitwise-portable across engines (the Bm25
    * scaladoc rule) — so this k-row table is a HANDOFF artifact: the
    * verifier takes only the value mapping on faith (disc(1) = 1e9
    * exactly and strict monotone decrease are spec-gated laws) and
    * re-derives everything DCG-shaped from it as exact integer sums. */
  def ndcgDiscounts(spark: org.apache.spark.sql.SparkSession, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import scala.jdk.CollectionConverters._
    val rows = (1 to k).map { r =>
      org.apache.spark.sql.Row(r.toLong,
        math.floor(1e9 / (math.log((r + 1).toDouble) / math.log(2.0))).toLong)
    }
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("disc_fp", org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** NDCG@k of an approximate ranking against exact ground truth —
    * the rank-SENSITIVE companion to [[recallAtK]] (recall says the
    * right ids came back; NDCG says they came back in the right
    * ORDER). Graded relevance is derived from the exact side: the
    * exact rank-r id carries rel = k+1−r (top hit k, k-th hit 1; ids
    * outside the exact top-k are 0). DCG_fp = Σ rel·disc_fp(approx
    * rank) in exact longs over the `discounts` table
    * ([[ndcgDiscounts]]); IDCG_fp is PER QUERY — Σ (k+1−r)·disc_fp(r)
    * over that query's ACTUAL exact rows (a filtered corpus can yield
    * fewer than k exact results, and a perfect approximate ranking of
    * a short list must still score 1.0 — the constant-IDCG form would
    * cap it below 1); ndcg = DCG_fp/IDCG_fp, one engine-stable IEEE
    * division. Queries with a full-k exact frame get exactly the
    * constant Σ_{r≤k}, so the common case is unchanged.
    *
    * Inputs are (qIdCol, idCol, rank-ordering column `rnCol`) top-k
    * frames — Q·k rows, nothing corpus-sized. Output: (qIdCol,
    * dcg_fp, ndcg_at_k) for every query in `exact`. */
  def ndcgAtK(approx: DataFrame, exact: DataFrame, discounts: DataFrame,
              k: Int, qIdCol: String = "query_id", idCol: String = "vec_id",
              rnCol: String = "rn"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // an undersized discounts table would silently DROP rank
    // contributions through the inner joins below (NDCG@5 labeled
    // ndcg_at_10) — validate coverage loudly; the table is k rows
    require(discounts.filter(col("rank").between(1L, k.toLong))
      .select(col("rank")).distinct().count() == k,
      s"discounts table does not cover ranks 1..$k — build it with " +
        s"ndcgDiscounts(spark, $k)")
    // clip EVERY input to rank <= k: a top-20 frame with k=10 must
    // score its first 10 rows only — unclipped, exact ranks beyond k
    // would contribute NEGATIVE grades (k+1-rn < 0) and approx ranks
    // beyond k extra discount terms, corrupting the metric both ways
    val disc = broadcast(discounts.filter(col("rank") <= k)
      .select(col("rank"), col("disc_fp")))
    // SET semantics (the recallAtK distinct rule): a duplicated
    // (query, id) row in either frame would multiply relevance
    // through the joins and can report ndcg > 1 — keep each id's
    // BEST (lowest) rank
    val rel = exact.filter(col(rnCol) <= k)
      .groupBy(col(qIdCol), col(idCol))
      .agg(min(col(rnCol).cast("long")).as("__ern"))
      .select(col(qIdCol), col(idCol), col("__ern"),
        (lit(k + 1) - col("__ern")).as("__rel"))
    // per-query ideal DCG: each query's own exact rows in their exact
    // order (rank r carries grade k+1−r AND discount disc(r)) — Q·k
    // rows joined to the k-row broadcast table, map-side-combined sum
    val idcg = rel
      .join(disc, rel("__ern") === disc("rank"))
      .groupBy(col(qIdCol))
      .agg(sum(col("__rel") * col("disc_fp")).as("idcg_fp"))
    val dcg = approx.filter(col(rnCol) <= k)
      .groupBy(col(qIdCol), col(idCol))
      .agg(min(col(rnCol).cast("long")).as("rank"))
      .join(rel.select(col(qIdCol), col(idCol), col("__rel")),
        Seq(qIdCol, idCol), "left")
      .join(disc, Seq("rank"))
      .groupBy(col(qIdCol))
      .agg(sum(coalesce(col("__rel"), lit(0L)) * col("disc_fp")).as("dcg_fp"))
    // idcg joins LEFT: a query present in `exact` whose rows all sit
    // beyond rank k has an empty ideal frame — it must still appear
    // (the "every query in exact" contract), scored 0.0 like the
    // constant-IDCG form did, not vanish on an inner join
    exact.select(col(qIdCol)).distinct()
      .join(idcg, Seq(qIdCol), "left")
      .join(dcg, Seq(qIdCol), "left")
      .select(col(qIdCol),
        coalesce(col("dcg_fp"), lit(0L)).as("dcg_fp"),
        when(col("idcg_fp").isNull, lit(0.0))
          .otherwise(coalesce(col("dcg_fp"), lit(0L)).cast("double") /
            col("idcg_fp").cast("double")).as(s"ndcg_at_$k"))
  }

  /** MRR@k — the third leg of the retrieval-eval family next to
    * [[recallAtK]] (did the right ids come back) and [[ndcgAtK]] (in
    * the right order): how FAR DOWN the approximate list the first
    * truly-relevant id sits (relevant = the exact top-k set). Output:
    * (qIdCol, first_hit_rank, rr_at_k) for every query in `exact` —
    * first_hit_rank null and rr 0.0 when the approx top-k misses the
    * exact set entirely. Exact integer ranks; rr = 1.0/rank is one
    * engine-identical IEEE division. Both inputs clipped to rank ≤ k
    * (the ndcgAtK lesson). */
  def mrrAtK(approx: DataFrame, exact: DataFrame, k: Int,
             qIdCol: String = "query_id", idCol: String = "vec_id",
             rnCol: String = "rn"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rel = exact.filter(col(rnCol) <= k).select(col(qIdCol), col(idCol))
    val first = approx.filter(col(rnCol) <= k)
      .select(col(qIdCol), col(idCol), col(rnCol))
      .join(rel, Seq(qIdCol, idCol))
      .groupBy(col(qIdCol))
      .agg(min(col(rnCol).cast("long")).as("first_hit_rank"))
    exact.select(col(qIdCol)).distinct()
      .join(first, Seq(qIdCol), "left")
      .select(col(qIdCol), col("first_hit_rank"),
        coalesce(lit(1.0) / col("first_hit_rank").cast("double"), lit(0.0))
          .as(s"rr_at_$k"))
  }

  // ------------------------------------------- JL random projection (RP)

  /** Salt for the RP plane family so its planes never coincide with
    * the sign-LSH planes when both run in one pipeline. */
  private val RpSalt = 1 << 20

  /** Deterministic Rademacher (±1) projection planes for the
    * Johnson–Lindenstrauss compression path — the same stateless
    * hashed family as [[planeSign]] (executors and the driver
    * regenerate them from (nPlanes, dim) alone; no fitted model),
    * salted (see [[RpSalt]]). The canonical 1/√d' JL scale factor is
    * OMITTED: it is a positive constant, so every distance it would
    * scale ranks identically without it — and the fixed-point
    * candidate distances stay comfortably integral. */
  def rpPlanes(nPlanes: Int, dim: Int): Array[Array[Float]] = {
    require(nPlanes > 0 && dim > 0, s"need positive dims, got $nPlanes x $dim")
    Array.tabulate(nPlanes, dim)((p, d) => planeSign(p + RpSalt, d))
  }

  /** f32 sequential dot — the DRIVER-side twin of
    * [[graft.functions.DotProductF32]] (same accumulation order, so
    * bit-identical) for projecting the query vector without a Spark
    * job. */
  private[graft] def dotF32Local(a: Seq[Float], b: Array[Float]): Float = {
    val n = math.min(a.length, b.length)
    var acc = 0.0f; var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Attach the d'-dim JL projection: proj[p] = f32 dot(vec,
    * plane_p) — a narrow codegen'd map (`transform` over a plane
    * literal with the [[graft.functions.DotProductF32]] kernel
    * inside). At 100 TB this runs ONCE at ingest and the projected
    * column is what candidate scans read: a 1024-d f32 corpus
    * shrinks 1024/d'-fold for the scan stage, with the JL lemma
    * bounding the pairwise-distance distortion. Complements sign-LSH:
    * same plane family, but magnitudes survive (sign-LSH keeps one
    * BIT per plane), so ranking in the projected space is meaningful
    * and needs no bucket/probe tuning. */
  def withRpProjection(df: DataFrame, planes: Array[Array[Float]],
                       embCol: String = "embedding",
                       out: String = "rp_proj"): DataFrame = {
    val planesLit = typedLit(planes.map(_.toSeq).toSeq)
    df.withColumn(out, transform(planesLit, p => dotF32(col(embCol), p)))
  }

  /** ANN top-k via the JL projection: rank ALL rows by projected-space
    * distance (cheap: d' dims instead of d), keep `candidates` of
    * them, exact-rerank those to the final k.
    *
    * The candidate distance is exact fixed point —
    * dist_fp = Σ_p floor((Δ_p²) · 2²⁰) with Δ_p the f32 projection
    * difference — so candidate selection is bit-stable across
    * engines, partitionings, and runs (floats only ever enter through
    * the f32 kernels that bit-match DuckDB's list functions). The
    * candidate stage is a narrow scan + TakeOrdered (no shuffle); the
    * rerank joins the `candidates`-row frame back as a broadcast. */
  def searchRp(projected: DataFrame, planes: Array[Array[Float]],
               queryVec: Seq[Float], k: Int, candidates: Int,
               embCol: String = "embedding", idCol: String = "vec_id",
               projCol: String = "rp_proj"): DataFrame = {
    require(k > 0 && candidates >= k,
      s"need candidates >= k > 0, got k=$k candidates=$candidates")
    val qp = planes.map(pl => dotF32Local(queryVec, pl))
    val qLit = typedLit(qp.toSeq)
    val distFp = aggregate(
      zip_with(col(projCol), qLit, (a, b) =>
        floor(((a - b) * (a - b)).cast("double") * lit(1048576.0)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    // nulls LAST on both stages (the VectorSearch.topKWithScore rule):
    // a null embedding row projects/rescores to null, and the default
    // NULLS FIRST would seat it ahead of every real neighbor
    val cand = projected.withColumn("rp_dist_fp", distFp)
      .select(col(idCol), col("rp_dist_fp"))
      .orderBy(col("rp_dist_fp").asc_nulls_last, col(idCol))
      .limit(candidates)
    projected.join(broadcast(cand), Seq(idCol))
      .withColumn("dist", l2DistF32(col(embCol), typedLit(queryVec)).cast("double"))
      .orderBy(col("dist").asc_nulls_last, col(idCol)).limit(k)
      .drop(embCol, projCol)
  }

  /** Approximate kNN-graph over the IVF cells: per vector, its `k`
    * nearest neighbors INSIDE its own routing cell — the seed graph
    * SemDeDup-style semantic dedup and NN-descent refinement start
    * from, and the batch form of what [[Hnsw]] maintains online.
    *
    * One co-cluster self-join (both sides renamed — the shared-lineage
    * equality rule), shuffled on cluster id only: per-cell cost is
    * |cell|², the standard within-cell bound, and the cell-count knob
    * caps it at any corpus size (more cells → smaller cells; the
    * routing loss is the usual IVF recall tradeoff). Dists ride the
    * f32 kernel, ranks break ties (dist, neighbor id); vectors whose
    * cell holds nothing else emit no rows. Null ids/embeddings never
    * join (cross-engine hygiene). */
  def knnGraph(index: IvfIndex, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = index.assigned.sparkSession
    val clean = index.assigned
      .where(col(index.idCol).isNotNull && col(index.embCol).isNotNull)
      .select(col("ivf_cluster").cast("int").as("__cell"),
        col(index.idCol).as("src_id"), col(index.embCol).as("__emb"))

    // cell-local brute force in mapPartitions, NOT a self-join: the
    // join form materializes |cell|² wide rows (two embedding arrays
    // each) before the rank window prunes them — measured 78 s → the
    // loop below at the 100× fixture for identical output. Cells
    // arrive co-partitioned and contiguous (repartition + sort by
    // cell); one cell buffers at a time (the lazy per-group iterator
    // rule — task memory = max cell population, which the
    // corpus-proportional cell count bounds). Distances are the
    // PartitionedTopK f32 kernel — bit-equal to `list_distance` — and
    // the cut order (f32 dist, nbr id) widens monotonically to the
    // (double, id) rank order the oracle replays.
    val partial = clean
      .repartition(col("__cell"))
      .sortWithinPartitions(col("__cell"))
      .rdd.mapPartitions { rows =>
        val buf = rows.buffered
        new Iterator[org.apache.spark.sql.Row] {
          private var out: Iterator[org.apache.spark.sql.Row] = Iterator.empty
          private def refill(): Unit = {
            while (!out.hasNext && buf.hasNext) {
              val cell = buf.head.getInt(0)
              val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
              val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
              while (buf.hasNext && buf.head.getInt(0) == cell) {
                val r = buf.next()
                ids += r.getLong(1)
                vecs += r.getSeq[Float](2).toArray
              }
              val n = ids.length
              out =
                if (n < 2) Iterator.empty
                else (0 until n).iterator.flatMap { i =>
                  // ONE cut kernel shared with knnGraphRefined's seed
                  // (topKAgainst) — tie-break or kernel changes cannot
                  // fork the two graph operators
                  val top = topKAgainst(ids(i), vecs(i), ids, vecs, k)
                  (0 until top.size).iterator.map { r =>
                    org.apache.spark.sql.Row(ids(i), top.id(r),
                      TopK.ascValue(top.key(r)), (r + 1).toLong)
                  }
                }
            }
          }
          def hasNext: Boolean = { refill(); out.hasNext }
          def next(): org.apache.spark.sql.Row = { refill(); out.next() }
        }
      }
    val idType = index.assigned.schema(index.idCol).dataType
    require(idType == org.apache.spark.sql.types.LongType,
      s"knnGraph id column must be long, got $idType")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("nbr_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dist",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("rn",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(partial, schema)
      .orderBy(col("src_id"), col("rn"))
  }

  /** kth-NN distance outliers (Ramaswamy et al., SIGMOD'00 — the
    * classic kNN outlier score): a vector whose k-th nearest neighbor
    * is FAR sits alone in embedding space — mislabeled, corrupt, or
    * genuinely novel; the standard embedding-space cleaning signal for
    * a training corpus. Score = the [[knnGraph]] rank-k distance
    * inside the vector's routing cell; top-`n` by (score desc, id).
    *
    * Vectors whose cell holds < k other members have no k-th neighbor
    * and are NOT scored (with corpus-proportional cells that means
    * near-empty cells — themselves an outlier signal a caller can read
    * off the assignment counts). Inherits the graph's exact-arithmetic
    * oracle story wholesale.
    *
    * The co-cell graph OVERSTATES outlierness at cell boundaries: a
    * boundary vector whose true nearest neighbors sit in the adjacent
    * cell gets an inflated rank-k distance. The same score read off
    * the rank-k row of [[knnGraphRefined]] sees across the boundary
    * (the `outlier_knn_refined` query). */
  def knnOutliers(index: IvfIndex, k: Int, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    knnGraph(index, k).filter(col("rn") === k)
      .select(col("src_id"), col("dist").as("knn_dist"))
      .orderBy(col("knn_dist").desc, col("src_id"))
      .limit(n)
  }

  /** Boundary-recall kNN-graph: multi-probe seed + NN-descent
    * refinement — the fix for [[knnGraph]]'s structural blind spot
    * (co-cell only: a vector's true nearest neighbor in an adjacent
    * IVF cell is invisible; measured recall@10 on the fixture is 0.30).
    *
    *  - SEED: each vector probes its `probes` nearest cells
    *    ([[rankProbes]], f32 + cell-id tie-break) and ranks the
    *    probed cells' HOME members (the `ivf_cluster` assignment —
    *    what the oracle's asg handoff carries) to an internal width
    *    `workK ≥ k`. Edges still compute cell-locally: candidates are
    *    buffered once per cell, queries STREAM against them (memory =
    *    one cell's home members, the lazy-group rule).
    *  - REFINE (×`refineRounds`): NN-descent's local join (Dong et
    *    al., WWW'11) — symmetrize the graph, and for every pivot j
    *    all members of B(j) ∪ {j} become candidates for EACH OTHER;
    *    re-rank per src to workK. Every stage is (dist, id)
    *    tie-broken exact arithmetic on the f32 kernel: no RNG, no
    *    iteration-order dependence, so the WHOLE construction —
    *    seed, every round, final truncation — replays in SQL and the
    *    recall gate can hash it (`knn_graph_recall`).
    *  - The internal width is the recall lever NN-descent needs on
    *    hard (unclustered) data: probes=2/workK=2k/rounds=2 measures
    *    0.98 recall@10 on the fixture whose co-cell graph sits at
    *    0.30 and whose IVF routing caps at 0.89 even probing HALF the
    *    cells — the data is the adversarial case for routing, which
    *    is exactly when a consumer needs the refinement.
    *
    * 100 TB shape: the seed shuffles (1+probes)·n slim rows grouped
    * by cell (per-cell cost |queries|·|members|, cells stay
    * corpus-proportional); each round shuffles 2·n·workK
    * embedding-attached rows grouped by pivot and emits ≤(2·workK+1)²
    * slim candidate rows per pivot that map-side-combine into the
    * (src, nbr) dedup — all linear in n with workK² constants, no
    * corpus broadcast, no driver materialization. Output contract =
    * [[knnGraph]]: (src_id, nbr_id, dist, rn ≤ k). */
  def knnGraphRefined(index: IvfIndex, k: Int, probes: Int = 2,
                      refineRounds: Int = 2, workK: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probes >= 1, s"probes must be >= 1, got $probes")
    require(refineRounds >= 0, s"refineRounds must be >= 0, got $refineRounds")
    val kk = math.max(k, if (workK <= 0) 2 * k else workK)
    val spark = index.assigned.sparkSession
    val clean = index.assigned
      .where(col(index.idCol).isNotNull && col(index.embCol).isNotNull)
      .select(col("ivf_cluster").cast("int").as("__cell"),
        col(index.idCol).as("__id"), col(index.embCol).as("__emb"))
      // one projection, many consumers (seed homes+queries, per-round
      // embedding attach + pivot self rows) — all consumed EAGERLY by
      // the per-stage localCheckpoints, so the explicit unpersist at
      // the end frees it before the caller's action even starts
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idType = index.assigned.schema(index.idCol).dataType
    require(idType == org.apache.spark.sql.types.LongType,
      s"knnGraphRefined id column must be long, got $idType")

    val cents = index.centroids
    val probeUdf = udf { (v: Seq[Float]) =>
      rankProbes(cents, v.toArray, probes).toArray }
    // home members (candidates) sort BEFORE queries inside each cell:
    // buffer candidates once, stream every query row against them
    val homes = clean.select(col("__cell"), col("__id"), col("__emb"),
      lit(false).as("__is_q"))
    val queries = clean.select(explode(probeUdf(col("__emb"))).as("__cell"),
      col("__id"), col("__emb"), lit(true).as("__is_q"))
    val seedRows = homes.unionByName(queries)
      .repartition(col("__cell"))
      .sortWithinPartitions(col("__cell"), col("__is_q"))
      .rdd.mapPartitions { rows =>
        val buf = rows.buffered
        // task memory = ONE cell's home members. Queries are NOT
        // buffered: on adversarial (unclustered) data — the operator's
        // own target — many vectors probe the same few central cells,
        // so the per-cell query count is unbounded by cell population;
        // each query row streams off the sorted input, answers against
        // the buffered candidates, and is dropped
        new Iterator[org.apache.spark.sql.Row] {
          private var out: Iterator[org.apache.spark.sql.Row] = Iterator.empty
          private var curCell = Int.MinValue
          private var ids = scala.collection.mutable.ArrayBuffer.empty[Long]
          private var vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
          private def refill(): Unit = {
            while (!out.hasNext && buf.hasNext) {
              if (buf.head.getInt(0) != curCell) {
                curCell = buf.head.getInt(0)
                ids = scala.collection.mutable.ArrayBuffer.empty[Long]
                vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
                while (buf.hasNext && buf.head.getInt(0) == curCell &&
                       !buf.head.getBoolean(3)) {
                  val r = buf.next()
                  ids += r.getLong(1)
                  vecs += r.getSeq[Float](2).toArray
                }
              }
              if (buf.hasNext && buf.head.getInt(0) == curCell) {
                val r = buf.next() // exactly one query row per refill
                val qid = r.getLong(1)
                val top = topKAgainst(qid, r.getSeq[Float](2).toArray,
                    ids, vecs, kk)
                out = (0 until top.size).iterator.map { i =>
                  org.apache.spark.sql.Row(qid, top.id(i),
                    TopK.ascValue(top.key(i)))
                }
              }
            }
          }
          def hasNext: Boolean = { refill(); out.hasNext }
          def next(): org.apache.spark.sql.Row = { refill(); out.next() }
        }
      }
    // seed contract: per src, rank ≤ workK over the UNION of its
    // probed cells' members — per-cell cuts emit ≤ probes·workK rows
    // per src, one fused repartition+cut merges them ([[topKPerSrc]]:
    // dedup + rank in ONE exchange, no agg + window pair). Checkpoint:
    // each round consumes `edges` twice.
    var edges = Dedup.localCheckpoint(topKPerSrc(
      spark.createDataFrame(seedRows, edgeSchema), kk), eager = true)

    val embF = clean.select(col("__id").as("__eid"), col("__emb"))
    var round = 0
    while (round < refineRounds) {
      // NN-descent local join: pivot j's B(j) ∪ {j}, embeddings
      // attached per endpoint; one cell of the groupBy = one pivot's
      // ≤ 2·workK+1 members — pairs stream out of a lazy per-pivot
      // iterator and land in the (src, nbr) min-dist dedup
      val e = edges.select(col("src"), col("nbr"))
      val sym = e.unionByName(e.select(col("nbr").as("src"), col("src").as("nbr")))
        .distinct()
      val mem = sym.select(col("src").as("__pivot"), col("nbr").as("__mid"))
        .unionByName(clean.select(col("__id").as("__pivot"), col("__id").as("__mid")))
        .join(embF, col("__mid") === col("__eid"))
        .select(col("__pivot"), col("__mid"), col("__emb"))
      val pairRows = mem
        .repartition(col("__pivot"))
        .sortWithinPartitions(col("__pivot"))
        .rdd.mapPartitions { rows =>
          val buf = rows.buffered
          new Iterator[org.apache.spark.sql.Row] {
            private var out: Iterator[org.apache.spark.sql.Row] = Iterator.empty
            private def refill(): Unit = {
              while (!out.hasNext && buf.hasNext) {
                val pivot = buf.head.getLong(0)
                val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
                val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
                while (buf.hasNext && buf.head.getLong(0) == pivot) {
                  val r = buf.next()
                  ids += r.getLong(1)
                  vecs += r.getSeq[Float](2).toArray
                }
                val n = ids.length
                out =
                  if (n < 2) Iterator.empty
                  else (0 until n).iterator.flatMap { i =>
                    (0 until n).iterator.filter { j =>
                      j != i && ids(j) != ids(i)
                    }.map { j =>
                      org.apache.spark.sql.Row(ids(i), ids(j),
                        PartitionedTopK.l2F32(vecs(i), vecs(j)).toDouble)
                    }
                  }
              }
            }
            def hasNext: Boolean = { refill(); out.hasNext }
            def next(): org.apache.spark.sql.Row = { refill(); out.next() }
          }
        }
      // dedup + re-rank fused into one exchange; localCheckpoint
      // truncates lineage (each round's plan would otherwise nest the
      // previous round's full DAG — the connectedComponents rule)
      edges = Dedup.localCheckpoint(topKPerSrc(
        spark.createDataFrame(pairRows, edgeSchema).unionByName(edges), kk),
        eager = true)
      round += 1
    }

    clean.unpersist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dist"), col("nbr"))
    edges.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("src").as("src_id"), col("nbr").as("nbr_id"),
        col("dist"), col("rn"))
      .orderBy(col("src_id"), col("rn"))
  }

  /** Fused dedup + per-src top-`kk` over an (src, nbr, dist) edge
    * stream: ONE repartition-by-src exchange sorted on (src, nbr), so
    * duplicate (src, nbr) rows — which carry identical deterministic
    * dists — arrive ADJACENT and dedup with a last-nbr cursor, no
    * per-src set; the per-src cut is [[TopK]] on (dist, nbr).
    * Replaces the groupBy(src, nbr) agg + window rank
    * pair, which paid two exchanges of the same candidate stream —
    * at the 100× fixture the candidate stream is the round's dominant
    * volume, so the saved exchange is the round's wall-clock lever.
    * Per-src task memory = the kk-cut ALONE: a hub src whose
    * reverse-kNN degree makes its candidate list O(n·workK) streams
    * through the sort-merge without ever materializing (the
    * seen-set form this replaced grew O(candidates) on exactly that
    * src). */
  private def topKPerSrc(df: DataFrame, kk: Int): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.repartition(col("src"))
      .sortWithinPartitions(col("src"), col("nbr"))
      .rdd.mapPartitions { rows =>
        val buf = rows.buffered
        new Iterator[org.apache.spark.sql.Row] {
          private var cur: Iterator[org.apache.spark.sql.Row] = Iterator.empty
          private def refill(): Unit =
            while (!cur.hasNext && buf.hasNext) {
              val src = buf.head.getLong(0)
              var lastNbr = Long.MinValue
              var first = true
              val top = new TopK[AnyRef](kk)
              while (buf.hasNext && buf.head.getLong(0) == src) {
                val r = buf.next()
                val nbr = r.getLong(1)
                if (first || nbr != lastNbr) {
                  first = false; lastNbr = nbr
                  top.offer(TopK.asc(r.getDouble(2)), nbr)
                }
              }
              cur = (0 until top.size).iterator.map { i =>
                org.apache.spark.sql.Row(src, top.id(i), TopK.ascValue(top.key(i)))
              }
            }
          def hasNext: Boolean = { refill(); cur.hasNext }
          def next(): org.apache.spark.sql.Row = { refill(); cur.next() }
        }
      }
    spark.createDataFrame(rdd, edgeSchema)
  }

  private val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("src",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("nbr",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("dist",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  /** Top-`kk` of one query against a buffered candidate list —
    * (f32 dist, id) ascending, self-excluded by id, a kept pair's dist
    * is `TopK.ascValue(key)`. The ONE inner kernel shared by
    * [[knnGraph]] and [[knnGraphRefined]]'s seed, and the graph
    * family's measured hot path: it allocates nothing per candidate
    * (the boxed tuple heap it replaced measured ~4300 cycles per
    * CANDIDATE at the 100× probe, 2e8 candidates → the whole
    * knn_graph wall), and once the cut is full the worst kept
    * distance feeds the kernel's monotone early exit
    * ([[PartitionedTopK.l2F32Bounded]]), so most losers abort their
    * distance loop a fraction in. Every KEPT distance comes from the
    * identical accumulation order as l2F32. */
  private def topKAgainst(qid: Long, qv: Array[Float],
                          ids: scala.collection.mutable.ArrayBuffer[Long],
                          vecs: scala.collection.mutable.ArrayBuffer[Array[Float]],
                          kk: Int): TopK[AnyRef] = {
    val top = new TopK[AnyRef](kk)
    var bound = Float.PositiveInfinity
    var j = 0
    while (j < ids.length) {
      val id = ids(j)
      if (id != qid) {
        val key = TopK.asc(PartitionedTopK.l2F32Bounded(qv, vecs(j), bound).toDouble)
        if (top.admits(key, id)) {
          top.add(key, id, null)
          if (top.full) bound = TopK.ascValue(top.worstKey).toFloat
        }
      }
      j += 1
    }
    top
  }
}
