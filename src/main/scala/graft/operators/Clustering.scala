package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-space domain discovery: profile a k-means clustering of
  * the corpus.
  *
  * Training pipelines cluster document embeddings to discover topical
  * domains, then weight/sample per cluster (cf. the temperature mixing
  * in [[Refresh.temperatureMix]], which consumes exactly this kind of
  * per-domain census). The clustering itself reuses [[Ann.buildIvf]] —
  * one seeded MLlib k-means fit, one narrow assignment map — so an
  * already-persisted IVF search index doubles as the domain model at
  * zero extra cost.
  *
  * Scale shape: the profile is two tiny-cardinality aggregations over
  * the assigned corpus — (cluster) and (cluster, label) hash-aggs,
  * both map-side combined to ~k and k·|labels| rows before any
  * shuffle; centroids ride in via a broadcast of k rows. Nothing here
  * moves corpus-sized data.
  */
object Clustering {

  /** Per-cluster census over an IVF-assigned corpus: size, mean
    * distance-to-centroid (cohesion), dominant value of `labelCol`
    * and its share. Output ordered by (n desc, cluster_id) — a stable
    * total order even though k-means cluster ids are arbitrary. */
  def clusterProfile(index: Ann.IvfIndex, labelCol: String = "label")
      : DataFrame = {
    val spark = index.assigned.sparkSession
    val centDf = Ann.centroidsDf(spark, index.centroids, "ivf_cluster")
      .withColumnRenamed("centroid", "__centroid")

    // ONE corpus pass: broadcast-join centroids, then a (cluster, label)
    // hash-agg carrying both the census counts and the distance sums;
    // the second-level agg runs over ~k·|labels| rows only. Distances
    // accumulate in [[Ann.fp]] fixed point (longs — exact, associative)
    // so mean_dist is bit-stable under any partitioning and DuckDB can
    // replay it from the same per-row f32 kernel values.
    val perLabel = index.assigned
      .join(broadcast(centDf), Seq("ivf_cluster"))
      .withColumn("dist", Ann.fp(
        graft.functions.VectorFunctions.l2DistF32(
          col(index.embCol), col("__centroid")).cast("double")))
      .groupBy(col("ivf_cluster"), col(labelCol).as("lbl"))
      .agg(count(lit(1)).as("ln"), sum(col("dist")).as("sd"))

    perLabel.groupBy(col("ivf_cluster"))
      .agg(sum(col("ln")).as("n"),
        (sum(col("sd")).cast("double") /
          (sum(col("ln")) * Ann.FpScale).cast("double")).as("mean_dist"),
        // ONE aggregate owns the (count, label) tie-break; the label
        // and its count are fields of the same max so they can never
        // drift apart on edit
        max(struct(col("ln"), col("lbl"))).as("__m"))
      .select(col("ivf_cluster").cast("long").as("cluster_id"),
        col("n"), col("mean_dist"),
        col("__m").getField("lbl").as("majority_label"),
        (col("__m").getField("ln").cast("double") / col("n"))
          .as("majority_frac"))
      .orderBy(col("n").desc, col("cluster_id"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup via
    * cluster-then-pair. All-pairs cosine over a 100 TB embedding
    * corpus is not a plan; SemDeDup's observation is that semantic
    * near-dups co-locate in k-means clusters, so pairing only WITHIN
    * clusters bounds candidates by Σ|cluster|² — with balanced
    * clusters, a k-fold reduction that compounds with k. The
    * clustering reuses the same persisted IVF index the ANN path
    * searches (one fit, three consumers).
    *
    * Per cluster: pairs with cosine ≥ `threshold` (the f32 kernel,
    * DuckDB-parity), connected components, and each component keeps
    * the member FARTHEST from its centroid (the paper's keep-low-
    * centroid-similarity rule: near-centroid members are the
    * redundant "typical" copies; the far one carries the most extra
    * information). Distance ranks in [[Ann.fp]] fixed point so the
    * winner choice is bit-deterministic; ties break to the lowest id.
    *
    * Output: (idCol, ivf_cluster, dist_fp, kept) for EVERY corpus
    * vector — vectors in no near-dup pair are trivially kept.
    *
    * Plan shape: pair generation repartitions by cluster (candidate-
    * bounded, never corpus×corpus); components run on the pair set
    * (large-star/small-star, O(log n) rounds); the keep rule is two
    * map-side-combinable aggs
    * ([[Dedup.keepCanonicalByFromComponents]]). Skewed mega-clusters
    * are the known failure mode — cap or split them at fit time (more
    * k), not at pair time.
    *
    * Near-dups whose twins land in adjacent cells are not paired: the
    * same boundary blind spot [[Ann.knnGraph]] has. */
  def semDedup(index: Ann.IvfIndex, threshold: Double): DataFrame = {
    val spark = index.assigned.sparkSession
    val centDf = Ann.centroidsDf(spark, index.centroids, "ivf_cluster")
      .withColumnRenamed("centroid", "__centroid")
    val base = index.assigned
      .join(broadcast(centDf), Seq("ivf_cluster"))
      .select(col(index.idCol), col("ivf_cluster").cast("int").as("ivf_cluster"),
        col(index.embCol),
        Ann.fp(graft.functions.VectorFunctions.l2DistF32(
          col(index.embCol), col("__centroid")).cast("double")).as("dist_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // CLASS-COLLAPSED within-cluster pair generation (r13):
    // identical embeddings (boilerplate corpora, scaled fixtures)
    // inflate each cell's candidate volume k² under k-fold
    // duplication, and the cell-quadratic join paid it at id grain
    // (43.5 s of the 100× suite as twin-replicated cells). They
    // always share a cluster (same deterministic assignment), so
    // classes are cluster-local: the candidate join runs once per
    // DISTINCT-embedding pair per cell; same-class members merge
    // through cosineExpandComponents' defined-1.0 rule — the
    // clamped kernel's cosine of identical non-zero vectors IS
    // 1.0, zero vectors never pair (the kernel's zero-norm rule,
    // preserved; thresholds ≤ 0 would diverge on all-zero twins,
    // but a cosine DEDUP threshold is positive by meaning). The
    // id-level pair set never materializes; the kept set is
    // identical (ClusteringSpec's planted winners + idempotency
    // pins, DedupSpec's class == id-level family).
    val (classes, members) = Dedup.cosineClasses(
      base.select(col(index.idCol), col(index.embCol)),
      index.idCol, index.embCol)
    val repsC = classes.join(
      base.select(col(index.idCol).as("__rep"), col("ivf_cluster")),
      Seq("__rep"))
    val a = repsC.select(col("ivf_cluster"), col("__rep").as("__ra"),
      col("__emb").as("__ea"))
    val b = repsC.select(col("ivf_cluster"), col("__rep").as("__rb"),
      col("__emb").as("__eb"))
    val repPairs = a.join(b, Seq("ivf_cluster"))
      .filter(col("__ra") < col("__rb"))
      .filter(graft.functions.VectorFunctions
        .cosSimF32(col("__ea"), col("__eb")).cast("double") >= threshold)
      .select(col("__ra"), col("__rb"))
    val comps = Dedup.cosineExpandComponents(classes, members, repPairs,
      threshold)
    Dedup.releaseAfterUse(classes)
    // flag every base row with its survival verdict
    val kept = Dedup.keepCanonicalByFromComponents(
        base.select(col(index.idCol), col("dist_fp")), comps, index.idCol, "dist_fp")
      .select(col(index.idCol)).withColumn("__kept", lit(true))
    val out = base.select(col(index.idCol), col("ivf_cluster"), col("dist_fp"))
      .join(kept, Seq(index.idCol), "left")
      .select(col(index.idCol), col("ivf_cluster"), col("dist_fp"),
        coalesce(col("__kept"), lit(false)).as("kept"))
    Dedup.releaseAfterUse(base)
    out
  }

  /** Greedy k-center coreset (Gonzalez '85 farthest-point traversal):
    * pick the `k` most mutually-distant vectors — the classic
    * diversity/coreset selection a training pipeline runs to get a
    * small set that COVERS embedding space (dataset summarization,
    * diverse eval-set picking, seed selection for labeling).
    *
    * Deterministic: seed = smallest id; each round picks the vector
    * maximizing its min distance to the picked set, ties to the
    * smaller id. Distances are the one f32 row kernel
    * ([[PartitionedTopK.l2F32]]) widened to double, so every pick
    * replays in SQL as a recursive CTE over `list_distance` (the
    * mmr_rerank greedy-loop oracle shape) — the per-round float MIN
    * widens monotonically, no fixed point needed.
    *
    * Scale shape: k sequential narrow passes (the algorithm is
    * inherently iterative — each pick depends on all prior picks);
    * each pass is one map with the ≤k-center array riding the closure
    * + a TakeOrdered(1). No shuffle, no corpus collect. Output:
    * (pick_rank, id, covered_dist) — covered_dist is the picked
    * vector's min distance to the PRIOR centers (the coverage radius
    * sequence, decreasing), NULL for the seed. */
  def kCenterCoreset(corpus: DataFrame, k: Int,
                     embCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val idType = corpus.schema(idCol).dataType
    require(idType == org.apache.spark.sql.types.LongType,
      s"kCenterCoreset id column must be long, got $idType")
    val spark = corpus.sparkSession
    import spark.implicits._
    // explicit unpersist AFTER the loop, NOT releaseAfterUse: the k
    // greedy rounds are the only readers, so the cache is freed as
    // soon as they end instead of at the query boundary
    val clean = corpus
      .where(col(idCol).isNotNull && col(embCol).isNotNull)
      .select(col(idCol).as("id"), col(embCol))
      .persist()
    try {
      val seedRow = clean.orderBy(col("id")).limit(1).collect()
      require(seedRow.nonEmpty, "empty corpus: nothing to pick")
      val centers = scala.collection.mutable.ArrayBuffer(
        (seedRow(0).getLong(0), seedRow(0).getSeq[Float](1).toArray))
      val picks = scala.collection.mutable.ArrayBuffer(
        (1L, centers(0)._1, Option.empty[Double]))

      var r = 2
      while (r <= k) {
        val cArr = centers.map(_._2).toArray
        val cIds = centers.map(_._1).toSet
        val mind = udf { (v: Seq[Float]) =>
          val a = v.toArray
          var m = Float.MaxValue
          var i = 0
          while (i < cArr.length) {
            val d = PartitionedTopK.l2F32(a, cArr(i))
            if (d < m) m = d
            i += 1
          }
          m.toDouble
        }
        val next = clean
          .where(!col("id").isin(cIds.toSeq: _*))
          .select(col("id"), col(embCol), mind(col(embCol)).as("mind"))
          .orderBy(col("mind").desc, col("id"))
          .limit(1).collect()
        if (next.isEmpty) r = k + 1 // corpus smaller than k: stop
        else {
          centers += ((next(0).getLong(0), next(0).getSeq[Float](1).toArray))
          picks += ((r.toLong, next(0).getLong(0), Some(next(0).getDouble(2))))
          r += 1
        }
      }
      picks.toSeq
        .toDF("pick_rank", idCol, "covered_dist")
        .orderBy(col("pick_rank"))
    } finally clean.unpersist(blocking = false)
  }
}
