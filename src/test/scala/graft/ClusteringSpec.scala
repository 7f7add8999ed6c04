package graft

import graft.operators.{Ann, Clustering}

/** Domain-discovery spec: planted well-separated clusters must be
  * recovered exactly (purity 1.0, exact sizes), and the profile must
  * be deterministic across runs (seeded fit, stable ordering). */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def planted() = {
    // 3 clusters at distant corners of R^8, 30/20/10 points, jitter
    // small vs separation so the optimum is unambiguous
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      (0, Array.fill(8)(0f)),
      (1, Array.fill(8)(10f)),
      (2, Array.tabulate(8)(i => if (i % 2 == 0) -10f else 10f)))
    val sizes = Map(0 -> 30, 1 -> 20, 2 -> 10)
    val rows = for {
      (lbl, c) <- centers
      i <- 0 until sizes(lbl)
    } yield ((lbl * 1000 + i).toLong,
      c.map(v => v + rnd.nextFloat() * 0.1f), lbl)
    rows.toDF("vec_id", "embedding", "label")
  }

  test("k-means recovers planted domains: sizes exact, purity 1.0, cohesion tight") {
    val prof = Clustering.clusterProfile(Ann.buildIvf(planted(), 3))
      .collect()
    assert(prof.length === 3)
    // ordered by size desc → 30, 20, 10
    assert(prof.map(_.getAs[Long]("n")).toSeq === Seq(30L, 20L, 10L))
    assert(prof.forall(_.getAs[Double]("majority_frac") === 1.0))
    assert(prof.map(_.getAs[Int]("majority_label")).toSet === Set(0, 1, 2))
    // jitter is <=0.1 per dim → mean distance far below the >=20 separation
    assert(prof.forall(_.getAs[Double]("mean_dist") < 1.0))
  }

  test("profile is deterministic across independent fits") {
    val a = Clustering.clusterProfile(Ann.buildIvf(planted(), 3)).collect()
    val b = Clustering.clusterProfile(Ann.buildIvf(planted(), 3)).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  // ----------------------------------------------------------- SemDeDup

  /** Hand-built index: two clusters with planted dup pairs whose
    * winner the keep-farthest rule determines unambiguously, plus a
    * same-direction pair SPLIT across clusters (must NOT pair —
    * cluster-scoping is the scale contract). */
  private def semIndex() = {
    val centroids = Array(
      Array(1f, 0f, 0f, 0f),  // cluster 0
      Array(0f, 0f, 1f, 0f))  // cluster 1
    val rows = Seq(
      (1L, Seq(2f, 0f, 0f, 0f), 0),     // dup with v2; dist 1 → dropped
      (2L, Seq(3f, 0f, 0f, 0f), 0),     // dup with v1; dist 2 → kept (farther)
      (3L, Seq(0f, 5f, 0f, 0f), 0),     // orthogonal → no pair → kept
      (4L, Seq(0f, 0f, 2f, 0f), 1),     // dup with v5; dist 1 → dropped
      (5L, Seq(0f, 0f, 2.5f, 0f), 1),   // dup with v4; dist 1.5 → kept
      (6L, Seq(5f, 0f, 0f, 0f), 1))     // cos 1 with v1/v2 but OTHER cluster → kept
      .toDF("vec_id", "embedding", "ivf_cluster")
    Ann.IvfIndex(centroids, rows, "embedding", "vec_id")
  }

  test("semDedup: keeps the farthest-from-centroid member per dup component, cluster-scoped") {
    val out = Clustering.semDedup(semIndex(), threshold = 0.9)
      .orderBy(org.apache.spark.sql.functions.col("vec_id")).collect()
    val kept = out.map(r => r.getLong(0) -> r.getAs[Boolean]("kept")).toMap
    assert(kept === Map(1L -> false, 2L -> true, 3L -> true,
      4L -> false, 5L -> true, 6L -> true))
    // every vector keeps its row, with its cluster and a ranked distance
    assert(out.length === 6)
    val d = out.map(r => r.getLong(0) -> r.getAs[Long]("dist_fp")).toMap
    assert(d(2L) > d(1L) && d(5L) > d(4L)) // the keep rule's evidence
  }

  test("semDedup is partitioning-independent and idempotent-on-survivors") {
    val idx = semIndex()
    val a = Clustering.semDedup(idx, 0.9)
      .orderBy(org.apache.spark.sql.functions.col("vec_id")).collect().toSeq
    val b = Clustering.semDedup(
        idx.copy(assigned = idx.assigned.repartition(5)), 0.9)
      .orderBy(org.apache.spark.sql.functions.col("vec_id")).collect().toSeq
    assert(a === b)
    // rerunning on the survivors drops nothing further (dup pairs gone)
    val survivors = idx.assigned.join(
      Clustering.semDedup(idx, 0.9)
        .filter(org.apache.spark.sql.functions.col("kept"))
        .select("vec_id"), Seq("vec_id"))
    val again = Clustering.semDedup(idx.copy(assigned = survivors), 0.9)
    assert(again.filter(!org.apache.spark.sql.functions.col("kept")).count() === 0)
  }

  test("kCenterCoreset == greedy driver reference; radii non-increasing") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sfDir)
    val got = Clustering.kCenterCoreset(emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq

    val rows = emb.where(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def d(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0f; var i = 0
      while (i < a.length) { val x = a(i) - b(i); acc += x * x; i += 1 }
      math.sqrt(acc.toDouble).toFloat.toDouble
    }
    val embMap = rows.toMap
    var centers = Seq(rows.map(_._1).min)
    var want = Seq((1L, centers.head, Option.empty[Double]))
    (2 to 5).foreach { r =>
      val (id, mind) = rows.filterNot(x => centers.contains(x._1))
        .map { case (id, v) => (id, centers.map(c => d(v, embMap(c))).min) }
        .minBy { case (id, m) => (-m, id) }
      centers = centers :+ id
      want = want :+ ((r.toLong, id, Some(mind)))
    }
    assert(got === want)
    // coverage radii decrease (weakly) — the k-center invariant
    val radii = got.flatMap(_._3)
    assert(radii === radii.sorted.reverse)
  }

  test("kCenterCoreset: corpus smaller than k stops early; guards") {
    import org.apache.spark.sql.functions.col
    val tiny = graft.Tables.embeddings(spark, sfDir).where(col("vec_id") < 3)
    val got = Clustering.kCenterCoreset(tiny, k = 10).collect()
    assert(got.length === 3)
    intercept[IllegalArgumentException](
      Clustering.kCenterCoreset(tiny, k = 0))
    intercept[IllegalArgumentException](
      Clustering.kCenterCoreset(tiny.where(org.apache.spark.sql.functions.lit(false)), k = 2))
  }

  test("knnOutliers: the top outlier carries the global max rank-k distance") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 4)
    val graph = Ann.knnGraph(idx, k = 3).collect()
    val kth = graph.filter(_.getLong(3) == 3L)
      .map(r => (r.getLong(0), r.getDouble(2)))
    val out = Ann.knnOutliers(idx, k = 3, n = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val want = kth.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    assert(out.toSeq === want)
  }

  test("knnOutliers refined: boundary false-positive demoted, true loner found only by the refined path") {
    import spark.implicits._
    // x sits at the cell-0/cell-1 boundary: its co-cell rank-1 distance
    // (3.5, to a2) EXCEEDS the true loner L's (3.0, to b2) because x's
    // real nearest neighbor b1 lives in the adjacent cell (dist 2.0) —
    // the co-cell score inflates exactly at boundaries
    val assigned = Seq(
      (1L, Seq(-0.5f, 0f), 0), // a1
      (2L, Seq(0.5f, 0f), 0),  // a2
      (3L, Seq(4f, 0f), 0),    // x (boundary)
      (4L, Seq(6f, 0f), 1),    // b1 — x's true NN
      (5L, Seq(6.5f, 0f), 1),  // b2
      (6L, Seq(9.5f, 0f), 1)   // L — the genuine loner
    ).toDF("vec_id", "embedding", "ivf_cluster")
    val cents = Array(Array(0f, 0f), Array(7f, 0f))
    val index = Ann.IvfIndex(cents, assigned, "embedding", "vec_id")
    val coCell = Ann.knnOutliers(index, k = 1, n = 1).collect()
    assert(coCell.head.getLong(0) === 3L,
      "co-cell scoring false-flags the boundary vector as the top outlier")
    // the outlier_knn_refined score: the rank-k row of the refined
    // graph, top-n by (dist desc, id)
    val refined = Ann.knnGraphRefined(index, k = 1, probes = 2, refineRounds = 0)
      .filter($"rn" === 1)
      .select($"src_id", $"dist".as("knn_dist"))
      .orderBy($"knn_dist".desc, $"src_id")
      .limit(1).collect()
    assert(refined.head.getLong(0) === 6L,
      "refined scoring must surface the true loner")
    assert(refined.head.getDouble(1) === 3.0)
  }

  test("semDedup: a cross-cluster twin stays unpaired (cluster-scoped blind spot)") {
    // semIndex's vector 6 is cos-identical to v1/v2 but lives in the
    // OTHER cluster: the cluster-scoped pair generator cannot see it
    val scoped = Clustering.semDedup(semIndex(), threshold = 0.9)
      .orderBy(org.apache.spark.sql.functions.col("vec_id")).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("kept")).toMap
    assert(scoped(6L) === true, "cluster-scoped form keeps the cross-cell twin")
  }
}
