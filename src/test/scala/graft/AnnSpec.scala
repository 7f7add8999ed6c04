package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, PartitionedTopK, VectorSearch}

/** ANN + partitioned top-k spec: exact-equality where the op is exact,
  * measured recall against exact brute force where it approximates. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private def qvec(id: Long): Seq[Float] =
    Tables.embeddings(spark, sfDir).filter($"vec_id" === id)
      .select("embedding").head().getSeq[Float](0)

  private def exactTopK(q: Seq[Float], k: Int): Seq[Long] =
    VectorSearch.topKWithScore(Tables.embeddings(spark, sfDir), q, k)
      .select("vec_id").as[Long].collect().toSeq

  test("PartitionedTopK == window batchTopK (exact, bit-identical)") {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" < 8)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val viaHeap = PartitionedTopK.batchTopK(emb, qs, 5)
      .select("query_id", "vec_id", "dist").as[(Long, Long, Double)].collect().toSeq
    val qdf = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val viaWindow = VectorSearch.batchTopK(emb, qdf, 5, VectorSearch.Euclidean)
      .select("query_id", "vec_id", "dist").as[(Long, Long, Double)].collect().toSeq
    assert(viaHeap === viaWindow)
  }

  test("PartitionedTopK: string id column carries through (chunk_id shape)") {
    val emb = Tables.embeddings(spark, sfDir).limit(500)
      .withColumn("chunk_id", concat(lit("chunk_"), format_string("%06d", $"vec_id")))
    val qs = Tables.embeddings(spark, sfDir).filter($"vec_id" < 2)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toSeq
    val res = PartitionedTopK.batchTopK(emb, qs, 3, idCol = "chunk_id")
      .select("query_id", "chunk_id", "dist").as[(Long, String, Double)].collect().toSeq
    assert(res.length === 6)
    assert(res.forall(_._2.startsWith("chunk_")))
    // same answers as the long-id path, modulo the id formatting
    val viaLong = PartitionedTopK.batchTopK(
      Tables.embeddings(spark, sfDir).limit(500), qs, 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSeq
    assert(res.map(r => (r._1, r._2.stripPrefix("chunk_").toLong)) === viaLong)
    // unsupported id type fails with a clear message
    val bad = intercept[IllegalArgumentException] {
      PartitionedTopK.batchTopK(emb.withColumn("fid", $"vec_id".cast("double")),
        qs, 3, idCol = "fid")
    }
    assert(bad.getMessage.contains("unsupported"))
  }

  test("sign-LSH recall@10 >= 0.9 on clustered data (angular structure)") {
    // 20 clusters x 30 members, small angular noise — the regime LSH is
    // for. Uniform random vectors have no structure for ANY sublinear
    // method to exploit (recall there ~0.15, by design, not a bug).
    val rnd = new scala.util.Random(7)
    def normed(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(20)(normed(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val rows = for {
      c <- centers.indices
      m <- 0 until 30
    } yield {
      val v = normed(centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      (c.toLong * 100 + m, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val bucketed = Ann.withSignBucket(df, nBits = 8).cache()
    try {
      val recalls = (0 until 5).map { c =>
        val q = rows(c * 30)._2
        val exact = VectorSearch.topKWithScore(df, q, 10)
          .select("vec_id").as[Long].collect().toSet
        val approx = Ann.searchSignLsh(bucketed, q, 10, nBits = 8, probeRadius = 2)
          .select("vec_id").as[Long].collect().toSet
        (exact intersect approx).size.toDouble / exact.size
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.9, s"mean recall $mean (${recalls.mkString(",")})")
    } finally bucketed.unpersist()
  }

  test("IVF recall@10 >= 0.6 at nprobe=4/16, ~4x scan reduction") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 16)
    idx.assigned.cache().count()
    try {
      val recalls = (0L until 5L).map { qid =>
        val q = qvec(qid)
        val exact = exactTopK(q, 10).toSet
        val approx = Ann.searchIvf(idx, q, 10, nprobe = 4)
          .select("vec_id").as[Long].collect().toSet
        (exact intersect approx).size.toDouble / exact.size
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.6, s"mean recall $mean (${recalls.mkString(",")})")
      // probing 4/16 clusters must scan a strict subset of the corpus
      val total = emb.count()
      val probed = idx.assigned.groupBy($"ivf_cluster").count()
        .orderBy($"count".desc).limit(4)
        .agg(sum($"count")).head().getLong(0)
      assert(probed < total)
    } finally idx.assigned.unpersist()
  }

  test("batchSearchIvf == searchIvf hit for hit; recallAtK counts exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 16)
    idx.assigned.cache().count()
    try {
      // single-row query set reproduces the driver-probe path exactly
      val qs = emb.filter($"vec_id" === 3L)
        .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
      val batch = Ann.batchSearchIvf(spark, idx, qs, k = 10, nprobe = 4)
        .orderBy("rn").select("vec_id", "dist").collect().toSeq
      val single = Ann.searchIvf(idx, qvec(3L), 10, nprobe = 4)
        .select("vec_id", "dist").collect().toSeq
      assert(batch === single)
      // recallAtK: hand-built frames — q1 hits 2 of 3, q2 misses all,
      // and a query absent from approx scores 0
      import spark.implicits._
      val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
        (2L, 20L), (2L, 21L), (2L, 22L)).toDF("query_id", "vec_id")
      val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L)).toDF("query_id", "vec_id")
      val r = Ann.recallAtK(approx, exact, 3).orderBy("query_id").collect()
      assert(r.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq ===
        Seq((1L, 2L, 2.0 / 3.0), (2L, 0L, 0.0)))
      // duplicated rows (a doubled corpus id) must NOT inflate recall
      // past 1.0 — the intersection is over SETS
      val dupApprox = Seq((1L, 10L), (1L, 10L), (1L, 11L), (1L, 12L))
        .toDF("query_id", "vec_id")
      val rd = Ann.recallAtK(dupApprox, exact.filter($"query_id" === 1L), 3)
        .collect()(0)
      assert((rd.getLong(1), rd.getDouble(2)) === ((3L, 1.0)))
      // the fixture eval: mean recall over the 32-query sample is the
      // published number — sanity-floor it
      val sample = emb.filter($"vec_id" < 32)
        .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
      val approxAll = Ann.batchSearchIvf(spark, idx, sample, 10, nprobe = 4)
      val exactAll = graft.operators.VectorSearch.batchTopK(emb, sample, 10,
        graft.operators.VectorSearch.Euclidean)
      val rep = Ann.recallAtK(approxAll, exactAll, 10)
      val mean = rep.agg(avg($"recall_at_10")).head().getDouble(0)
      assert(mean >= 0.6, s"mean recall@10 $mean")
    } finally idx.assigned.unpersist()
  }

  test("hard-negative mining: no self, no near-dups, hardest-first, dense ranks") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 16)
    idx.assigned.cache().count()
    try {
      val anchors = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
      val cands = Ann.batchSearchIvf(spark, idx, anchors, k = 20, nprobe = 4,
        metric = graft.operators.VectorSearch.Cosine)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"query_id").orderBy($"dist", $"vec_id")
      val mined = cands
        .filter($"vec_id" =!= $"query_id" && $"dist" >= 0.05)
        .withColumn("neg_rank", row_number().over(w))
        .filter($"neg_rank" <= 3)
        .collect()
      // every anchor mines, no self-pairs, no dups, ranks dense 1..3,
      // hardest (smallest cosine distance) first
      assert(mined.nonEmpty)
      mined.foreach { r =>
        assert(r.getAs[Long]("vec_id") !== r.getAs[Long]("query_id"))
        assert(r.getAs[Double]("dist") >= 0.05)
      }
      val byQ = mined.groupBy(_.getAs[Long]("query_id"))
      byQ.foreach { case (q, rs) =>
        val sorted = rs.sortBy(_.getAs[Int]("neg_rank"))
        assert(sorted.map(_.getAs[Int]("neg_rank")).toSeq ===
          (1 to sorted.length).toSeq, s"anchor $q ranks not dense")
        assert(sorted.map(_.getAs[Double]("dist")).toSeq ===
          sorted.map(_.getAs[Double]("dist")).sorted.toSeq, s"anchor $q not hardest-first")
      }
    } finally idx.assigned.unpersist()
  }

  test("cosineNearDupLsh: no false positives; high recall on clustered data") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(11)
    def normed(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(10)(normed(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val rows = for { c <- centers.indices; m <- 0 until 20 } yield {
      val v = normed(centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      (c.toLong * 100 + m, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val exact = Dedup.cosineNearDup(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // small and LARGE bucket spaces: the banded construction re-derives
    // the band count from (threshold, bits, targetRecall), so recall
    // must hold even at the 16-bit regime a large corpus auto-sizes to
    for (bits <- Seq(8, 16)) {
      val lsh = Dedup.cosineNearDupLsh(df, "vec_id", "embedding", 0.9, nBits = bits)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(lsh.subsetOf(exact)) // exact verify => no false positives
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.85, s"bits=$bits recall $recall over ${exact.size} exact pairs")
    }
  }

  test("signLshBands: band count covers the recall target, monotone in bits") {
    import graft.operators.Dedup
    // more bits per band => lower per-band collision => more bands needed
    val b8 = Dedup.signLshBands(0.9, 8)
    val b16 = Dedup.signLshBands(0.9, 16)
    val b20 = Dedup.signLshBands(0.9, 20)
    assert(b8 < b16 && b16 < b20)
    // the closed form it solves: 1-(1-p1^bits)^L >= recall at the threshold
    for ((bits, l) <- Seq((8, b8), (16, b16), (20, b20))) {
      val p1 = 1.0 - math.acos(0.9) / math.Pi
      val got = 1.0 - math.pow(1.0 - math.pow(p1, bits), l)
      assert(got >= 0.9, s"bits=$bits L=$l covers only $got")
    }
    // trivial cases: threshold 1 needs a single band; cap at 64
    assert(Dedup.signLshBands(1.0, 20) === 1)
    assert(Dedup.signLshBands(0.5, 20) === 64)
  }

  test("cosineNearDupLsh: planted hot bucket is capped; small clusters unaffected") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(7)
    def normed(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    // 300 IDENTICAL embeddings (the boilerplate-corpus degenerate case)
    // + one small pair of genuine near-dups far from the hot cluster
    val hot = normed(Array.fill(32)(rnd.nextGaussian().toFloat))
    val pairBase = normed(Array.fill(32)(rnd.nextGaussian().toFloat))
    val pairTwin = normed(pairBase.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    val rows = (0 until 300).map(i => (i.toLong, hot.toSeq)) ++
      Seq((1000L, pairBase.toSeq), (1001L, pairTwin.toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val capped = Dedup.cosineNearDupLsh(df, "vec_id", "embedding",
        threshold = 0.9, nBits = 8, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // hot-cluster pairs (299*300/2 = 44850 of them) are excluded by the
    // cap; the small genuine pair still comes through
    assert(capped === Set((1000L, 1001L)))
    // with the cap above the hot-bucket size the quadratic set returns
    val uncapped = Dedup.cosineNearDupLsh(df, "vec_id", "embedding",
        threshold = 0.9, nBits = 8, maxBucket = 100000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 300 * 299 / 2 + 1)
    // auto-derived nBits stays in [8, 20] and the call still verifies
    val auto = Dedup.cosineNearDupLsh(df, "vec_id", "embedding",
        threshold = 0.9, maxBucket = 100000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto.contains((1000L, 1001L)))
  }

  test("refitIfDrifted: stable corpus keeps the index as-is; planted drift refits") {
    val rnd = new scala.util.Random(31)
    def cluster(center: Double, n: Int, from: Long) = (0 until n).map { i =>
      (from + i, Seq.fill(16)((center + 0.05 * rnd.nextGaussian()).toFloat))
    }
    val df = (cluster(0.0, 50, 0) ++ cluster(4.0, 50, 100)).toDF("vec_id", "embedding")
    val idx = Ann.buildIvf(df, 2, "embedding", "vec_id")
    val fitReport = Ann.ivfDriftReport(idx)
    // no drift: the SAME index object comes back, no refit
    val (same, refit0) = Ann.refitIfDrifted(idx, fitReport)
    assert(!refit0 && (same eq idx))
    // planted drift: a mass of vectors FAR from both centroids appended
    // through the normal append path (assignToIvf)
    val far = cluster(20.0, 200, 1000).toDF("vec_id", "embedding")
    val appended = idx.assigned.unionByName(Ann.assignToIvf(idx, far))
    val drifted = idx.copy(assigned = appended)
    val (fresh, refit1) = Ann.refitIfDrifted(drifted, fitReport)
    assert(refit1, "appending a far-away mass must trigger a refit")
    assert(fresh.centroids.length === 2)
    assert(fresh.assigned.count() === 300)
    // the refit re-describes the data: its own drift report is stable
    // against a no-op re-check
    val (again, refit2) = Ann.refitIfDrifted(fresh, Ann.ivfDriftReport(fresh))
    assert(!refit2 && (again eq fresh))
  }

  test("cosineNearDupLsh: supplied corpusCount keeps the call fully lazy") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{col, udf}
    val rnd = new scala.util.Random(23)
    def normed(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val base = normed(Array.fill(32)(rnd.nextGaussian().toFloat))
    val rows = (0 until 50).map { i =>
      (i.toLong, normed(base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)).toSeq)
    }
    // accumulator-bumping UDF marks every upstream execution. The
    // repartition below keeps the source out of LocalRelation form —
    // otherwise Catalyst's ConvertToLocalRelation rule folds the
    // (deterministic) UDF driver-side during plan OPTIMIZATION, which
    // persist() triggers, and the instrument fires without any
    // distributed execution having happened.
    val acc = spark.sparkContext.longAccumulator("upstream-execs")
    val bump = udf { (v: Seq[Float]) => acc.add(1); v }
    val df = rows.toDF("vec_id", "embedding").repartition(4)
      .withColumn("embedding", bump(col("embedding")))
    val result = Dedup.cosineNearDupLsh(df, "vec_id", "embedding",
      threshold = 0.9, corpusCount = rows.size.toLong)
    assert(acc.value === 0L,
      "cosineNearDupLsh with corpusCount must not execute the upstream at call time")
    val pairs = result.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(acc.value > 0L) // the materialization, not the call, ran the upstream
    // sizing from the supplied count matches the eager-count sizing
    val eager = Dedup.cosineNearDupLsh(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === eager)
  }

  test("IVF nprobe=ALL equals exact") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 8)
    val q = qvec(3L)
    val full = Ann.searchIvf(idx, q, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(full === exactTopK(q, 10))
  }

  test("searchIvf filter: predicate prunes candidates; nprobe=ALL equals filtered exact") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 8)
    val q = qvec(3L)
    val pred = $"label" === 2 || $"label" === 5
    val got = Ann.searchIvf(idx, q, 10, nprobe = 8, filter = Some(pred))
      .select($"vec_id", $"label").as[(Long, Int)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (_, l) => l == 2 || l == 5 }, "every hit satisfies the predicate")
    val exact = VectorSearch.topKWithScore(emb.filter(pred), q, 10)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toSeq
    assert(got === exact, "nprobe=ALL filtered IVF must equal brute-force filtered top-k")
    // and a narrower probe set returns a subset of the predicate's rows
    val narrow = Ann.searchIvf(idx, q, 10, nprobe = 2, filter = Some(pred))
      .select($"label").as[Int].collect()
    assert(narrow.forall(l => l == 2 || l == 5))
  }

  test("ndcgDiscounts: disc(1) = 1e9 exactly, strictly decreasing, k rows") {
    val d = Ann.ndcgDiscounts(spark, 10)
      .orderBy($"rank").as[(Long, Long)].collect().toSeq
    assert(d.size === 10)
    assert(d.head === ((1L, 1000000000L)), "log2(2)=1 -> discount exactly 1e9")
    assert(d.map(_._2) === d.map(_._2).sorted.reverse)
    assert(d.map(_._2).distinct.size === 10, "strict decrease")
  }

  test("ndcgAtK: perfect ranking scores 1.0; order flips cost; disjoint scores 0") {
    val disc = Ann.ndcgDiscounts(spark, 3)
    val exact = Seq((1L, 100L, 1), (1L, 200L, 2), (1L, 300L, 3))
      .toDF("query_id", "vec_id", "rn")
    def score(approx: Seq[(Long, Long, Int)]): Double =
      Ann.ndcgAtK(approx.toDF("query_id", "vec_id", "rn"), exact, disc, 3)
        .select($"ndcg_at_3").as[Double].head()
    assert(score(Seq((1L, 100L, 1), (1L, 200L, 2), (1L, 300L, 3))) === 1.0)
    val flipped = score(Seq((1L, 200L, 1), (1L, 100L, 2), (1L, 300L, 3)))
    assert(flipped < 1.0 && flipped > 0.5, s"flip costs but keeps most credit: $flipped")
    assert(score(Seq((1L, 900L, 1), (1L, 901L, 2), (1L, 902L, 3))) === 0.0)
    // a query the approx side missed entirely still reports, at 0
    val missed = Ann.ndcgAtK(
      Seq((2L, 100L, 1)).toDF("query_id", "vec_id", "rn"), exact, disc, 3)
      .select($"query_id", $"ndcg_at_3").as[(Long, Double)].collect().toSeq
    assert(missed === Seq((1L, 0.0)))
  }

  test("ndcgAtK: a query whose exact rows all sit beyond k still reports, at 0.0") {
    val disc = Ann.ndcgDiscounts(spark, 2)
    // query 1 has a real top-2 frame; query 2's exact rows start at
    // rank 3 — its ideal frame is empty at k=2, and the per-query-IDCG
    // inner join used to drop it from the report entirely
    val exact = Seq((1L, 100L, 1), (1L, 200L, 2), (2L, 300L, 3), (2L, 400L, 4))
      .toDF("query_id", "vec_id", "rn")
    val approx = Seq((1L, 100L, 1), (1L, 200L, 2), (2L, 300L, 1))
      .toDF("query_id", "vec_id", "rn")
    val out = Ann.ndcgAtK(approx, exact, disc, k = 2)
      .select($"query_id", $"dcg_fp", $"ndcg_at_2")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, out.head._2, 1.0), (2L, 0L, 0.0)))
    assert(out.map(_._1) === Seq(1L, 2L), "every exact query must report")
  }

  test("ndcgAtK clips inputs to rank <= k: top-3 frames with k=2 still score a perfect 1.0") {
    val disc = Ann.ndcgDiscounts(spark, 3)
    val exact = Seq((1L, 100L, 1), (1L, 200L, 2), (1L, 300L, 3))
      .toDF("query_id", "vec_id", "rn")
    val approx = Seq((1L, 100L, 1), (1L, 200L, 2), (1L, 300L, 3))
      .toDF("query_id", "vec_id", "rn")
    // unclipped, the rank-3 rows would add a negative grade (k+1-3)
    // and a third discount term to a k=2 score
    val n = Ann.ndcgAtK(approx, exact, disc, k = 2)
      .select($"ndcg_at_2").as[Double].head()
    assert(n === 1.0)
  }

  test("mrrAtK: perfect=1, late first hit=1/rank, total miss=0 with null rank, clip at k") {
    val exact = Seq((1L, 100L, 1), (1L, 200L, 2), (2L, 300L, 1), (3L, 400L, 1))
      .toDF("query_id", "vec_id", "rn")
    val approx = Seq(
      (1L, 100L, 1),               // q1: first hit at rank 1
      (2L, 900L, 1), (2L, 901L, 2), (2L, 300L, 3), // q2: first hit at rank 3
      (3L, 902L, 1), (3L, 400L, 11))               // q3: only hit is beyond k -> miss
      .toDF("query_id", "vec_id", "rn")
    val r = graft.operators.Ann.mrrAtK(approx, exact, k = 10)
      .orderBy($"query_id")
      .as[(Long, Option[Long], Double)].collect().toSeq
    assert(r === Seq(
      (1L, Some(1L), 1.0),
      (2L, Some(3L), 1.0 / 3.0),
      (3L, None, 0.0)))
  }

  test("ndcgAtK on the fixture: IVF ranking scores within (0,1], above its own recall floor") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 8)
    val qs = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val approx = Ann.batchSearchIvf(spark, idx, qs, k = 10, nprobe = 4)
    val exact = VectorSearch.batchTopK(emb, qs, 10, VectorSearch.Euclidean)
    val disc = Ann.ndcgDiscounts(spark, 10)
    val rows = Ann.ndcgAtK(approx, exact, disc, 10)
      .select($"query_id", $"ndcg_at_10").as[(Long, Double)].collect().toSeq
    assert(rows.size === 8)
    assert(rows.forall { case (_, n) => n > 0.0 && n <= 1.0 })
  }

  test("thresholdCalibration: hand-computed order statistics, margin, guards") {
    // corpus of 4 unit-ish vectors with distinct cosines to the query
    // [1,0]: sims = 1.0 (id 1), 0.0 (id 2), -1.0 (id 3), ~0.707 (id 4)
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(-1.0f, 0.0f)), (4L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((0L, Seq(1.0f, 0.0f)))
      .toDF("query_id", "query_embedding")
    // k=2 -> kth = 2nd best = cos([1,1],[1,0]); pct=0.5 over n=4 ->
    // pos = ceil(2.0) = 2 in asc order = sim 0.0
    val r = VectorSearch.thresholdCalibration(emb, qs, k = 2, pct = 0.5)
      .as[(Long, Double, Double, Double)].head()
    val c = graft.operators.Rerank
      .cosSimLocal(Array(1.0f, 1.0f), Array(1.0f, 0.0f)).toDouble
    assert(r === ((0L, c, 0.0, c - 0.0)))
    // null embeddings are excluded from BOTH the population and the
    // ranks (Spark's NULLS FIRST asc default would otherwise shift
    // the percentile element vs the SQL replay)
    val withNull = emb.unionByName(
      Seq((9L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val r2 = VectorSearch.thresholdCalibration(withNull, qs, k = 2, pct = 0.5)
      .as[(Long, Double, Double, Double)].head()
    assert(r2 === r)
    intercept[IllegalArgumentException](
      VectorSearch.thresholdCalibration(emb, qs, k = 0))
    intercept[IllegalArgumentException](
      VectorSearch.thresholdCalibration(emb, qs, k = 2, pct = 1.0))
  }

  test("ndcgAtK: a query whose exact frame has fewer than k rows can still score 1.0") {
    // filtered corpora legitimately yield short exact lists; the ideal
    // ordering of 2 relevant items IS 2 rows, so a perfect approximate
    // ranking must score exactly 1.0 (the constant-IDCG form capped it
    // below 1 by charging for a phantom third row)
    val disc = Ann.ndcgDiscounts(spark, 3)
    val exact = Seq((1L, 100L, 1), (1L, 200L, 2)).toDF("query_id", "vec_id", "rn")
    val perfect = Ann.ndcgAtK(
      Seq((1L, 100L, 1), (1L, 200L, 2)).toDF("query_id", "vec_id", "rn"),
      exact, disc, 3).select($"ndcg_at_3").as[Double].head()
    assert(perfect === 1.0)
    // and an imperfect ranking of the short list scores strictly below
    val flipped = Ann.ndcgAtK(
      Seq((1L, 200L, 1), (1L, 100L, 2)).toDF("query_id", "vec_id", "rn"),
      exact, disc, 3).select($"ndcg_at_3").as[Double].head()
    assert(flipped < 1.0 && flipped > 0.0)
  }

  test("reduceTopBySim: per-query sizes, SQL desc semantics (NaN first, -0.0 == 0.0), drop unknown queries") {
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7), (1L, 13L, 0.95),
      // q2's boundary discriminates the tie semantics: -0.0 on the
      // SMALLER id — Spark's window treats ±0.0 equal and tie-breaks
      // by id (10 in), a naive Double ordering would rank 0.0 above
      // -0.0 and keep 11 instead
      (2L, 10L, -0.0), (2L, 11L, 0.0), (2L, 12L, Double.NaN), (2L, 13L, 0.5),
      (3L, 99L, 0.1)) // absent from sizes -> dropped entirely
      .toDF("query_id", "vec_id", "__sim").repartition(3)
    val red = PartitionedTopK.reduceTopBySim(scored, Map(1L -> 2, 2L -> 3))
    assert(red.filter($"query_id" === 3L).count() === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"__sim".desc, $"vec_id")
    val ranked = red.withColumn("rn", row_number().over(w))
    val q1 = ranked.filter($"query_id" === 1L && $"rn" <= 2)
      .orderBy($"rn").select("vec_id").as[Long].collect().toSeq
    assert(q1 === Seq(13L, 10L))
    val q2 = ranked.filter($"query_id" === 2L && $"rn" <= 3)
      .orderBy($"rn").select("vec_id").as[Long].collect().toSeq
    assert(q2 === Seq(12L, 13L, 10L),
      "NaN ranks first (desc), and the ±0.0 tie falls to the smaller id")
    // parity with Spark's own full window on the same frame
    val full = scored.withColumn("rn", row_number().over(w))
      .filter(($"query_id" === 1L && $"rn" <= 2) || ($"query_id" === 2L && $"rn" <= 3))
      .orderBy($"query_id", $"rn").select("vec_id").as[Long].collect().toSeq
    assert(full === q1 ++ q2)
    intercept[IllegalArgumentException](
      PartitionedTopK.reduceTopBySim(scored, Map(1L -> 0)))
  }

  test("thresholdCalibration heap path == legacy three-window formulation on the fixture") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val got = VectorSearch.thresholdCalibration(emb, qs, k = 10)
      .as[(Long, Double, Double, Double)].collect().toSeq
    // the pre-r10 formulation, inline: three stacked windows over the
    // full Q x n sim stream
    val wDesc = Window.partitionBy($"query_id").orderBy($"__sim".desc, $"vec_id")
    val wAsc = Window.partitionBy($"query_id").orderBy($"__sim".asc, $"vec_id")
    val wAll = Window.partitionBy($"query_id")
    val legacy = emb.crossJoin(broadcast(qs))
      .withColumn("__sim", graft.functions.VectorFunctions
        .cosSimF32($"embedding", $"query_embedding").cast("double"))
      .filter($"__sim".isNotNull)
      .withColumn("__pos", ceil(lit(0.95) * count(lit(1)).over(wAll)).cast("long"))
      .withColumn("__rd", row_number().over(wDesc))
      .withColumn("__ra", row_number().over(wAsc))
      .filter($"__rd" === 10 || $"__ra" === $"__pos")
      .groupBy($"query_id")
      .agg(max(when($"__rd" === 10, $"__sim")).as("kth_score"),
        max(when($"__ra" === $"__pos", $"__sim")).as("bg_p95"))
      .withColumn("margin", $"kth_score" - $"bg_p95")
      .orderBy($"query_id")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(got === legacy)
  }

  test("thresholdCalibration: null query ids drop instead of crashing the count pass") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val qs = Seq((Some(0L), Seq(1.0f, 0.0f)), (None, Seq(0.0f, 1.0f)))
      .toDF("query_id", "query_embedding")
    val r = VectorSearch.thresholdCalibration(emb, qs, k = 2, pct = 0.5)
      .select($"query_id").as[Long].collect().toSeq
    assert(r === Seq(0L), "the null-id query cannot be reported against and drops")
  }

  test("thresholdCalibration: population smaller than k reports a null kth_score") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((0L, Seq(1.0f, 0.0f))).toDF("query_id", "query_embedding")
    val r = VectorSearch.thresholdCalibration(emb, qs, k = 5, pct = 0.5).collect()
    assert(r.length === 1)
    assert(r(0).isNullAt(1), "no 5th-best score exists over a 2-row corpus")
    assert(!r(0).isNullAt(2), "the percentile is still defined")
    assert(r(0).isNullAt(3), "margin inherits the null")
  }

  test("poolEmbeddingsFp: hand-computed fixed-point means, negative values, determinism") {
    val df = Seq(
      (1, Seq(1.0f, -0.5f)), (1, Seq(0.0f, -0.5f)),  // grp 1: sums (2^20, -2^20), means (2^19, -2^19)
      (2, Seq(0.25f, 0.75f)))
      .toDF("label", "embedding")
    val got = VectorSearch.poolEmbeddingsFp(df, "label")
      .as[(Int, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1, 2L, Seq(524288L, -524288L)),
      (2, 1L, Seq(262144L, 786432L))))
    val again = VectorSearch.poolEmbeddingsFp(df.repartition(5), "label")
      .as[(Int, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(again === got)
    // pathological vectors (null, NaN/Inf components) are excluded
    // from the pool — Spark would floor NaN to 0 silently while the
    // SQL replay errors
    val dirty = df.unionByName(Seq(
      (1, Seq(Float.NaN, 1.0f)), (2, null.asInstanceOf[Seq[Float]]))
      .toDF("label", "embedding"))
    val cleaned = VectorSearch.poolEmbeddingsFp(dirty, "label")
      .as[(Int, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(cleaned === got)
  }

  test("routeByPooled: exact int dot ranks groups, ties to the smaller group") {
    val df = Seq(
      (1, Seq(1.0f, 0.0f)), (2, Seq(0.0f, 1.0f)), (3, Seq(1.0f, 0.0f)))
      .toDF("label", "embedding")
    val pooled = VectorSearch.poolEmbeddingsFp(df, "label")
    val top = VectorSearch.routeByPooled(pooled, Seq(1.0f, 0.0f), kGroups = 2)
      .select($"grp".cast("int"), $"route_dot").as[(Int, Long)].collect().toSeq
    // groups 1 and 3 both align with the query (equal dots) — tie to 1
    assert(top.map(_._1) === Seq(1, 3))
    assert(top(0)._2 === top(1)._2)
    assert(top(0)._2 === 1048576L * 1048576L)
    intercept[IllegalArgumentException](
      VectorSearch.routeByPooled(pooled, Seq(1.0f), kGroups = 0))
  }

  test("incremental assignToIvf matches MLlib's own assignment on the fit corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 8)
    val own = idx.assigned.select($"vec_id", $"ivf_cluster".cast("int"))
      .as[(Long, Int)].collect().toMap
    val re = Ann.assignToIvf(idx, emb.select($"vec_id", $"embedding"))
      .select($"vec_id", $"ivf_cluster").as[(Long, Int)].collect().toMap
    assert(re === own)
  }

  test("ivfDriftReport: appending far-out vectors raises their cluster's drift") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 4)
    val base = Ann.ivfDriftReport(idx)
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // plant vectors far from every centroid; they land SOMEWHERE and
    // must raise that cluster's mean squared distance
    val dim = idx.centroids.head.length
    val far = (0 until 5).map(i =>
      (10000L + i, Seq.fill(dim)(50.0f + i))).toDF("vec_id", "embedding")
    val appended = Ann.assignToIvf(idx, far)
    val union = idx.assigned.select($"vec_id", $"embedding", $"ivf_cluster")
      .unionByName(appended.select($"vec_id", $"embedding", $"ivf_cluster"))
    val drifted = Ann.ivfDriftReport(idx.copy(assigned = union))
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val hit = appended.select($"ivf_cluster").as[Int].head()
    assert(drifted(hit) > base(hit) * 2,
      s"cluster $hit drift ${drifted(hit)} not raised vs ${base(hit)}")
  }

  test("plane-matrix signature kernel == per-component reference, bit for bit") {
    // the production sign-LSH kernels index the cached plane matrix;
    // the reference re-derives each plane component with mix64. Same
    // ±1.0f multiplicands in the same accumulation order must give the
    // same bits — on real fixture embeddings AND adversarial shapes
    // (zeros, subnormals, mixed signs)
    val vecs = Tables.embeddings(spark, sfDir).limit(25)
      .select($"embedding").as[Seq[Float]].collect().toSeq ++ Seq(
      Seq.fill(7)(0.0f),
      Seq(1e-40f, -1e-40f, 0.5f, -0.5f, Float.MinPositiveValue),
      Seq(-1.0f, 1.0f))
    for (vec <- vecs; bits <- Seq(1, 8, 20); band <- Seq(0, 3, 7)) {
      val a = Ann.toFloatArray(vec)
      val planes = Ann.planeMatrix((band + 1) * bits, a.length)
      assert(Ann.signatureFrom(a, planes, band * bits, bits) ===
        graft.operators.Dedup.bandSignature(vec, band, bits),
        s"band=$band bits=$bits vec=${vec.take(4)}")
    }
  }

  test("RP projection: executor kernel == driver dotF32Local, bit for bit") {
    val emb = Tables.embeddings(spark, sfDir).limit(20)
    val dim = qvec(0).length
    val planes = Ann.rpPlanes(8, dim)
    val got = Ann.withRpProjection(emb, planes)
      .select($"vec_id", $"rp_proj").as[(Long, Seq[Float])].collect()
    val raw = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    got.foreach { case (id, proj) =>
      val expected = planes.map(pl => Ann.dotF32Local(raw(id), pl)).toSeq
      assert(proj === expected, s"vec $id projection mismatch")
    }
    // planes are ±1 and salted away from the sign-LSH family
    assert(planes.flatten.forall(v => v == 1.0f || v == -1.0f))
    val lshPlanes = Array.tabulate(2, dim)((p, d) => Ann.planeSign(p, d))
    assert(planes.take(2).map(_.toSeq).toSeq != lshPlanes.map(_.toSeq).toSeq,
      "RP planes must not reuse the sign-LSH planes")
  }

  test("searchRp: exact rerank of RP candidates, recall vs exact, determinism") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = qvec(0)
    val planes = Ann.rpPlanes(16, q.length)
    val projected = Ann.withRpProjection(emb, planes)
    val got = Ann.searchRp(projected, planes, q, k = 10, candidates = 50)
      .select($"vec_id", $"dist").as[(Long, Double)].collect().toSeq
    assert(got.length === 10)
    assert(got.map(_._2) === got.map(_._2).sorted, "rerank must sort by exact dist")
    // with 50 candidates of a 500-row corpus, the exact top-1 (the
    // query itself at distance 0) must survive, and recall@10 should
    // be well above the 10% a random candidate set would give
    val exact = exactTopK(q, 10).toSet
    assert(got.head._1 === 0L && got.head._2 === 0.0)
    val recall = got.map(_._1).count(exact) / 10.0
    assert(recall >= 0.5, s"recall@10 = $recall")
    // deterministic under repartition (fixed-point candidate ranking)
    val again = Ann.searchRp(Ann.withRpProjection(emb.repartition(7), planes),
        planes, q, k = 10, candidates = 50)
      .select($"vec_id", $"dist").as[(Long, Double)].collect().toSeq
    assert(again === got)
    intercept[IllegalArgumentException](
      Ann.searchRp(projected, planes, q, k = 10, candidates = 5))
  }

  test("deleteFromPersistedIvf: delete == rebuild over survivors; only " +
    "routed partitions rewrite; emptied cluster disappears; over-delete" +
    " and crash parks refuse; empty victims no-op") {
    withTempDir("ivfdel") { dir =>
      val emb = Tables.embeddings(spark, sfDir)
      val p = dir.getAbsolutePath
      Ann.saveIvf(Ann.buildIvf(emb, numClusters = 8), p)
      val loaded = Ann.loadIvf(spark, p)
      // victims: every vector of ONE cluster (to empty it) plus a few
      // from another — untouched clusters' files must not be rewritten
      val asg = loaded.assigned.select($"vec_id", $"ivf_cluster")
        .as[(Long, Int)].collect()
      val clusters = asg.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      val emptyC = clusters.keys.min
      val otherC = clusters.keys.max
      val victimIds =
        (clusters(emptyC) ++ clusters(otherC).take(2)).toSet
      val untouched = clusters.keys.filter(c => c != emptyC && c != otherC)
      val mtimes = untouched.map { c =>
        val d = new java.io.File(dir, s"corpus/ivf_cluster=$c")
        c -> Option(d.listFiles()).getOrElse(Array.empty)
          .map(f => f.getName -> f.lastModified()).toMap
      }.toMap
      val victims = emb.filter($"vec_id".isin(victimIds.toSeq: _*))
        .select($"vec_id", $"embedding")
      val touched = Ann.deleteFromPersistedIvf(spark, p, victims)
      assert(touched === Seq(emptyC, otherC).sorted)
      // emptied cluster's partition dir is gone; no parks/staging left
      assert(!new java.io.File(dir, s"corpus/ivf_cluster=$emptyC").exists())
      assert(Option(new java.io.File(dir, "corpus").listFiles()).get
        .forall(f => !f.getName.startsWith(".old_c") &&
          f.getName != ".delete_stage"))
      // untouched partitions: byte-for-byte the same files
      untouched.foreach { c =>
        val d = new java.io.File(dir, s"corpus/ivf_cluster=$c")
        val now = Option(d.listFiles()).getOrElse(Array.empty)
          .map(f => f.getName -> f.lastModified()).toMap
        assert(now === mtimes(c), s"cluster $c was rewritten")
      }
      // delete == rebuild: surviving rows identical to the full
      // assignment minus victims (no refit on delete)
      val after = Ann.loadIvf(spark, p).assigned
        .select($"vec_id", $"ivf_cluster").as[(Long, Int)].collect().toSet
      val expect = asg.filterNot(r => victimIds(r._1)).toSet
      assert(after === expect)
      // over-delete: an id not in its routed cluster refuses loudly
      val ghost = emb.filter($"vec_id" === clusters(otherC).head)
        .select(($"vec_id" + 900000).as("vec_id"), $"embedding")
      intercept[IllegalArgumentException] {
        Ann.deleteFromPersistedIvf(spark, p, ghost)
      }
      // crash park present: refuse before touching anything
      val park = new java.io.File(dir, "corpus/.old_c99")
      park.mkdirs()
      intercept[IllegalArgumentException] {
        Ann.deleteFromPersistedIvf(spark, p, victims.limit(1))
      }
      park.delete()
      // empty victim set: no-op, no touched clusters
      assert(Ann.deleteFromPersistedIvf(spark, p,
        victims.limit(0)) === Seq.empty)
    }
  }

  test("deleteFromPersistedIvf: a victim routing to the wrong cluster " +
    "(boundary-stray simulation) is located by id and deleted where it" +
    " lives") {
    withTempDir("ivfstray") { dir =>
      val emb = Tables.embeddings(spark, sfDir)
      val p = dir.getAbsolutePath
      Ann.saveIvf(Ann.buildIvf(emb, numClusters = 8), p)
      val asg = Ann.loadIvf(spark, p).assigned
        .select($"vec_id", $"ivf_cluster").as[(Long, Int)].collect()
      val byCluster = asg.groupBy(_._2)
      val c1 = byCluster.keys.min
      val c2 = byCluster.keys.max
      val victimId = byCluster(c1).head._1 // lives in c1
      val otherId = byCluster(c2).head._1 // its embedding routes to c2
      // the victim arrives with an embedding that argmins into c2 —
      // exactly what a float-rounding boundary straddle looks like to
      // the router; the id must still be found and deleted from c1
      val victims = emb.filter($"vec_id" === otherId)
        .select(lit(victimId).as("vec_id"), $"embedding")
      val touched = Ann.deleteFromPersistedIvf(spark, p, victims)
      assert(touched === Seq(c1), s"expected relocation to c1, got $touched")
      val after = Ann.loadIvf(spark, p).assigned
        .select($"vec_id").as[Long].collect().toSet
      assert(!after.contains(victimId) && after.contains(otherId))
    }
  }
}
