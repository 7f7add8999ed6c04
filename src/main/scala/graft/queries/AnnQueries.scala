package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Ann, Bq, Hnsw, PartitionedTopK, Pca, Pq, Sq, VectorSearch}

/** ANN + scale-path search queries. `batch_topk_partitioned` is exact
  * (same oracle as the window formulation — the plans differ, the answer
  * must not).
  *
  * The LSH/IVF/PQ paths are approximate, but "approximate" does not
  * mean "unverifiable": each query publishes its one non-SQL artifact
  * (hash buckets, k-means centroids + assignment, ADC candidate list)
  * as a parquet handoff, and the DuckDB oracle INDEPENDENTLY replays
  * everything downstream of it — probe selection, candidate
  * generation, exact rerank, census aggregation — on the same
  * `embeddings` table (the pack_bpe verify-THROUGH pattern,
  * CurationQueries.scala). The handed-off artifact itself stays
  * scalatest-gated (recall bounds, MLlib-parity, determinism specs).
  * Distance parity notes: f32 kernels ≡ DuckDB `list_distance`/
  * `list_cosine_similarity` (VectorQueries scaladoc); fixed-point sums
  * for the drift/census means (Ann.fp).
  */
object AnnQueries {

  /** Spark↔oracle handoff files (absolute paths shared by both engines;
    * the oracle reads them with read_parquet). */
  private val CentroidsHandoff = Handoff.path("ivf_centroids")
  private val AssignedHandoff  = Handoff.path("ivf_assigned")
  private val GraphCentsHandoff = Handoff.path("knn_graph_cents")
  private val GraphAsgHandoff   = Handoff.path("knn_graph_asg")
  private val LshBucketsHandoff = Handoff.path("lsh_buckets")
  private val PqCandHandoff    = Handoff.path("pq_candidates")
  private val RpPlanesHandoff  = Handoff.path("rp_planes")
  private val NdcgDiscHandoff  = Handoff.path("ndcg_discounts")
  private val HnswCandHandoff  = Handoff.path("hnsw_candidates")
  private val HnswApproxHandoff = Handoff.path("hnsw_approx")
  private val HnswAppendHandoff = Handoff.path("hnsw_append_candidates")
  private val HnswFilterHandoff = Handoff.path("hnsw_filter_candidates")
  private val HnswDeleteHandoff = Handoff.path("hnsw_delete_candidates")
  private val HnswCompactHandoff = Handoff.path("hnsw_compact_candidates")
  private val PcaProjectHandoff = Handoff.path("pca_project_model")
  private val PcaKnnHandoff    = Handoff.path("pca_knn_model")

  /** Gate-scale HNSW hyper-parameters (the [[Hnsw]] defaults): shards
    * are the persisted IVF's 16 cells, so the m=8 graphs sit well
    * inside a task and ef=64 construction beams are near-exhaustive —
    * recall quality is spec-gated, the GATE only needs determinism. */
  private val HnswP = Hnsw.HnswParams()

  /** RP path dimensions: d'=16 planes, 50 candidates for the exact
    * top-10 rerank. */
  private val RpPlanesN = 16
  private val RpCandidates = 50

  /** Publish an IVF index's two driver-checkable artifacts: the k-row
    * centroid table and the slim (id, cluster) assignment — the ONE
    * owner of the handoff format, shared with the SemDeDup gate
    * (ModelQueries) via the path parameters. Skipped in bench mode
    * ([[Handoff]]) — gate plumbing, not operator work. */
  private[queries] def writeIvfHandoff(s: SparkSession, index: Ann.IvfIndex,
                                       centPath: String = CentroidsHandoff,
                                       asgPath: String = AssignedHandoff): Unit =
    if (!Handoff.benchMode) {
      Ann.centroidsDf(s, index.centroids, "cluster_id")
        .coalesce(1).write.mode("overwrite").parquet(centPath)
      index.assigned
        .select(col(index.idCol), col("ivf_cluster").cast("int").as("ivf_cluster"))
        .coalesce(1).write.mode("overwrite").parquet(asgPath)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-partition-heap batch top-k: identical answer to batch_topk,
    // shuffle reduced from |corpus|x|queries| rows to partitions*q*k.
    "batch_topk_partitioned" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      PartitionedTopK.batchTopK(emb, qs.toSeq, 5).drop("rn")
    },
    // sign-LSH ANN with Hamming-1 multi-probe. The bucket table is the
    // handoff; the oracle recomputes the probe set (popcount over
    // xor'd buckets) and the exact rerank from it. The gate re-reads
    // the handoff so both engines consume byte-identical buckets.
    "ann_sign_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val buckets = Handoff.publish(
        Ann.withSignBucket(emb, nBits = 12).select(col("vec_id"), col("lsh_bucket")),
        LshBucketsHandoff)
      Ann.searchSignLsh(emb.join(buckets, Seq("vec_id")),
          VectorQueries.qvec(s, dir, 0), 10, nBits = 12)
        .drop("embedding")
    },
    // JL random-projection ANN: candidate ranking in the d'=16
    // projected space (exact fixed-point distances over f32 dots),
    // exact rerank of the top-50. The plane table is the one handoff
    // (deterministic Rademacher family — its mix64 hash is not
    // SQL-replayable, like the k-means centroids); the oracle
    // recomputes every projection from it with list_dot_product
    // (bit-equal to the f32 kernel), replays candidate selection, and
    // the exact rerank.
    // IVF recall@10 evaluation over a 32-query sample — the quality
    // report a vector platform publishes with every index build
    // (approximate search is only shippable with a measured recall).
    // Approx = distributed batch IVF (per-query probe window over the
    // broadcast centroids, candidates by broadcast cluster join —
    // corpus never shuffles); exact = brute-force batch top-k on the
    // same f32 kernel; recall = exact integer intersection counts.
    // Reuses ann_ivf's handoff paths — same persisted index, same
    // artifact content, no clobber.
    "ann_recall_report" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val approx = Ann.batchSearchIvf(s, index, qs, k = 10, nprobe = 4)
      val exact = PartitionedTopK.batchTopK(emb, evalSample(emb), 10)
      Ann.recallAtK(approx, exact, 10).orderBy(col("query_id"))
    },
    // hard-negative mining for contrastive embedding training: per
    // anchor, the 3 CLOSEST non-duplicate neighbors by cosine — the
    // E5/SimCSE-style pair-mining batch job. IVF-pruned candidates
    // (the corpus never shuffles — broadcast cluster join), then drop
    // self and near-duplicates (cos > 0.95 is a dup, not a negative)
    // and keep the 3 hardest survivors. The k=20 candidate margin
    // absorbs dup-heavy neighborhoods; anchors are the 64-vector
    // sample (mining runs per-batch in practice).
    "mine_hard_negatives" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      val anchors = Tables.embeddings(s, dir).filter(col("vec_id") < 64)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val cands = Ann.batchSearchIvf(s, index, anchors, k = 20, nprobe = 4,
        metric = VectorSearch.Cosine)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("dist"), col("vec_id"))
      cands.filter(col("vec_id") =!= col("query_id") && col("dist") >= 0.05)
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .filter(col("neg_rank") <= 3)
        .select(col("query_id"), col("vec_id").as("negative_id"),
          col("dist"), col("neg_rank"))
        .orderBy(col("query_id"), col("neg_rank"))
    },
    "ann_rp_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = VectorQueries.qvec(s, dir, 0)
      val planes = Ann.rpPlanes(RpPlanesN, q.length)
      Handoff.publish(
        Ann.centroidsDf(s, planes, "plane_id")
          .withColumnRenamed("centroid", "signs"),
        RpPlanesHandoff)
      Ann.searchRp(Ann.withRpProjection(emb, planes), planes, q,
        k = 10, candidates = RpCandidates)
    },
    // IVF ANN: seeded k-means routing, nprobe=4 of 16 clusters.
    // Searches a PERSISTED index — build happens once per fixture dir
    // and is reused, so the gate/bench time the probe-scan over the
    // cluster-partitioned corpus (the path the 100 TB story depends
    // on), not the k-means fit. The oracle replays probe selection
    // from the handed-off centroids and the pruned exact top-k from
    // the handed-off assignment.
    "ann_ivf" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      Ann.searchIvf(index, VectorQueries.qvec(s, dir, 0), 10, nprobe = 4)
        .drop("embedding")
    },
    // Chroma's `where` + KNN on the ANN path (the reference pairs its
    // metadata filter with every search — vector_store.py:148,165;
    // a7 covers the brute-force side): the predicate prunes INSIDE
    // the probed clusters, before the top-k heap. The oracle replays
    // probes + assignment + the same predicate. nprobe widened to 8:
    // a selective filter thins each probed cluster, the filtered-ANN
    // recall tradeoff the scaladoc documents.
    "ann_ivf_filtered" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      Ann.searchIvf(index, VectorQueries.qvec(s, dir, 0), 10, nprobe = 8,
          filter = Some(col("label").isin(2, 3) || col("label") >= 8))
        .drop("embedding")
    },
    // SQ8 scalar-quantized ANN: int8 codes (4x smaller), EXACT int64
    // dot-product candidate ranking over the code column only, f32
    // exact rerank of the top-32. The only ANN variant with NO
    // handoff artifact: quantization is per-row floor arithmetic on
    // the f32 norm (list_distance-vs-zeros bit-parity), so the oracle
    // re-derives the codes, the integer dots, the candidate cut and
    // the rerank from `embeddings` alone.
    "ann_sq8" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      Sq.searchSq8(Sq.quantize(emb), VectorQueries.qvec(s, dir, 0),
        k = 10, rerank = 32)
    },
    // late-interaction (ColBERT maxsim) multi-vector retrieval: 4
    // query token vectors vs 8-vector document groups; per-token max
    // cosine (order-insensitive — no float-sum hazard), fixed-order
    // score sum, top-10 docs. NO handoff: sims, maxes, the score and
    // the cut all replay from `embeddings` alone.
    "ann_maxsim" -> { (s, dir) =>
      val qs = (0L to 3L).map(i => VectorQueries.qvec(s, dir, i))
      VectorSearch.maxSimTopK(
        Tables.embeddings(s, dir).filter(col("vec_id") >= 8)
          .withColumn("doc_id", expr("vec_id div 8")),
        "doc_id", qs, k = 10)
    },
    // Binary quantization ANN: 1-bit sign codes (32x smaller than
    // f32), asymmetric integer candidate ranking (doc bits vs the
    // query in 2^20 fixed point — exact longs, engine-portable), f32
    // exact rerank of an oversampled top-96 (1-bit codes are coarse;
    // production BQ oversamples 4-10x). Like ann_sq8, NO handoff:
    // bits, fixed-point query, integer dots, cut and rerank all
    // re-derive from `embeddings` alone in SQL.
    "ann_bq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      Bq.searchBq(Bq.quantize(emb), VectorQueries.qvec(s, dir, 0),
        k = 10, rerank = 96)
    },
    // IVF + SQ8 (faiss IVF16,SQ8): coarse pruning to nprobe=4
    // clusters, int8-dot ranking of the survivors, exact f32 rerank.
    // Probe replay from the centroid handoff (the ann_ivf contract);
    // codes/dots/cut/rerank re-derived from embeddings (the ann_sq8
    // contract) — composition of the two oracles.
    "ann_ivf_sq8" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      Sq.searchIvfSq8(index, VectorQueries.qvec(s, dir, 0),
        k = 10, rerank = 32, nprobe = 4)
    },
    // IVF + BQ (Milvus BIN_IVF shape): the same coarse pruning with
    // the 1-bit asymmetric integer ranking — the compression family's
    // far end composed with the routing layer. Probe replay from the
    // centroid handoff; bits/fixed-point dots/cut/rerank re-derived
    // from embeddings (the ann_bq contract).
    "ann_ivf_bq" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      Bq.searchIvfBq(index, VectorQueries.qvec(s, dir, 0),
        k = 10, rerank = 64, nprobe = 4)
    },
    // approximate kNN-graph over the IVF cells: per vector, the 4
    // nearest co-cell neighbors — the SemDeDup/NN-descent seed graph.
    // The index is the CORPUS-PROPORTIONAL one (k = max(16, n/1000),
    // the semdedup sizing): cell population stays ~constant as the
    // corpus grows, so the within-cell quadratic cost stays linear in
    // total — a fixed cell count measured 1021 s at the 100× fixture
    // before this. Own handoff paths: the shared AssignedHandoff
    // carries the 16-cell index other gates replay against.
    // Assignment rides the handoff (the ann_ivfpq contract); the
    // within-cell join, dists, and ranks replay fully in SQL.
    "knn_graph" -> { (s, dir) =>
      val index = ModelQueries.semdedupIndex(s, dir)
      writeIvfHandoff(s, index, GraphCentsHandoff, GraphAsgHandoff)
      Ann.knnGraph(index, k = 4)
    },
    // boundary-recall graph + its MEASURED recall gate: multi-probe
    // seed (3 cells) + ONE NN-descent local-join round at internal
    // width 20, truncated to k=10, recall vs self-excluded brute force
    // on the 32-query sample. The whole construction is deterministic
    // (dist, id)-tie-broken f32 arithmetic, so the oracle replays
    // seed, the round, truncation, and the recall division from the
    // same centroid/assignment handoffs — nothing is taken on faith.
    // Config by measurement: p=3/rounds=1 scores 0.983 full-graph
    // recall@10 on this corpus at HALF the candidate volume of
    // p=2/rounds=2 (0.996), and one round is one fewer exchange set
    // at 100×. The co-cell graph (knn_graph) sits at 0.30 — the
    // adversarial unclustered case the refinement exists for.
    // FuzzySpec pins recall >= 0.9.
    "knn_graph_recall" -> { (s, dir) =>
      val index = ModelQueries.semdedupIndex(s, dir)
      writeIvfHandoff(s, index, GraphCentsHandoff, GraphAsgHandoff)
      val emb = Tables.embeddings(s, dir)
      // rn <= 10 of the shared wide graph == knnGraphRefined(k = 10)
      // (one persisted build serves this gate AND outlier_knn_refined)
      val graph = s.read.parquet(s"${refinedGraphPath(s, dir)}/graph.parquet")
        .filter(col("rn") <= 10 && col("src_id") < 32)
        .select(col("src_id").as("query_id"), col("nbr_id").as("vec_id"))
      // exact ground truth, self-excluded like the graph: top-11 heaps
      // then drop self + re-rank to 10 (equal to ranking non-self rows
      // directly — self sits in any top-11 unless >11 zero-distance
      // twins precede it, in which case it is absent from both forms)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
      val exact = PartitionedTopK.batchTopK(emb, evalSample(emb), 11)
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("__rn2", row_number().over(w))
        .filter(col("__rn2") <= 10)
        .select(col("query_id"), col("vec_id"))
      Ann.recallAtK(graph, exact, 10).orderBy(col("query_id"))
    },
    // kth-NN distance outliers (the embedding-space cleaning signal):
    // the graph's rank-4 distance, top-20 loners. Same index, same
    // handoff content as knn_graph — the oracle re-derives the graph
    // and reads off rank k.
    "outlier_knn" -> { (s, dir) =>
      val index = ModelQueries.semdedupIndex(s, dir)
      writeIvfHandoff(s, index, GraphCentsHandoff, GraphAsgHandoff)
      Ann.knnOutliers(index, k = 4, n = 20)
    },
    // the boundary-honest outlier list: same rank-4-distance score off
    // the REFINED graph (multi-probe seed + one NN-descent round, the
    // knn_graph_recall construction) — the co-cell graph inflates a
    // boundary vector's rank-k distance (its true neighbors sit in the
    // adjacent cell) and false-flags it above genuine loners. Same
    // handoffs; the oracle replays seed, round, final k-truncation,
    // and the desc top-20 in SQL.
    "outlier_knn_refined" -> { (s, dir) =>
      val index = ModelQueries.semdedupIndex(s, dir)
      writeIvfHandoff(s, index, GraphCentsHandoff, GraphAsgHandoff)
      // the shared wide graph's rank-4 row == knnGraphRefined(k = 4,
      // workK = 20)'s: same refined candidate set, same (dist, nbr)
      // re-rank — one persisted build serves both graph gates
      s.read.parquet(s"${refinedGraphPath(s, dir)}/graph.parquet")
        .filter(col("rn") === 4)
        .select(col("src_id"), col("dist").as("knn_dist"))
        .orderBy(col("knn_dist").desc, col("src_id"))
        .limit(20)
    },
    // PCA embedding compression (faiss's PCAR pre-transform shape):
    // top-8 variance directions fitted by the one-pass Gram
    // aggregation + driver Jacobi; the published fixed-point model is
    // the handoff (float training spec-gated, the k-means/EM rule) and
    // the oracle replays the EXACT integer projection of every vector
    // from the handed-off mean/components.
    "pca_project" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val model = Pca.fit(emb, "embedding", r = 8)
      if (!Handoff.benchMode) Pca.saveModel(s, model, PcaProjectHandoff)
      Pca.project(emb, "vec_id", "embedding", model)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"), col("comp_id"))
    },
    // retrieval IN the reduced space: squared L2 over rescaled exact
    // coordinates (pure int64 — no float in the ranking), top-10 to
    // query vec 0 — the "is the compression usable" gate
    "pca_knn" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val model = Pca.fit(emb, "embedding", r = 8)
      if (!Handoff.benchMode) Pca.saveModel(s, model, PcaKnnHandoff)
      Pca.knn(emb, "vec_id", "embedding", model,
          VectorQueries.qvec(s, dir, 0), k = 10)
        .withColumnRenamed("id", "vec_id")
    },
    // MRR@10 — the third retrieval-eval leg on the same sample/index:
    // how far down the IVF list the first truly-relevant id sits
    "ann_mrr_report" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val approx = Ann.batchSearchIvf(s, index, qs, k = 10, nprobe = 4)
      val exact = PartitionedTopK.batchTopK(emb, evalSample(emb), 10)
      Ann.mrrAtK(approx, exact, 10).orderBy(col("query_id"))
    },
    // NDCG@10 of the IVF ranking vs exact ground truth — the
    // rank-sensitive companion to ann_recall_report on the same
    // 32-query sample and persisted index (recall counts hits; NDCG
    // scores their ORDER, graded by the exact rank). The 10-row
    // log2-discount table is the one handoff (the ln rule); relevance
    // grades, DCG sums and the IDCG constant are exact integers.
    "ann_ndcg_report" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      val disc = Handoff.publish(Ann.ndcgDiscounts(s, 10), NdcgDiscHandoff)
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_embedding"))
      val approx = Ann.batchSearchIvf(s, index, qs, k = 10, nprobe = 4)
      val exact = PartitionedTopK.batchTopK(emb, evalSample(emb), 10)
      Ann.ndcgAtK(approx, exact, disc, 10).orderBy(col("query_id"))
    },
    // IVF-PQ: same persisted coarse index, corpus re-expressed as
    // 8-byte residual codes, ADC candidate ranking + exact rerank.
    // The ADC candidate list (the one non-SQL stage) is the handoff;
    // the oracle replays the exact rerank over it. The train + encode
    // here are part of the timed query by design: they are the
    // index-maintenance cost a 100 TB deployment amortizes per WRITE,
    // and at this SF they are sub-second.
    "ann_ivfpq" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      val model = Pq.train(Pq.residuals(index), "residual", m = 8, k = 16)
      val encoded = Pq.encode(index, model)
      val q = VectorQueries.qvec(s, dir, 0)
      Pq.rerank(
        Handoff.publish(
          Pq.adcCandidates(encoded, index, model, q, k = 10, nprobe = 4),
          PqCandHandoff),
        index.assigned, q, 10)
    },
    // incremental index maintenance: assign a "nightly" append slice to
    // the persisted index without refit, then the drift report over
    // corpus+append — the numbers that decide refit-vs-keep-appending.
    // The oracle replays assignToIvf's double-precision argmin for the
    // append slice FROM THE CENTROIDS ALONE (nearest-centroid is pure
    // SQL), unions it with the handed-off base assignment, and checks
    // the fixed-point drift aggregation bit-for-bit.
    "ann_ivf_append" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      val newRows = Tables.embeddings(s, dir)
        .where(col("vec_id") % 10 === 0)
        .select(col("vec_id") + 1000000, col("embedding"))
        .toDF("vec_id", "embedding")
      val appended = Ann.assignToIvf(index, newRows)
      val union = index.assigned
        .select(col("vec_id"), col("embedding"), col("ivf_cluster"))
        .unionByName(appended)
      Ann.ivfDriftReport(index.copy(assigned = union))
        .orderBy(col("ivf_cluster"))
    },
    // delete-maintenance for the persisted IVF — the append's dual
    // (ann_ivf_append), same contract as bm25_delete: victims route
    // by the SAME centroid assignment (no index scan), only their
    // partitions rewrite via stage/park/publish, and the standard
    // search over the deleted index must equal the search over the
    // SURVIVING corpus — delete ≡ rebuild (survivor assignment IS the
    // full assignment restricted: centroids don't refit on delete).
    // The oracle therefore replays probes + the FULL-corpus handoff
    // assignment + the explicit victim predicate — an innocent row
    // the delete wrongly dropped (or a victim it missed) in a probed
    // cluster forks the top-10. The shared BuildOnce artifact is
    // file-copied to a temp dir because the delete mutates in place.
    "ann_ivf_delete" -> { (s, dir) =>
      val full = persistedIvf(s, dir)
      writeIvfHandoff(s, full)
      val src = new java.io.File(persistedIvfPath(s, dir))
      HybridQueries.withTempDir("ivfdel") { tmp =>
        HybridQueries.copyTree(src, tmp)
        val victims = Tables.embeddings(s, dir)
          .where(col("vec_id") % 10 === 0)
          .select(col("vec_id"), col("embedding"))
        Ann.deleteFromPersistedIvf(s, tmp.getAbsolutePath, victims)
        val index = Ann.loadIvf(s, tmp.getAbsolutePath)
        // materialize before the temp dir is deleted
        import s.implicits._
        Ann.searchIvf(index, VectorQueries.qvec(s, dir, 0), 10, nprobe = 4)
          .drop("embedding")
          .select(col("vec_id"), col("label"), col("ivf_cluster"),
            col("dist"))
          .as[(Long, Int, Int, Double)].collect().toSeq
          .toDF("vec_id", "label", "ivf_cluster", "dist")
          .orderBy(col("dist"), col("vec_id"))
      }
    },
    // embedding-space domain discovery: per-cluster census over the
    // SAME persisted IVF index the ANN path searches (one k-means fit
    // serves both). The oracle replays the census — fixed-point mean
    // distance, majority label arg-max, shares — from the handed-off
    // (centroids, assignment); planted-cluster purity + determinism
    // stay ClusteringSpec-gated.
    "cluster_domains" -> { (s, dir) =>
      val index = persistedIvf(s, dir)
      writeIvfHandoff(s, index)
      graft.operators.Clustering.clusterProfile(index)
    },
    // graph-ANN (the reference's persisted hnswlib segment, batch
    // form): ef-beam search over the persisted sharded HNSW, shards
    // routed by the SAME IVF centroids as ann_ivf. The graph traversal
    // is the one non-SQL stage — its emitted candidate set is the
    // handoff, and the oracle replays the exact f32 rerank over it
    // (the ann_ivfpq contract). Graph quality (recall, determinism,
    // serve parity) is HnswSpec-gated.
    "ann_hnsw" -> { (s, dir) =>
      val idx = persistedHnsw(s, dir)
      val q = VectorQueries.qvec(s, dir, 0)
      val cands = Hnsw.searchShards(idx.graph,
        Seq(Hnsw.HnswQuery(0L, q.toArray, Hnsw.route(idx, q.toArray, 4))),
        ef = 32, idx.params)
      val candIds = Handoff.publish(cands.select(col("vec_id")), HnswCandHandoff)
      VectorSearch.topKWithScore(
          Tables.embeddings(s, dir).join(candIds, Seq("vec_id")),
          q, 10, VectorSearch.Euclidean)
        .select(col("vec_id"), col("label"), col("dist"))
    },
    // HNSW recall@10 over the same 32-query sample as
    // ann_recall_report — the quality report that ships with a graph
    // index build. Approx = routed ef-beam candidates exact-reranked
    // to 10 (the approx side is the handoff — graph traversal is not
    // SQL-replayable); exact = brute-force batch top-10; recall =
    // exact integer intersection counts, both engines computing it
    // from the same handed-off approx set and their own exact scan.
    "ann_hnsw_recall" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val idx = persistedHnsw(s, dir)
      val emb = Tables.embeddings(s, dir)
      val qRows = evalSample(emb)
      val hq = qRows.map { case (id, v) =>
        Hnsw.HnswQuery(id, v, Hnsw.route(idx, v, 4)) }
      val cands = Hnsw.searchShards(idx.graph, hq, ef = 32, idx.params)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("dist"), col("vec_id"))
      val approx = Handoff.publish(
        cands.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10).select(col("query_id"), col("vec_id")),
        HnswApproxHandoff)
      val exact = PartitionedTopK.batchTopK(emb, qRows, 10)
      Ann.recallAtK(approx, exact, 10).orderBy(col("query_id"))
    },
    // filtered graph-ANN (where + HNSW — the ann_ivf_filtered twin,
    // and hnswlib's filter-functor shape): traversal explores the
    // graph UNRESTRICTED (a hard in-beam filter can strand the walk
    // in a filtered-out neighborhood), the predicate applies to the
    // emitted candidates, and ef is widened (64 vs the plain gate's
    // 32) to buy back the recall the filter consumes — the same
    // nprobe-widening tradeoff ann_ivf_filtered documents. The
    // candidate set is the handoff; predicate + exact rerank replay
    // in SQL.
    "ann_hnsw_filtered" -> { (s, dir) =>
      val idx = persistedHnsw(s, dir)
      val q = VectorQueries.qvec(s, dir, 0)
      val cands = Hnsw.searchShards(idx.graph,
        Seq(Hnsw.HnswQuery(0L, q.toArray, Hnsw.route(idx, q.toArray, 4))),
        ef = 64, idx.params)
      val candIds = Handoff.publish(cands.select(col("vec_id")),
        HnswFilterHandoff)
      VectorSearch.topKWithScore(
          Tables.embeddings(s, dir).join(candIds, Seq("vec_id")),
          q, 10, VectorSearch.Euclidean,
          filter = Some(col("label").isin(2, 3) || col("label") >= 8))
        .select(col("vec_id"), col("label"), col("dist"))
    },
    // incremental graph maintenance (hnswlib add_items): route a
    // "nightly" append slice via the index's own centroids, insert
    // into ONLY the touched shard graphs (no global rebuild — the
    // cost scales with touched shards), then search the appended
    // graph. Appended vectors are exact copies of corpus rows at
    // shifted ids, so the rerank MUST surface both twins — the
    // appended nodes being reachable is what the gate checks; the
    // oracle replays the rerank over base ∪ appended by formula.
    "ann_hnsw_append" -> { (s, dir) =>
      val idx = persistedHnsw(s, dir)
      val ivf = persistedIvf(s, dir)
      val emb = Tables.embeddings(s, dir)
      val newRows = emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val appended = Hnsw.appendToShards(idx.graph,
        Ann.assignToIvf(ivf, newRows), idx.params)
      val q = VectorQueries.qvec(s, dir, 0)
      val cands = Hnsw.searchShards(appended,
        Seq(Hnsw.HnswQuery(0L, q.toArray, Hnsw.route(idx, q.toArray, 4))),
        ef = 32, idx.params)
      val candIds = Handoff.publish(cands.select(col("vec_id")), HnswAppendHandoff)
      val uni = emb.select(col("vec_id"), col("label"), col("embedding"))
        .unionByName(emb.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000).as("vec_id"), col("label"),
            col("embedding")))
      VectorSearch.topKWithScore(uni.join(candIds, Seq("vec_id")),
          q, 10, VectorSearch.Euclidean)
        .select(col("vec_id"), col("label"), col("dist"))
    },
    // graph-index DELETE (hnswlib mark_deleted; the reference's
    // delete endpoint removes a doc's chunks from the served segment):
    // tombstone every vec_id ≡ 0 (mod 5) — including vec_id 0, the
    // query vector itself, so the pre-delete top-1 hit MUST vanish —
    // then search. Tombstoned nodes still ROUTE the beam (no
    // structural rewrite, no exchange of graph rows); they can never
    // be RESULTS. The gate is adversarial by construction: Spark
    // reranks the handed-off candidates with NO delete filter
    // (trusting the kernel), the oracle applies the delete predicate
    // on its side — one leaked tombstone in the candidate top-10 and
    // the hashes diverge.
    "ann_hnsw_delete" -> { (s, dir) =>
      val (idx, emb, tomb) = tombstonedGraph(s, dir)
      hnswCandidateRerank(s, dir, idx, emb, tomb, HnswDeleteHandoff)
    },
    // tombstone reclamation (the Lucene segment-merge shape): same
    // delete set as ann_hnsw_delete (20% dead), then every shard past
    // the dead-fraction threshold REBUILDS from its survivors —
    // id-ascending, so a compacted shard is bit-identical to a fresh
    // build of the live rows (HnswSpec-pinned) — and the search runs
    // over the compacted graph. The oracle keeps the delete predicate
    // on its side: compaction must not resurrect a tombstone or lose
    // a survivor from the candidate neighborhoods.
    "ann_hnsw_compact" -> { (s, dir) =>
      val (idx, emb, tomb) = tombstonedGraph(s, dir)
      val compacted = Hnsw.compactShards(tomb, idx.params,
        minDeadFrac = 0.15)
      hnswCandidateRerank(s, dir, idx, emb, compacted, HnswCompactHandoff)
    }
  )

  /** The shared delete fixture for the tombstone gates: every
    * vec_id ≡ 0 (mod 5) dies — INCLUDING vec_id 0, the query vector
    * itself, so the pre-delete top-1 hit must vanish. One definition
    * here and one mirrored predicate in [[hnswDeleteOracleSql]]; a
    * change to either without the other forks the gate. */
  private def tombstonedGraph(s: SparkSession, dir: String)
      : (Hnsw.HnswIndex, DataFrame, DataFrame) = {
    val idx = persistedHnsw(s, dir)
    val emb = Tables.embeddings(s, dir)
    val tomb = Hnsw.deleteFromShards(idx.graph,
      emb.where(col("vec_id") % 5 === 0).select(col("vec_id")))
    (idx, emb, tomb)
  }

  /** Search the given graph for query-vector 0, publish the candidate
    * ids to `handoff`, exact-rerank the candidates with NO delete
    * filter — Spark trusts the kernel's tombstone filtering; the
    * oracle applies the delete predicate on its side, so one leaked
    * tombstone in the candidate top-10 forks the hash. */
  private def hnswCandidateRerank(s: SparkSession, dir: String,
      idx: Hnsw.HnswIndex, emb: DataFrame, graph: DataFrame,
      handoff: String): DataFrame = {
    val q = VectorQueries.qvec(s, dir, 0)
    val cands = Hnsw.searchShards(graph,
      Seq(Hnsw.HnswQuery(0L, q.toArray, Hnsw.route(idx, q.toArray, 4))),
      ef = 32, idx.params)
    val candIds = Handoff.publish(cands.select(col("vec_id")), handoff)
    VectorSearch.topKWithScore(emb.join(candIds, Seq("vec_id")),
        q, 10, VectorSearch.Euclidean)
      .select(col("vec_id"), col("label"), col("dist"))
  }

  /** Build-once cache of the IVF index for a fixture dir (seeded k-means
    * → identical index whether freshly built or loaded). Lives under the
    * JVM tmpdir, like a real deployment's index directory next to its
    * table. The cache key fingerprints the corpus file (path + mtime +
    * length), so a regenerated fixture at the same path gets a fresh
    * index instead of silently serving stale data; the build is
    * serialized JVM-wide so concurrent specs can't race the
    * check-then-build. */
  def persistedIvf(s: SparkSession, dir: String, numClusters: Int = 16): Ann.IvfIndex =
    Ann.loadIvf(s, persistedIvfPath(s, dir, numClusters))

  /** Build-once persisted WIDE refined kNN graph (probes=3, one
    * NN-descent round, internal width workK=20) over the
    * corpus-proportional semdedup IVF fit — ONE construction shared by
    * both refined-graph consumers: `knn_graph_recall` truncates it to
    * rn ≤ 10 and `outlier_knn_refined` reads its rank-4 rows. The
    * final per-src re-rank assigns rn in (dist, nbr) order over the
    * SAME refined candidate set whatever k ≤ workK a consumer asks
    * for, so `wide.filter(rn <= k)` IS `knnGraphRefined(k, ...)`
    * (FuzzySpec pins it). Persisted-index warmup contract: Bench
    * pre-builds it so each timed window measures the consumer, not a
    * second copy of the shared build — at 100× the two gates each
    * paid the identical ~60 s construction (SCALEBENCH r12). */
  def refinedGraphPath(s: SparkSession, dir: String): String = {
    // the key interpolates the CONSTRUCTION PARAMS; BuildOnce adds
    // the code digest, so a construction change mints a fresh /tmp
    // artifact instead of serving a stale one to two correctness
    // gates on warm machines
    val (k, probes, rounds, workK) = (20, 3, 1, 20)
    BuildOnce.cached(s"refined-graph-k$k-p$probes-r$rounds-w$workK",
        new java.io.File(s"$dir/embeddings.parquet"))(
        p => s"$p/graph.parquet/_SUCCESS") { p =>
      graft.operators.Ann.knnGraphRefined(
          ModelQueries.semdedupIndex(s, dir),
          k = k, probes = probes, refineRounds = rounds, workK = workK)
        .write.mode("overwrite").parquet(s"$p/graph.parquet")
    }
  }

  /** The persisted index's on-disk path (built if absent) — the single
    * owner of the cache-key/naming recipe, so serving-path callers
    * can't drift from the builder. Key/lock discipline is
    * [[BuildOnce.cached]]'s. */
  def persistedIvfPath(s: SparkSession, dir: String, numClusters: Int = 16): String =
    BuildOnce.cached(s"ivf-k$numClusters",
        new java.io.File(s"$dir/embeddings.parquet"))(
        p => s"$p/corpus/_SUCCESS") { p =>
      Ann.saveIvf(Ann.buildIvf(Tables.embeddings(s, dir), numClusters), p)
    }

  /** The persisted sharded-HNSW graph for a fixture dir, built over
    * the SAME persisted IVF (one routing table serves both index
    * families). Deterministic build (hash levels, id-asc insertion) →
    * identical graph whether freshly built or loaded; key/lock
    * discipline is [[BuildOnce.cached]]'s. */
  def persistedHnswPath(s: SparkSession, dir: String): String =
    BuildOnce.cached("hnsw-m8-k16",
        new java.io.File(s"$dir/embeddings.parquet"))(
        p => s"$p/graph/_SUCCESS") { p =>
      val index = persistedIvf(s, dir)
      Hnsw.saveHnsw(Hnsw.buildShards(index.assigned, HnswP),
        index.centroids, HnswP, p)
    }

  def persistedHnsw(s: SparkSession, dir: String): Hnsw.HnswIndex =
    Hnsw.loadHnsw(s, persistedHnswPath(s, dir))

  /** The ≤32-query eval sample as a driver-side seq (bounded: n rows ×
    * dim floats) — feeds the HEAP-form exact scan
    * ([[PartitionedTopK.batchTopK]], bit-identical to the window form,
    * AnnSpec-pinned) in every recall/NDCG/MRR eval query: the
    * exact-side shuffle then carries partitions·Q·k heap survivors
    * instead of Q·|corpus| windowed sim rows — the r9 verdict's
    * heap-pre-aggregation pattern, extended to the eval family. */
  private def evalSample(emb: DataFrame, n: Int = 32): Seq[(Long, Array[Float])] =
    emb.filter(col("vec_id") < n)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  private val qvecSql = "(SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)"
  private def rp(path: String) = s"read_parquet('$path/*.parquet')"

  val oracle: Map[String, String] = Map(
    // exact operator → literally the same oracle as the window
    // formulation (shared reference, so the two can never diverge)
    "batch_topk_partitioned" -> VectorQueries.oracle("batch_topk"),
    "ann_sign_lsh" ->
      s"""WITH h AS (SELECT * FROM ${rp(LshBucketsHandoff)}),
         |qs AS (SELECT lsh_bucket AS qsig FROM h WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, h.lsh_bucket,
         |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
         |FROM embeddings e
         |JOIN h ON e.vec_id = h.vec_id
         |CROSS JOIN $qvecSql q CROSS JOIN qs
         |WHERE bit_count(xor(CAST(h.lsh_bucket AS BIGINT),
         |                    CAST(qs.qsig AS BIGINT))) <= 1
         |ORDER BY dist, e.vec_id
         |LIMIT 10""".stripMargin,
    // RP replay: every projection recomputed from the plane handoff
    // with the bit-equal f32 kernel; candidate fixed-point distances,
    // the top-50 selection, and the exact rerank all re-derived.
    // replay both sides of the recall eval from the index handoff:
    // per-query probe ranking over the centroid table, candidate
    // top-10 within probed clusters, brute-force exact top-10, then
    // the intersection counts and one engine-stable division. Rank
    // order parity holds because distances are the bit-equal f32
    // kernel on both engines (the ann_ivf/batch_topk contracts).
    "ann_recall_report" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)}),
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 32
         |), probes AS (
         |  SELECT query_id, cluster_id FROM (
         |    SELECT q.query_id, c.cluster_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(c.centroid, q.qv) AS DOUBLE),
         |                      c.cluster_id) AS rn
         |    FROM q CROSS JOIN cents c) AS s WHERE rn <= 4
         |), approx AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT p.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY CAST(list_distance(e.embedding, q.qv) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM probes p
         |    JOIN asg a ON a.ivf_cluster = p.cluster_id
         |    JOIN embeddings e ON e.vec_id = a.vec_id
         |    JOIN q ON q.query_id = p.query_id) AS s WHERE rn <= 10
         |), exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(e.embedding, q.qv) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM q CROSS JOIN embeddings e) AS s WHERE rn <= 10
         |), nex AS (
         |  SELECT query_id, count(DISTINCT vec_id) AS n_ex
         |  FROM exact GROUP BY 1
         |), hits AS (
         |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM exact e JOIN approx a ON e.query_id = a.query_id
         |                            AND e.vec_id = a.vec_id
         |  GROUP BY 1
         |)
         |SELECT q.query_id,
         |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(h.n_hits, 0) AS DOUBLE)
         |         / CAST(least(10, nex.n_ex) AS DOUBLE) AS recall_at_10
         |FROM q LEFT JOIN hits h USING (query_id) JOIN nex USING (query_id)
         |ORDER BY q.query_id""".stripMargin,
    // FULL construction replay: seed (3-probe ranking over the
    // centroid handoff, home membership from the asg handoff, rank 20)
    // then the NN-descent local-join round (symmetrize → pivot
    // member lists incl. self → all ordered member pairs ∪ previous
    // edges → re-rank 20), truncation to 10, and the recall division —
    // every stage (dist, id)-tie-broken on the bit-equal f32 kernel,
    // so the one approximate-graph operator with a measured recall
    // gate is also the one whose approximation the oracle re-derives
    // end-to-end.
    "knn_graph_recall" ->
      s"""WITH cents AS (SELECT * FROM ${rp(GraphCentsHandoff)}),
         |asg AS (SELECT * FROM ${rp(GraphAsgHandoff)}),
         |v AS (SELECT vec_id, embedding FROM embeddings),
         |probes AS (
         |  SELECT vec_id AS src, cluster_id FROM (
         |    SELECT v.vec_id, c.cluster_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY CAST(list_distance(c.centroid, v.embedding) AS DOUBLE),
         |                      c.cluster_id) AS rn
         |    FROM v CROSS JOIN cents c) s WHERE rn <= 3
         |), g0 AS (
         |  SELECT src, nbr FROM (
         |    SELECT p.src, e.vec_id AS nbr,
         |           row_number() OVER (PARTITION BY p.src
         |             ORDER BY CAST(list_distance(e.embedding, q.embedding) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM probes p
         |    JOIN asg a ON a.ivf_cluster = p.cluster_id
         |    JOIN v e ON e.vec_id = a.vec_id
         |    JOIN v q ON q.vec_id = p.src
         |    WHERE e.vec_id <> p.src) s WHERE rn <= 20
         |), sym0 AS (
         |  SELECT src, nbr FROM g0 UNION SELECT nbr, src FROM g0
         |), mem0 AS (
         |  SELECT src AS pivot, nbr AS member FROM sym0
         |  UNION SELECT vec_id, vec_id FROM v
         |), cand0 AS (
         |  SELECT a.member AS src, b.member AS nbr
         |  FROM mem0 a JOIN mem0 b ON a.pivot = b.pivot AND a.member <> b.member
         |  UNION SELECT src, nbr FROM g0
         |), g1 AS (
         |  SELECT src, nbr FROM (
         |    SELECT c.src, c.nbr,
         |           row_number() OVER (PARTITION BY c.src
         |             ORDER BY CAST(list_distance(ea.embedding, eb.embedding) AS DOUBLE),
         |                      c.nbr) AS rn
         |    FROM cand0 c
         |    JOIN v ea ON ea.vec_id = c.src
         |    JOIN v eb ON eb.vec_id = c.nbr) s WHERE rn <= 20
         |), q AS (
         |  SELECT vec_id AS query_id FROM v WHERE vec_id < 32
         |), approx AS (
         |  SELECT src AS query_id, nbr AS vec_id FROM (
         |    SELECT g1.src, g1.nbr,
         |           row_number() OVER (PARTITION BY g1.src
         |             ORDER BY CAST(list_distance(ea.embedding, eb.embedding) AS DOUBLE),
         |                      g1.nbr) AS rn
         |    FROM g1
         |    JOIN v ea ON ea.vec_id = g1.src
         |    JOIN v eb ON eb.vec_id = g1.nbr
         |    WHERE g1.src < 32) s WHERE rn <= 10
         |), exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(e.embedding, qe.embedding) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM q
         |    JOIN v qe ON qe.vec_id = q.query_id
         |    CROSS JOIN v e
         |    WHERE e.vec_id <> q.query_id) s WHERE rn <= 10
         |), nex AS (
         |  SELECT query_id, count(DISTINCT vec_id) AS n_ex
         |  FROM exact GROUP BY 1
         |), hits AS (
         |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM exact e JOIN approx a ON e.query_id = a.query_id
         |                            AND e.vec_id = a.vec_id
         |  GROUP BY 1
         |)
         |SELECT q.query_id,
         |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(h.n_hits, 0) AS DOUBLE)
         |         / CAST(least(10, nex.n_ex) AS DOUBLE) AS recall_at_10
         |FROM q LEFT JOIN hits h USING (query_id) JOIN nex USING (query_id)
         |ORDER BY q.query_id""".stripMargin,
    // replay the mining from the index handoff: Euclidean probe
    // ranking (the batchSearchIvf contract), cosine top-20 candidates
    // within probed clusters, then the dup/self filter and the
    // hardest-3 re-rank — all on the bit-equal kernels.
    "mine_hard_negatives" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)}),
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 64
         |), probes AS (
         |  SELECT query_id, cluster_id FROM (
         |    SELECT q.query_id, c.cluster_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(c.centroid, q.qv) AS DOUBLE),
         |                      c.cluster_id) AS rn
         |    FROM q CROSS JOIN cents c) AS s WHERE rn <= 4
         |), cand AS (
         |  SELECT query_id, vec_id, dist FROM (
         |    SELECT d.query_id, d.vec_id, d.dist,
         |           row_number() OVER (PARTITION BY d.query_id
         |             ORDER BY d.dist, d.vec_id) AS rn
         |    FROM (
         |      SELECT p.query_id, e.vec_id,
         |             1.0 - CAST(list_cosine_similarity(e.embedding, q.qv)
         |                        AS DOUBLE) AS dist
         |      FROM probes p
         |      JOIN asg a ON a.ivf_cluster = p.cluster_id
         |      JOIN embeddings e ON e.vec_id = a.vec_id
         |      JOIN q ON q.query_id = p.query_id) AS d) AS s
         |  WHERE rn <= 20
         |)
         |SELECT query_id, vec_id AS negative_id, dist, neg_rank FROM (
         |  SELECT query_id, vec_id, dist,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY dist, vec_id) AS neg_rank
         |  FROM cand
         |  WHERE vec_id <> query_id AND dist >= 0.05) AS r
         |WHERE neg_rank <= 3
         |ORDER BY query_id, neg_rank""".stripMargin,
    "ann_rp_topk" ->
      s"""WITH pl AS (SELECT * FROM ${rp(RpPlanesHandoff)}),
         |qp AS (
         |  SELECT pl.plane_id,
         |         CAST(list_dot_product(q.qv, pl.signs) AS FLOAT) AS qv
         |  FROM pl CROSS JOIN $qvecSql q
         |),
         |dp AS (
         |  SELECT e.vec_id, pl.plane_id,
         |         CAST(list_dot_product(e.embedding, pl.signs) AS FLOAT) AS pv
         |  FROM embeddings e CROSS JOIN pl
         |),
         |dist AS (
         |  SELECT dp.vec_id,
         |         CAST(sum(CAST(floor(CAST((dp.pv - qp.qv) * (dp.pv - qp.qv) AS DOUBLE)
         |                             * 1048576.0) AS BIGINT)) AS BIGINT) AS rp_dist_fp
         |  FROM dp JOIN qp USING (plane_id)
         |  GROUP BY dp.vec_id
         |),
         |cand AS (
         |  SELECT vec_id, rp_dist_fp FROM dist
         |  ORDER BY rp_dist_fp, vec_id LIMIT $RpCandidates
         |)
         |SELECT c.vec_id, e.label, c.rp_dist_fp,
         |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
         |FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
         |CROSS JOIN $qvecSql q
         |ORDER BY dist, c.vec_id LIMIT 10""".stripMargin,
    "ann_ivf" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |probes AS (
         |  SELECT cluster_id FROM cents CROSS JOIN $qvecSql q
         |  ORDER BY CAST(list_distance(centroid, q.qv) AS DOUBLE), cluster_id
         |  LIMIT 4
         |),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)})
         |SELECT e.vec_id, e.label, a.ivf_cluster,
         |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
         |FROM embeddings e
         |JOIN asg a ON e.vec_id = a.vec_id
         |CROSS JOIN $qvecSql q
         |WHERE a.ivf_cluster IN (SELECT cluster_id FROM probes)
         |ORDER BY dist, e.vec_id
         |LIMIT 10""".stripMargin,
    // ann_ivf's replay over the full-corpus handoff assignment MINUS
    // the victims — survivor assignment is the full assignment
    // restricted (no refit on delete), so this re-derives the
    // deleted-index search independently of the delete code
    "ann_ivf_delete" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |probes AS (
         |  SELECT cluster_id FROM cents CROSS JOIN $qvecSql q
         |  ORDER BY CAST(list_distance(centroid, q.qv) AS DOUBLE), cluster_id
         |  LIMIT 4
         |),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)})
         |SELECT e.vec_id, e.label, a.ivf_cluster,
         |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
         |FROM embeddings e
         |JOIN asg a ON e.vec_id = a.vec_id
         |CROSS JOIN $qvecSql q
         |WHERE a.ivf_cluster IN (SELECT cluster_id FROM probes)
         |  AND e.vec_id % 10 <> 0
         |ORDER BY dist, e.vec_id
         |LIMIT 10""".stripMargin,
    // ann_ivf's replay + the same predicate inside the probed set
    // (nprobe 8)
    "ann_ivf_filtered" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |probes AS (
         |  SELECT cluster_id FROM cents CROSS JOIN $qvecSql q
         |  ORDER BY CAST(list_distance(centroid, q.qv) AS DOUBLE), cluster_id
         |  LIMIT 8
         |),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)})
         |SELECT e.vec_id, e.label, a.ivf_cluster,
         |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
         |FROM embeddings e
         |JOIN asg a ON e.vec_id = a.vec_id
         |CROSS JOIN $qvecSql q
         |WHERE a.ivf_cluster IN (SELECT cluster_id FROM probes)
         |  AND (e.label IN (2, 3) OR e.label >= 8)
         |ORDER BY dist, e.vec_id
         |LIMIT 10""".stripMargin,
    // full SQ8 replay from embeddings alone: f32 norm via
    // list_distance against the zero vector, the same
    // floor(x/norm*127+0.5) clamp in IEEE doubles, exact int dots,
    // top-32 candidate cut, f32 cosine rerank
    "ann_sq8" ->
      """WITH z AS (
        |  SELECT vec_id, label, embedding,
        |         list_distance(embedding,
        |           list_transform(embedding, x -> CAST(0.0 AS FLOAT))) AS nrm
        |  FROM embeddings
        |), codes AS (
        |  SELECT vec_id, label, embedding,
        |         CASE WHEN nrm = 0 OR NOT isfinite(nrm)
        |              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(embedding, x ->
        |                CAST(GREATEST(-127, LEAST(127,
        |                  floor(CAST(x AS DOUBLE)/CAST(nrm AS DOUBLE)*127.0 + 0.5)))
        |                  AS BIGINT))
        |         END AS code
        |  FROM z
        |), q AS (SELECT code AS qcode, embedding AS qe FROM codes WHERE vec_id = 0),
        |scored AS (
        |  SELECT c.vec_id, c.label,
        |         CAST(list_sum(list_transform(list_zip(c.code, q.qcode),
        |           t -> t[1]*t[2])) AS BIGINT) AS approx_dot,
        |         CAST(list_cosine_similarity(c.embedding, q.qe) AS DOUBLE) AS cos_sim
        |  FROM codes c CROSS JOIN q
        |  WHERE c.vec_id <> 0
        |), cand AS (
        |  SELECT * FROM scored ORDER BY approx_dot DESC, vec_id LIMIT 32
        |)
        |SELECT vec_id, label, approx_dot, cos_sim FROM cand
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // full maxsim replay from embeddings alone: f32 cosine kernel,
    // order-insensitive per-group max, the same left-associative
    // 4-term score sum
    "ann_maxsim" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id <= 3
        |), sims AS (
        |  SELECT e.vec_id // 8 AS doc_id, q.qid,
        |         CAST(list_cosine_similarity(e.embedding, q.qe) AS DOUBLE) AS sim
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id >= 8
        |), mx AS (
        |  SELECT doc_id,
        |         max(CASE WHEN qid = 0 THEN sim END) AS max_sim_0,
        |         max(CASE WHEN qid = 1 THEN sim END) AS max_sim_1,
        |         max(CASE WHEN qid = 2 THEN sim END) AS max_sim_2,
        |         max(CASE WHEN qid = 3 THEN sim END) AS max_sim_3
        |  FROM sims GROUP BY doc_id
        |)
        |SELECT doc_id, max_sim_0, max_sim_1, max_sim_2, max_sim_3,
        |       max_sim_0 + max_sim_1 + max_sim_2 + max_sim_3 AS maxsim_score
        |FROM mx
        |WHERE max_sim_0 + max_sim_1 + max_sim_2 + max_sim_3 IS NOT NULL
        |ORDER BY maxsim_score DESC, doc_id LIMIT 10""".stripMargin,
    // full BQ replay from embeddings alone: the bit rule
    // (isfinite AND > 0 — identical semantics both engines, NaN
    // comparisons differ unguarded), the query in 2^20 fixed point,
    // exact integer asymmetric dots, oversampled top-96 cut, f32
    // cosine rerank
    "ann_bq" ->
      """WITH bits AS (
        |  SELECT vec_id, label, embedding,
        |         list_transform(embedding, x ->
        |           CASE WHEN isfinite(x) AND x > 0 THEN 1 ELSE 0 END) AS bit
        |  FROM embeddings
        |), q AS (
        |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
        |), scored AS (
        |  SELECT b.vec_id, b.label,
        |         CAST(list_sum(list_transform(list_zip(b.bit, q.qe),
        |           t -> (2*t[1] - 1) *
        |                CAST(floor(CAST(t[2] AS DOUBLE) * 1048576.0) AS BIGINT)))
        |           AS BIGINT) AS adot_fp,
        |         CAST(list_cosine_similarity(b.embedding, q.qe) AS DOUBLE) AS cos_sim
        |  FROM bits b CROSS JOIN q
        |  WHERE b.vec_id <> 0
        |), cand AS (
        |  SELECT * FROM scored ORDER BY adot_fp DESC, vec_id LIMIT 96
        |)
        |SELECT vec_id, label, adot_fp, cos_sim FROM cand
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "ann_ivf_sq8" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)}),
         |probes AS (
         |  SELECT cluster_id FROM cents CROSS JOIN $qvecSql q
         |  ORDER BY CAST(list_distance(centroid, q.qv) AS DOUBLE), cluster_id
         |  LIMIT 4
         |),
         |sub AS (
         |  SELECT e.vec_id, e.label, a.ivf_cluster, e.embedding,
         |         list_distance(e.embedding,
         |           list_transform(e.embedding, x -> CAST(0.0 AS FLOAT))) AS nrm
         |  FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id
         |  WHERE a.ivf_cluster IN (SELECT cluster_id FROM probes)
         |),
         |codes AS (
         |  SELECT vec_id, label, ivf_cluster, embedding,
         |         CASE WHEN nrm = 0 OR NOT isfinite(nrm)
         |              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
         |              ELSE list_transform(embedding, x ->
         |                CAST(GREATEST(-127, LEAST(127,
         |                  floor(CAST(x AS DOUBLE)/CAST(nrm AS DOUBLE)*127.0 + 0.5)))
         |                  AS BIGINT))
         |         END AS code
         |  FROM sub
         |),
         |qz AS (
         |  SELECT embedding AS qe,
         |         list_distance(embedding,
         |           list_transform(embedding, x -> CAST(0.0 AS FLOAT))) AS nrm
         |  FROM embeddings WHERE vec_id = 0
         |),
         |qc AS (
         |  SELECT qe,
         |         CASE WHEN nrm = 0 OR NOT isfinite(nrm)
         |              THEN list_transform(qe, x -> CAST(0 AS BIGINT))
         |              ELSE list_transform(qe, x ->
         |                CAST(GREATEST(-127, LEAST(127,
         |                  floor(CAST(x AS DOUBLE)/CAST(nrm AS DOUBLE)*127.0 + 0.5)))
         |                  AS BIGINT))
         |         END AS qcode
         |  FROM qz
         |),
         |scored AS (
         |  SELECT c.vec_id, c.label, c.ivf_cluster,
         |         CAST(list_sum(list_transform(list_zip(c.code, q.qcode),
         |           t -> t[1]*t[2])) AS BIGINT) AS approx_dot,
         |         CAST(list_cosine_similarity(c.embedding, q.qe) AS DOUBLE) AS cos_sim
         |  FROM codes c CROSS JOIN qc q
         |),
         |cand AS (
         |  SELECT * FROM scored ORDER BY approx_dot DESC, vec_id LIMIT 32
         |)
         |SELECT vec_id, label, ivf_cluster, approx_dot, cos_sim FROM cand
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // ann_ivf's probe replay composed with ann_bq's bit replay over
    // the pruned rows
    "ann_ivf_bq" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)}),
         |probes AS (
         |  SELECT cluster_id FROM cents CROSS JOIN $qvecSql q
         |  ORDER BY CAST(list_distance(centroid, q.qv) AS DOUBLE), cluster_id
         |  LIMIT 4
         |),
         |bits AS (
         |  SELECT e.vec_id, e.label, a.ivf_cluster, e.embedding,
         |         list_transform(e.embedding, x ->
         |           CASE WHEN isfinite(x) AND x > 0 THEN 1 ELSE 0 END) AS bit
         |  FROM embeddings e JOIN asg a ON e.vec_id = a.vec_id
         |  WHERE a.ivf_cluster IN (SELECT cluster_id FROM probes)
         |),
         |q AS (
         |  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
         |),
         |scored AS (
         |  SELECT b.vec_id, b.label, b.ivf_cluster,
         |         CAST(list_sum(list_transform(list_zip(b.bit, q.qe),
         |           t -> (2*t[1] - 1) *
         |                CAST(floor(CAST(t[2] AS DOUBLE) * 1048576.0) AS BIGINT)))
         |           AS BIGINT) AS adot_fp,
         |         CAST(list_cosine_similarity(b.embedding, q.qe) AS DOUBLE) AS cos_sim
         |  FROM bits b CROSS JOIN q
         |),
         |cand AS (
         |  SELECT * FROM scored ORDER BY adot_fp DESC, vec_id LIMIT 64
         |)
         |SELECT vec_id, label, ivf_cluster, adot_fp, cos_sim FROM cand
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // within-cell graph replay from the assignment handoff: the
    // co-cell join, f32 list_distance dists and (dist, nbr) ranks are
    // all re-derived in SQL
    "knn_graph" ->
      s"""WITH asg AS (SELECT * FROM ${rp(GraphAsgHandoff)}),
         |v AS (
         |  SELECT e.vec_id, e.embedding, a.ivf_cluster
         |  FROM embeddings e JOIN asg a USING (vec_id)
         |  WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL
         |), d AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         |         CAST(list_distance(a.embedding, b.embedding) AS DOUBLE)
         |           AS dist,
         |         row_number() OVER (PARTITION BY a.vec_id
         |           ORDER BY CAST(list_distance(a.embedding, b.embedding)
         |                         AS DOUBLE), b.vec_id) AS rn
         |  FROM v a JOIN v b
         |    ON a.ivf_cluster = b.ivf_cluster AND a.vec_id <> b.vec_id
         |)
         |SELECT src_id, nbr_id, dist, rn FROM d WHERE rn <= 4
         |ORDER BY src_id, rn""".stripMargin,
    "outlier_knn" ->
      s"""WITH asg AS (SELECT * FROM ${rp(GraphAsgHandoff)}),
         |v AS (
         |  SELECT e.vec_id, e.embedding, a.ivf_cluster
         |  FROM embeddings e JOIN asg a USING (vec_id)
         |  WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL
         |), d AS (
         |  SELECT a.vec_id AS src_id,
         |         CAST(list_distance(a.embedding, b.embedding) AS DOUBLE)
         |           AS knn_dist,
         |         row_number() OVER (PARTITION BY a.vec_id
         |           ORDER BY CAST(list_distance(a.embedding, b.embedding)
         |                         AS DOUBLE), b.vec_id) AS rn
         |  FROM v a JOIN v b
         |    ON a.ivf_cluster = b.ivf_cluster AND a.vec_id <> b.vec_id
         |)
         |SELECT src_id, knn_dist FROM d WHERE rn = 4
         |ORDER BY knn_dist DESC, src_id LIMIT 20""".stripMargin,
    // the knn_graph_recall construction replay (probes rn<=3, seed
    // width 20, one NN-descent round) with the outlier tail: final
    // re-rank, rank-4 distance, desc top-20
    "outlier_knn_refined" ->
      s"""WITH cents AS (SELECT * FROM ${rp(GraphCentsHandoff)}),
         |asg AS (SELECT * FROM ${rp(GraphAsgHandoff)}),
         |v AS (SELECT vec_id, embedding FROM embeddings),
         |probes AS (
         |  SELECT vec_id AS src, cluster_id FROM (
         |    SELECT v.vec_id, c.cluster_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY CAST(list_distance(c.centroid, v.embedding) AS DOUBLE),
         |                      c.cluster_id) AS rn
         |    FROM v CROSS JOIN cents c) s WHERE rn <= 3
         |), g0 AS (
         |  SELECT src, nbr FROM (
         |    SELECT p.src, e.vec_id AS nbr,
         |           row_number() OVER (PARTITION BY p.src
         |             ORDER BY CAST(list_distance(e.embedding, q.embedding) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM probes p
         |    JOIN asg a ON a.ivf_cluster = p.cluster_id
         |    JOIN v e ON e.vec_id = a.vec_id
         |    JOIN v q ON q.vec_id = p.src
         |    WHERE e.vec_id <> p.src) s WHERE rn <= 20
         |), sym0 AS (
         |  SELECT src, nbr FROM g0 UNION SELECT nbr, src FROM g0
         |), mem0 AS (
         |  SELECT src AS pivot, nbr AS member FROM sym0
         |  UNION SELECT vec_id, vec_id FROM v
         |), cand0 AS (
         |  SELECT a.member AS src, b.member AS nbr
         |  FROM mem0 a JOIN mem0 b ON a.pivot = b.pivot AND a.member <> b.member
         |  UNION SELECT src, nbr FROM g0
         |), g1 AS (
         |  SELECT src, nbr FROM (
         |    SELECT c.src, c.nbr,
         |           row_number() OVER (PARTITION BY c.src
         |             ORDER BY CAST(list_distance(ea.embedding, eb.embedding) AS DOUBLE),
         |                      c.nbr) AS rn
         |    FROM cand0 c
         |    JOIN v ea ON ea.vec_id = c.src
         |    JOIN v eb ON eb.vec_id = c.nbr) s WHERE rn <= 20
         |), final AS (
         |  SELECT src, d FROM (
         |    SELECT g1.src,
         |           CAST(list_distance(ea.embedding, eb.embedding) AS DOUBLE) AS d,
         |           row_number() OVER (PARTITION BY g1.src
         |             ORDER BY CAST(list_distance(ea.embedding, eb.embedding) AS DOUBLE),
         |                      g1.nbr) AS rn
         |    FROM g1
         |    JOIN v ea ON ea.vec_id = g1.src
         |    JOIN v eb ON eb.vec_id = g1.nbr) s WHERE rn = 4
         |)
         |SELECT src AS src_id, d AS knn_dist FROM final
         |ORDER BY knn_dist DESC, src_id LIMIT 20""".stripMargin,
    // exact integer projection replay from the model handoff:
    // inputs quantize floor(x*2^20), coord = sum of exact long
    // products — no float anywhere downstream of the handoff
    "pca_project" ->
      s"""WITH mean AS (SELECT mu_fp FROM ${rp(s"$PcaProjectHandoff/pca_mean")}),
         |comps AS (SELECT comp_id, comp_fp FROM ${rp(s"$PcaProjectHandoff/pca_components")}),
         |x AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS xfp
         |  FROM embeddings
         |)
         |SELECT x.vec_id, CAST(c.comp_id AS BIGINT) AS comp_id,
         |       CAST(list_sum(list_transform(range(1, len(x.xfp) + 1),
         |         i -> (x.xfp[i] - m.mu_fp[i]) * c.comp_fp[i])) AS BIGINT) AS coord_fp
         |FROM x CROSS JOIN mean m CROSS JOIN comps c
         |ORDER BY vec_id, comp_id""".stripMargin,
    // same projection replay, coords rescaled floor(c/2^20) (exact in
    // f64 for powers of two), ranked by the exact int64 squared L2
    "pca_knn" ->
      s"""WITH mean AS (SELECT mu_fp FROM ${rp(s"$PcaKnnHandoff/pca_mean")}),
         |comps AS (SELECT comp_id, comp_fp FROM ${rp(s"$PcaKnnHandoff/pca_components")}),
         |x AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS xfp
         |  FROM embeddings
         |),
         |proj AS (
         |  SELECT x.vec_id, c.comp_id,
         |         CAST(floor(CAST(list_sum(list_transform(range(1, len(x.xfp) + 1),
         |           i -> (x.xfp[i] - m.mu_fp[i]) * c.comp_fp[i])) AS DOUBLE)
         |             / 1048576.0) AS BIGINT) AS cs
         |  FROM x CROSS JOIN mean m CROSS JOIN comps c
         |),
         |pv AS (SELECT vec_id, list(cs ORDER BY comp_id) AS pc FROM proj GROUP BY vec_id),
         |qv2 AS (SELECT pc AS qc FROM pv WHERE vec_id = 0),
         |dist AS (
         |  SELECT vec_id,
         |         CAST(list_sum(list_transform(range(1, len(pc) + 1),
         |           i -> (pc[i] - qc[i]) * (pc[i] - qc[i]))) AS BIGINT) AS pca_dist
         |  FROM pv CROSS JOIN qv2
         |)
         |SELECT vec_id, pca_dist FROM dist
         |ORDER BY pca_dist ASC, vec_id LIMIT 10""".stripMargin,
    // same replay as ann_recall_report; first hit = min approx rank
    // inside the exact set, rr = one engine-identical division
    "ann_mrr_report" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)}),
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 32
         |), probes AS (
         |  SELECT query_id, cluster_id FROM (
         |    SELECT q.query_id, c.cluster_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(c.centroid, q.qv) AS DOUBLE),
         |                      c.cluster_id) AS rn
         |    FROM q CROSS JOIN cents c) AS s WHERE rn <= 4
         |), approx AS (
         |  SELECT query_id, vec_id, rn FROM (
         |    SELECT p.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY CAST(list_distance(e.embedding, q.qv) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM probes p
         |    JOIN asg a ON a.ivf_cluster = p.cluster_id
         |    JOIN embeddings e ON e.vec_id = a.vec_id
         |    JOIN q ON q.query_id = p.query_id) AS s WHERE rn <= 10
         |), exact AS (
         |  SELECT query_id, vec_id, rn FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(e.embedding, q.qv) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM q CROSS JOIN embeddings e) AS s WHERE rn <= 10
         |), hits AS (
         |  SELECT a.query_id, CAST(min(a.rn) AS BIGINT) AS first_hit_rank
         |  FROM approx a JOIN exact e ON e.query_id = a.query_id
         |                            AND e.vec_id = a.vec_id
         |  GROUP BY a.query_id
         |)
         |SELECT q.query_id, h.first_hit_rank,
         |       coalesce(1.0 / CAST(h.first_hit_rank AS DOUBLE), 0.0) AS rr_at_10
         |FROM q LEFT JOIN hits h USING (query_id)
         |ORDER BY q.query_id""".stripMargin,
    // both rankings replayed from the index handoff (the
    // ann_recall_report replay), grades + DCG as exact integer sums
    // over the discount handoff, IDCG per query from that query's
    // actual exact rows (both engines derive the identical sums)
    "ann_ndcg_report" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)}),
         |disc AS (SELECT * FROM ${rp(NdcgDiscHandoff)}),
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 32
         |), probes AS (
         |  SELECT query_id, cluster_id FROM (
         |    SELECT q.query_id, c.cluster_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(c.centroid, q.qv) AS DOUBLE),
         |                      c.cluster_id) AS rn
         |    FROM q CROSS JOIN cents c) AS s WHERE rn <= 4
         |), approx AS (
         |  SELECT query_id, vec_id, rn FROM (
         |    SELECT p.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY CAST(list_distance(e.embedding, q.qv) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM probes p
         |    JOIN asg a ON a.ivf_cluster = p.cluster_id
         |    JOIN embeddings e ON e.vec_id = a.vec_id
         |    JOIN q ON q.query_id = p.query_id) AS s WHERE rn <= 10
         |), exact AS (
         |  SELECT query_id, vec_id, rn FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(e.embedding, q.qv) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM q CROSS JOIN embeddings e) AS s WHERE rn <= 10
         |), idcg AS (
         |  SELECT e.query_id,
         |         CAST(sum((11 - e.rn) * d.disc_fp) AS BIGINT) AS idcg_fp
         |  FROM exact e JOIN disc d ON d.rank = e.rn
         |  GROUP BY e.query_id
         |), dcg AS (
         |  SELECT a.query_id,
         |         CAST(sum(coalesce(11 - e.rn, 0) * d.disc_fp) AS BIGINT) AS dcg_fp
         |  FROM approx a
         |  JOIN disc d ON d.rank = a.rn
         |  LEFT JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         |  GROUP BY a.query_id
         |)
         |SELECT q.query_id,
         |       CAST(coalesce(g.dcg_fp, 0) AS BIGINT) AS dcg_fp,
         |       CASE WHEN i.idcg_fp IS NULL THEN 0.0
         |            ELSE CAST(coalesce(g.dcg_fp, 0) AS DOUBLE) /
         |                 CAST(i.idcg_fp AS DOUBLE) END AS ndcg_at_10
         |FROM q LEFT JOIN dcg g USING (query_id) LEFT JOIN idcg i USING (query_id)
         |ORDER BY q.query_id""".stripMargin,
    "ann_ivfpq" ->
      s"""WITH h AS (SELECT * FROM ${rp(PqCandHandoff)})
         |SELECT h.vec_id, h.adc_dist,
         |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
         |FROM h JOIN embeddings e ON h.vec_id = e.vec_id
         |CROSS JOIN $qvecSql q
         |ORDER BY dist, h.vec_id
         |LIMIT 10""".stripMargin,
    "ann_ivf_append" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |base AS (SELECT * FROM ${rp(AssignedHandoff)}),
         |app AS (
         |  SELECT e.vec_id + 1000000 AS vec_id, e.vec_id AS orig_id
         |  FROM embeddings e WHERE e.vec_id % 10 = 0
         |),
         |appd AS (
         |  SELECT vec_id, orig_id, cluster_id AS ivf_cluster FROM (
         |    SELECT a.vec_id, a.orig_id, c.cluster_id,
         |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |             list_distance(CAST(e.embedding AS DOUBLE[]),
         |                           CAST(c.centroid AS DOUBLE[])),
         |             c.cluster_id) AS rn
         |    FROM app a JOIN embeddings e ON a.orig_id = e.vec_id
         |    CROSS JOIN cents c
         |  ) WHERE rn = 1
         |),
         |uni AS (
         |  SELECT b.vec_id AS orig_id, b.ivf_cluster FROM base b
         |  UNION ALL
         |  SELECT d.orig_id, d.ivf_cluster FROM appd d
         |),
         |dd AS (
         |  SELECT u.ivf_cluster,
         |         CAST(list_distance(e.embedding, c.centroid) AS DOUBLE) AS d
         |  FROM uni u
         |  JOIN embeddings e ON u.orig_id = e.vec_id
         |  JOIN cents c ON u.ivf_cluster = c.cluster_id
         |)
         |SELECT ivf_cluster, CAST(count(*) AS BIGINT) AS n_vectors,
         |       CAST(CAST(sum(CAST(floor(d * d * 1048576.0) AS BIGINT)) AS BIGINT)
         |              AS DOUBLE) /
         |         CAST(count(*) * 1048576 AS DOUBLE) AS mean_sq_dist
         |FROM dd GROUP BY ivf_cluster
         |ORDER BY ivf_cluster""".stripMargin,
    "cluster_domains" ->
      s"""WITH cents AS (SELECT * FROM ${rp(CentroidsHandoff)}),
         |asg AS (SELECT * FROM ${rp(AssignedHandoff)}),
         |d AS (
         |  SELECT a.ivf_cluster, e.label,
         |         CAST(floor(CAST(list_distance(e.embedding, c.centroid) AS DOUBLE)
         |                    * 1048576.0) AS BIGINT) AS dfp
         |  FROM asg a
         |  JOIN embeddings e ON a.vec_id = e.vec_id
         |  JOIN cents c ON a.ivf_cluster = c.cluster_id
         |),
         |pl AS (
         |  SELECT ivf_cluster, label, CAST(count(*) AS BIGINT) AS ln,
         |         CAST(sum(dfp) AS BIGINT) AS sd
         |  FROM d GROUP BY ivf_cluster, label
         |),
         |agg AS (
         |  SELECT ivf_cluster, CAST(sum(ln) AS BIGINT) AS n,
         |         CAST(sum(sd) AS BIGINT) AS ssd
         |  FROM pl GROUP BY ivf_cluster
         |),
         |mj AS (
         |  SELECT ivf_cluster, label AS majority_label, ln AS mn FROM (
         |    SELECT pl.*, row_number() OVER (PARTITION BY ivf_cluster
         |      ORDER BY ln DESC, label DESC) AS rn FROM pl
         |  ) WHERE rn = 1
         |)
         |SELECT CAST(a.ivf_cluster AS BIGINT) AS cluster_id, a.n,
         |       CAST(a.ssd AS DOUBLE) / CAST(a.n * 1048576 AS DOUBLE) AS mean_dist,
         |       m.majority_label,
         |       CAST(m.mn AS DOUBLE) / CAST(a.n AS DOUBLE) AS majority_frac
         |FROM agg a JOIN mj m ON a.ivf_cluster = m.ivf_cluster
         |ORDER BY n DESC, cluster_id""".stripMargin,
    // graph-traversal candidates are the handoff; the oracle replays
    // the exact f32 rerank over them (the ann_ivfpq contract)
    "ann_hnsw" ->
      s"""WITH h AS (SELECT vec_id FROM ${rp(HnswCandHandoff)})
         |SELECT h.vec_id, e.label,
         |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
         |FROM h JOIN embeddings e ON h.vec_id = e.vec_id
         |CROSS JOIN $qvecSql q
         |ORDER BY dist, h.vec_id
         |LIMIT 10""".stripMargin,
    // approx top-10 from the handoff, exact top-10 re-derived by
    // brute force, integer intersection counts — the
    // ann_recall_report shape with the approx side handed off
    "ann_hnsw_recall" ->
      s"""WITH approx AS (SELECT * FROM ${rp(HnswApproxHandoff)}),
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 32
         |), exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY CAST(list_distance(e.embedding, q.qv) AS DOUBLE),
         |                      e.vec_id) AS rn
         |    FROM q CROSS JOIN embeddings e) AS s WHERE rn <= 10
         |), nex AS (
         |  SELECT query_id, count(DISTINCT vec_id) AS n_ex
         |  FROM exact GROUP BY 1
         |), hits AS (
         |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM exact e JOIN approx a ON e.query_id = a.query_id
         |                            AND e.vec_id = a.vec_id
         |  GROUP BY 1
         |)
         |SELECT q.query_id,
         |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(h.n_hits, 0) AS DOUBLE)
         |         / CAST(least(10, nex.n_ex) AS DOUBLE) AS recall_at_10
         |FROM q LEFT JOIN hits h USING (query_id) JOIN nex USING (query_id)
         |ORDER BY q.query_id""".stripMargin,
    // the ann_hnsw replay + the same predicate (the ann_ivf_filtered
    // oracle relationship)
    "ann_hnsw_filtered" ->
      s"""WITH h AS (SELECT vec_id FROM ${rp(HnswFilterHandoff)})
         |SELECT h.vec_id, e.label,
         |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
         |FROM h JOIN embeddings e ON h.vec_id = e.vec_id
         |CROSS JOIN $qvecSql q
         |WHERE e.label IN (2, 3) OR e.label >= 8
         |ORDER BY dist, h.vec_id
         |LIMIT 10""".stripMargin,
    // base ∪ appended reconstructed by formula (appends are corpus
    // rows at shifted ids), then the exact rerank over the handoff
    "ann_hnsw_append" ->
      s"""WITH uni AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id, label, embedding
         |  FROM embeddings WHERE vec_id % 10 = 0
         |), h AS (SELECT vec_id FROM ${rp(HnswAppendHandoff)})
         |SELECT h.vec_id, u.label,
         |       CAST(list_distance(u.embedding, q.qv) AS DOUBLE) AS dist
         |FROM h JOIN uni u ON h.vec_id = u.vec_id
         |CROSS JOIN $qvecSql q
         |ORDER BY dist, h.vec_id
         |LIMIT 10""".stripMargin,
    // the ann_hnsw replay with the DELETE predicate applied on the
    // oracle side only — Spark trusts the kernel's tombstone filter,
    // so one leaked deleted id in the candidate top-10 forks the hash
    "ann_hnsw_delete" -> hnswDeleteOracleSql(HnswDeleteHandoff),
    // same delete predicate over the post-compaction candidates:
    // compaction must neither resurrect a tombstone nor lose live
    // neighborhoods
    "ann_hnsw_compact" -> hnswDeleteOracleSql(HnswCompactHandoff)
  )

  /** The one oracle-side mirror of [[tombstonedGraph]]'s delete
    * predicate (`vec_id % 5 <> 0`), parameterized on the candidate
    * handoff — both tombstone gates replay through this definition. */
  private def hnswDeleteOracleSql(handoff: String): String =
    s"""WITH h AS (SELECT vec_id FROM ${rp(handoff)})
       |SELECT h.vec_id, e.label,
       |       CAST(list_distance(e.embedding, q.qv) AS DOUBLE) AS dist
       |FROM h JOIN embeddings e ON h.vec_id = e.vec_id
       |CROSS JOIN $qvecSql q
       |WHERE e.vec_id % 5 <> 0
       |ORDER BY dist, h.vec_id
       |LIMIT 10""".stripMargin
}
