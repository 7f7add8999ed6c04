package graft

import graft.operators.{Ann, Bm25}
import graft.queries.{AnnQueries, HybridQueries, VectorQueries}
import graft.serving.Serving

/** Driver-side serving probe path: result parity with the Spark
  * operators over the SAME persisted index layouts, plus the latency
  * property that justifies its existence (no Spark job on the read
  * path). */
class ServingSpec extends SparkSpec {
  import spark.implicits._

  private def ivfPath: String = AnnQueries.persistedIvfPath(spark, sfDir)

  /** Run `probe` uncached and on a fresh real [[Serving.IndexCache]]
    * (cold fill, then warm), asserting all three answers equal `want`. */
  private def assertUncachedAndCached[A](want: Seq[A], clue: String)
                                        (probe: Option[Serving.IndexCache] => Seq[A]): Unit = {
    assert(probe(None) === want, s"uncached: $clue")
    val cache = Some(Serving.newCache())
    assert(probe(cache) === want, s"cached cold: $clue")
    assert(probe(cache) === want, s"cached warm: $clue")
  }

  private def ivfProbe(path: String, q: Array[Float], k: Int, nprobe: Int)
                      (cache: Option[Serving.IndexCache]): Seq[(Long, Int, Int, Double)] =
    cache.fold(Serving.searchIvf(path, q, k, nprobe))(c =>
      Serving.searchIvf(path, q, k, nprobe, cache = c))
      .map(h => (h.vecId, h.label, h.cluster, h.dist))

  private def sparkIvf(path: String, q: Seq[Float], k: Int,
                       nprobe: Int): Seq[(Long, Int, Int, Double)] =
    Ann.searchIvf(Ann.loadIvf(spark, path), q, k, nprobe = nprobe)
      .select($"vec_id", $"label", $"ivf_cluster".cast("int"), $"dist")
      .as[(Long, Int, Int, Double)].collect().toSeq

  test("IVF serving probe == Spark searchIvf, hit for hit") {
    val path = ivfPath
    val cells = Ann.loadIvf(spark, path).centroids.length
    for (qi <- Seq(0, 3); k <- Seq(1, 10, 50); nprobe <- Seq(1, 4, cells)) {
      val q = VectorQueries.qvec(spark, sfDir, qi)
      assertUncachedAndCached(sparkIvf(path, q, k, nprobe),
        s"q=$qi k=$k nprobe=$nprobe")(ivfProbe(path, q.toArray, k, nprobe))
    }
  }

  test("IVF ties on duplicated vectors go to the lower vec_id, cached and uncached") {
    // 3 copies of each of 4 base vectors: every probe meets exact
    // (dist, vec_id) ties that only the id can order
    val base = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f), Seq(0f, 0f, 1f),
      Seq(0.6f, 0.8f, 0f))
    val emb = (0 until 12).map(i => (11L - i, i % 3, base(i % 4)))
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-dups").toString
    Ann.saveIvf(Ann.buildIvf(emb, numClusters = 2), dir)
    for (b <- base; k <- Seq(1, 3, 5, 12); nprobe <- Seq(1, 2)) {
      val want = sparkIvf(dir, b, k, nprobe)
      assertUncachedAndCached(want, s"q=$b k=$k nprobe=$nprobe")(
        ivfProbe(dir, b.toArray, k, nprobe))
      val lead = want.takeWhile(_._4 == 0.0).map(_._1)
      assert(lead === lead.sorted && lead.nonEmpty, s"q=$b: ties by vec_id")
    }
  }

  test("bounded top-k keeps sortBy edge semantics: k <= 0 empty, huge k whole ranking, NaN by Double.compare") {
    val path = ivfPath
    val index = Ann.loadIvf(spark, path)
    val bm25 = HybridQueries.persistedBm25(spark, sfDir)
    val hnsw = AnnQueries.persistedHnswPath(spark, sfDir)
    val q = VectorQueries.qvec(spark, sfDir, 0).toArray
    val cache = Serving.newCache()
    for (k <- Seq(0, -1, Int.MinValue)) {
      assert(Serving.searchIvf(path, q, k, nprobe = 4).isEmpty)
      assert(Serving.searchIvf(path, q, k, nprobe = 4, cache = cache).isEmpty)
      assert(Serving.searchBm25(bm25, Seq("vector"), k).isEmpty)
      assert(Serving.searchBm25(bm25, Seq("vector"), k, cache = cache).isEmpty)
      assert(Serving.searchHnsw(hnsw, q, k, ef = 32, nprobe = 4).isEmpty)
    }
    // a k past every candidate returns the whole probed ranking
    val cells = index.centroids.length
    val all = sparkIvf(path, q.toSeq, index.assigned.count().toInt, cells)
    assertUncachedAndCached(all, "k = Int.MaxValue")(ivfProbe(path, q, Int.MaxValue, cells))
    assert(Serving.searchBm25(bm25, Seq("vector"), Int.MaxValue) ===
      Serving.searchBm25(bm25, Seq("vector"), 1 << 20))
    // a NaN query makes every distance NaN: the old stable
    // sortBy((dist, vec_id)) put all NaNs equal, so the ids decide —
    // replayed here over every cell's rows with the f32 kernel
    val rows = index.assigned
      .select($"vec_id", $"label", $"ivf_cluster".cast("int"), $"embedding")
      .as[(Long, Int, Int, Seq[Float])].collect().toSeq
    for (nanQ <- Seq(q.updated(5, Float.NaN), Array.fill(q.length)(Float.NaN))) {
      val want = rows.map { case (id, label, c, v) =>
        var acc = 0.0f; var d = 0
        while (d < v.length) { val x = v(d) - nanQ(d); acc += x * x; d += 1 }
        (id, label, c, math.sqrt(acc.toDouble).toFloat.toDouble)
      }.sortBy(h => (h._4, h._1)).take(10)
      assert(want.forall(_._4.isNaN))
      // NaN != NaN: compare the distances' bits
      def bits(hs: Seq[(Long, Int, Int, Double)]) =
        hs.map(h => h.copy(_4 = java.lang.Double.doubleToRawLongBits(h._4)))
      assertUncachedAndCached(bits(want), "NaN query")(c =>
        bits(ivfProbe(path, nanQ, 10, cells)(c)))
    }
  }

  test("BM25 serving probe == Spark searchPersistedIndex, hit for hit") {
    val path = HybridQueries.persistedBm25(spark, sfDir)
    val vocab = spark.read.parquet(s"$path/postings").select($"term")
      .distinct().as[String].collect().sorted.toSeq
    val queries = Seq(
      Seq("vector", "hash", "join"),
      Seq("hash", "vector", "hash", "hash"),              // duplicated terms
      Seq("zzznotaterm", "vector", "qqq0", "join"),       // absent + present
      vocab)                                              // whole vocabulary
    for (terms <- queries; rational <- Seq(true, false)) {
      val matching = spark.read.parquet(s"$path/postings")
        .filter($"term".isin(terms: _*)).select($"id").distinct().count().toInt
      for (k <- Seq(1, 10, 50, matching + 7)) {
        val viaSpark = Bm25.searchPersistedIndex(spark, path, terms, k = k,
            rationalIdf = rational)
          .as[(Long, Long, Long)].collect().toSeq
        assertUncachedAndCached(viaSpark,
          s"terms=${terms.take(4)} rational=$rational k=$k") { cache =>
          cache.fold(Serving.searchBm25(path, terms, k, rationalIdf = rational))(c =>
            Serving.searchBm25(path, terms, k, rationalIdf = rational, cache = c))
            .map(h => (h.id, h.bm25Fp, h.nTerms))
        }
      }
    }
    assert(Serving.searchBm25(path, Seq("zzznotaterm"), 10).isEmpty)
  }

  test("IVF-PQ serving probe == Spark searchIvfPq, hit for hit, zero Spark jobs") {
    import graft.operators.Pq
    val path = ivfPath
    val index = Ann.loadIvf(spark, path)
    val model = Pq.train(Pq.residuals(index), "residual", m = 8, k = 16)
    val encoded = Pq.encode(index, model)
    val q = VectorQueries.qvec(spark, sfDir, 2)
    for (nprobe <- Seq(4, 16)) {
      val viaSpark = Pq.searchIvfPq(encoded, index, model, q,
          k = 8, nprobe = nprobe, refine = 4)
        .select($"vec_id", $"adc_dist", $"dist")
        .as[(Long, Double, Double)].collect().toSeq
      val cache = Serving.newCache()
      Serving.searchIvfPq(path, model, q.toArray, 8, nprobe, cache = cache) // warm
      val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val viaServing = Serving.searchIvfPq(path, model, q.toArray, 8, nprobe,
          cache = cache)
        .map(h => (h.vecId, h.adcDist, h.dist))
      val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      assert(jobsAfter === jobsBefore, "PQ probe must not launch Spark jobs")
      assert(viaServing === viaSpark, s"nprobe=$nprobe")
    }
    intercept[IllegalArgumentException](
      Serving.searchIvfPq(path, model,
        VectorQueries.qvec(spark, sfDir, 2).toArray, 8, 4, refine = 0))
  }

  test("BQ + IVF-BQ serving probes == Spark searchBq/searchIvfBq, hit for hit, zero Spark jobs") {
    import graft.operators.Bq
    val path = ivfPath
    val index = Ann.loadIvf(spark, path)
    val q = VectorQueries.qvec(spark, sfDir, 1)
    // global form: the batch scan over the whole persisted corpus
    val viaSparkGlobal = Bq.searchBq(Bq.quantize(index.assigned), q,
        k = 8, rerank = 48)
      .select($"vec_id", $"label", $"ivf_cluster".cast("int"),
        $"adot_fp", $"cos_sim")
      .as[(Long, Int, Int, Long, Double)].collect().toSeq
    val cache = Serving.newCache()
    Serving.searchBq(path, q.toArray, 8, 48, cache = cache) // warm
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val viaServingGlobal = Serving.searchBq(path, q.toArray, 8, 48,
        cache = cache)
      .map(h => (h.vecId, h.label, h.cluster, h.adotFp, h.cosSim))
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "BQ probe must not launch Spark jobs")
    assert(viaServingGlobal === viaSparkGlobal)
    // pruned form: coarse probes + the same two-phase code scan
    for (nprobe <- Seq(4, 16)) {
      val viaSpark = Bq.searchIvfBq(index, q, k = 8, rerank = 48,
          nprobe = nprobe)
        .select($"vec_id", $"label", $"ivf_cluster".cast("int"),
          $"adot_fp", $"cos_sim")
        .as[(Long, Int, Int, Long, Double)].collect().toSeq
      val viaServing = Serving.searchIvfBq(path, q.toArray, 8, 48, nprobe,
          cache = cache)
        .map(h => (h.vecId, h.label, h.cluster, h.adotFp, h.cosSim))
      assert(viaServing === viaSpark, s"nprobe=$nprobe")
    }
    intercept[IllegalArgumentException](
      Serving.searchBq(path, q.toArray, 8, rerank = 4))
  }

  test("MMR serving probe (nprobe=ALL) == batchMmr, pick for pick, zero Spark jobs") {
    val path = ivfPath
    val q = VectorQueries.qvec(spark, sfDir, 0)
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val viaSpark = graft.operators.Rerank
      .batchMmr(emb, qs, k = 8, fetchK = 24,
        candFilter = Some($"vec_id" =!= $"query_id"))
      .select($"vec_id", $"mmr_rank", $"mmr_score")
      .as[(Long, Long, Double)].collect().toSeq
    Serving.mmrIvf(path, q.toArray, 8, 24, nprobe = 16, excludeId = 0L) // warm
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val viaServing = Serving.mmrIvf(path, q.toArray, 8, 24, nprobe = 16,
        excludeId = 0L)
      .map(h => (h.vecId, h.rank, h.score))
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "MMR probe must not launch Spark jobs")
    assert(viaServing === viaSpark)
  }

  test("hybrid RRF serving probe == Spark rrfFuse over the same persisted indexes, zero jobs") {
    val ivf = ivfPath
    val bm25 = HybridQueries.persistedBm25(spark, sfDir)
    val q = VectorQueries.qvec(spark, sfDir, 0)
    val terms = Seq("vector", "hash", "join")
    val index = Ann.loadIvf(spark, ivf)
    val vecRanked = Bm25.withRank(
      Ann.searchIvf(index, q, 50, nprobe = 4)
        .select($"vec_id".as("id"), $"dist"),
      Seq(org.apache.spark.sql.functions.col("dist").asc,
        org.apache.spark.sql.functions.col("id").asc)).select("id", "rank")
    val bmRanked = Bm25.withRank(
      Bm25.searchPersistedIndex(spark, bm25, terms, 50, rationalIdf = true),
      Seq(org.apache.spark.sql.functions.col("bm25_fp").desc,
        org.apache.spark.sql.functions.col("id").asc)).select("id", "rank")
    val viaSpark = Bm25.rrfFuse(vecRanked, bmRanked, k = 10)
      .as[(Long, Long)].collect().toSeq
    Serving.hybridRrf(ivf, bm25, q.toArray, terms, 10,
      rationalIdf = true) // warm
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val viaServing = Serving.hybridRrf(ivf, bm25, q.toArray, terms, 10,
      rationalIdf = true)
      .map(h => (h.id, h.rrfFp))
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "hybrid probe must not launch Spark jobs")
    assert(viaServing === viaSpark)
  }

  test("serving probe answers without a Spark job, well under the job floor") {
    val path = ivfPath
    val q = VectorQueries.qvec(spark, sfDir, 0).toArray
    Serving.searchIvf(path, q, 10, nprobe = 4) // warm (FS metadata, classloading)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val t0 = System.nanoTime()
    val hits = Serving.searchIvf(path, q, 10, nprobe = 4)
    val servingMs = (System.nanoTime() - t0) / 1e6
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(hits.size === 10)
    assert(jobsAfter === jobsBefore, "serving probe must not launch Spark jobs")
    // latency is info-only: the no-Spark-job assertion above IS the
    // property this test exists for; a wall-clock bound would flake on
    // a loaded CI box without proving anything further
    info(f"serving probe latency: $servingMs%.1f ms (warm, uncached)")
  }

  test("IndexCache: cached probes bit-identical, repeat probe served from memory") {
    val path = ivfPath
    val q = VectorQueries.qvec(spark, sfDir, 0).toArray
    val cache = Serving.newCache()
    val uncached = Serving.searchIvf(path, q, 10, nprobe = 4)
    val first = Serving.searchIvf(path, q, 10, nprobe = 4, cache = cache)
    assert(first === uncached, "cached probe must be bit-identical")
    assert(cache.size > 0, "first cached probe must populate the cache")
    val sizeAfterFirst = cache.size
    val t0 = System.nanoTime()
    val second = Serving.searchIvf(path, q, 10, nprobe = 4, cache = cache)
    val repeatMs = (System.nanoTime() - t0) / 1e6
    assert(second === uncached)
    assert(cache.size === sizeAfterFirst,
      "repeat probe of the same index must not re-load any directory")
    info(f"repeat cached probe latency: $repeatMs%.1f ms")

    // BM25 side: same parity + reuse contract, different query terms
    // still hit the cached posting dirs
    val bmPath = HybridQueries.persistedBm25(spark, sfDir)
    val terms = Seq("vector", "hash", "join")
    val bmUncached = Serving.searchBm25(bmPath, terms, k = 20)
    val bmFirst = Serving.searchBm25(bmPath, terms, k = 20, cache = cache)
    assert(bmFirst === bmUncached)
    val bmSize = cache.size
    val other = Serving.searchBm25(bmPath, Seq("vector"), k = 20, cache = cache)
    assert(other === Serving.searchBm25(bmPath, Seq("vector"), k = 20))
    assert(cache.size === bmSize,
      "a different term set over the same pruned ranges must reuse cached postings")
  }

  test("NB serving probe == Spark nbScore doc for doc, no Spark job on the probe") {
    import graft.operators.CorpusModels
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).limit(120)
    val labeled = docs.withColumn("keep", col("doc_id") % 3 =!= 0)
    val (model, prior) = CorpusModels.nbTrain(labeled, "text", "keep", 1 << 20)
    val dir = java.nio.file.Files.createTempDirectory("nb-serve").toString
    CorpusModels.saveNbModel(model, prior, dir)
    val batch = CorpusModels.nbScore(docs, "doc_id", "text", model, prior)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("score_fp"), r.getAs[Boolean]("keep_pred")))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // warm the model map into THE cache the loop uses, then assert the
    // probes launch no jobs
    val cache = Serving.newCache()
    Serving.scoreNb(dir, texts.head._2, cache = cache)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    texts.foreach { case (id, text) =>
      val s = Serving.scoreNb(dir, text, cache = cache)
      assert((s.scoreFp, s.keepPred) === batch(id), s"doc $id")
    }
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "NB probe must not launch Spark jobs")
    // null text scores the prior, matching the batch left-join contract
    val priorFp = prior.collect()(0).getAs[Long]("prior_fp")
    assert(Serving.scoreNb(dir, null, cache = cache).scoreFp === priorFp)
  }

  test("LM perplexity serving probe == Spark perplexity doc for doc, no Spark job") {
    import graft.operators.CorpusModels
    val docs = Tables.documents(spark, sfDir).limit(120)
    val (vocab, stats) = CorpusModels.unigramLm(docs, "text", 24)
    val dir = java.nio.file.Files.createTempDirectory("lm-serve").toString
    CorpusModels.saveLmModel(vocab, stats, dir)
    val batch = CorpusModels.perplexity(docs, "doc_id", "text", vocab, stats)
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("n_tokens"),
        r.getAs[Long]("nll_fp"), r.getAs[Double]("cross_entropy")))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val cache = Serving.newCache()
    Serving.scorePpl(dir, texts.head._2, cache = cache)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    texts.foreach { case (id, text) =>
      val s = Serving.scorePpl(dir, text, cache = cache)
      assert((s.nTokens, s.nllFp, s.crossEntropy) === batch(id), s"doc $id")
    }
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "LM probe must not launch Spark jobs")
    // null/empty text → the zero row, matching the batch contract
    assert(Serving.scorePpl(dir, null, cache = cache) === Serving.PplScore(0L, 0L, 0.0))
  }

  test("bigram-LM serving probe == Spark bigramPerplexity doc for doc, no Spark job") {
    import graft.operators.CorpusModels
    val docs = Tables.documents(spark, sfDir).limit(120)
    // contextCap below the corpus' distinct-context count, so the
    // capped-out-context DROP path is live in both batch and probe
    val (bi, ctx) = CorpusModels.bigramLm(docs, "text", 512, 24)
    val dir = java.nio.file.Files.createTempDirectory("bigram-serve").toString
    CorpusModels.saveBigramLm(bi, ctx, dir)
    val batch = CorpusModels.bigramPerplexity(docs, "doc_id", "text", bi, ctx)
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("n_transitions"),
        r.getAs[Long]("nll_fp"), r.getAs[Double]("cross_entropy")))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val cache = Serving.newCache()
    Serving.scoreBigramPpl(dir, texts.head._2, cache = cache)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    texts.foreach { case (id, text) =>
      val s = Serving.scoreBigramPpl(dir, text, cache = cache)
      assert((s.nTransitions, s.nllFp, s.crossEntropy) === batch(id), s"doc $id")
    }
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "bigram probe must not launch Spark jobs")
    // null text → the zero row (no transitions)
    assert(Serving.scoreBigramPpl(dir, null, cache = cache) ===
      Serving.BigramPplScore(0L, 0L, 0.0))
    // fail-loud on a missing model dir
    intercept[IllegalArgumentException] {
      Serving.scoreBigramPpl("/nonexistent/bigram-model", "a b")
    }
  }

  test("backoff serving probe == Spark backoffPerplexity doc for doc, no Spark job") {
    import graft.operators.CorpusModels
    val docs = Tables.documents(spark, sfDir).limit(120)
    val (bi, ctx) = CorpusModels.bigramLm(docs, "text", 512, 24)
    val (vocab, stats) = CorpusModels.unigramLm(docs, "text", 24)
    val biDir = java.nio.file.Files.createTempDirectory("bko-bi").toString
    val lmDir = java.nio.file.Files.createTempDirectory("bko-lm").toString
    CorpusModels.saveBigramLm(bi, ctx, biDir)
    CorpusModels.saveLmModel(vocab, stats, lmDir)
    val batch = CorpusModels.backoffPerplexity(docs, "doc_id", "text", bi, vocab, stats)
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("n_transitions"),
        r.getAs[Long]("nll_fp"), r.getAs[Double]("cross_entropy")))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val cache = Serving.newCache()
    Serving.scoreBackoffPpl(biDir, lmDir, texts.head._2, cache = cache)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    texts.foreach { case (id, text) =>
      val s = Serving.scoreBackoffPpl(biDir, lmDir, text, cache = cache)
      assert((s.nTransitions, s.nllFp, s.crossEntropy) === batch(id), s"doc $id")
    }
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "backoff probe must not launch Spark jobs")
    assert(Serving.scoreBackoffPpl(biDir, lmDir, null, cache = cache) ===
      Serving.BigramPplScore(0L, 0L, 0.0))
  }

  test("multiclass NB serving probe == Spark multiclassNbPredict doc for doc, no Spark job") {
    import graft.operators.CorpusModels
    val docs = Tables.documents(spark, sfDir).limit(120)
    // cap 24 < ~31 distinct tokens per language, so the per-class OOV
    // path is live in both batch and probe
    val (vocab, stats) = CorpusModels.groupedUnigramLm(docs, "lang", "text", 24)
    val priors = CorpusModels.multiclassNbPriors(docs, "lang")
    val dir = java.nio.file.Files.createTempDirectory("mcnb-serve").toString
    CorpusModels.saveMcNbModel(vocab, stats, priors, dir)
    val batch = CorpusModels.multiclassNbPredict(docs, "doc_id", "text",
        vocab, stats, priors)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), r.getAs[Long]("score_fp")))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val cache = Serving.newCache()
    Serving.scoreMcNb(dir, texts.head._2, cache = cache)
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    texts.foreach { case (id, text) =>
      val s = Serving.scoreMcNb(dir, text, cache = cache)
      assert((s.predClass, s.scoreFp) === batch(id), s"doc $id")
    }
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "multiclass probe must not launch Spark jobs")
    // null text → the prior argmax (class asc on ties), like batch
    val nullScore = Serving.scoreMcNb(dir, null, cache = cache)
    val cls = priors.collect().map(r => r.getString(0) -> r.getAs[Long]("prior_fp")).toMap
    val bestPrior = cls.values.max
    assert(nullScore.scoreFp === bestPrior)
    assert(nullScore.predClass === cls.filter(_._2 == bestPrior).keys.min)
    // fail-loud on a missing model dir
    intercept[IllegalArgumentException] {
      Serving.scoreMcNb("/nonexistent/mcnb-model", "a b")
    }
  }

  test("IVF+SQ8 serving probe == Spark searchIvfSq8, hit for hit, zero Spark jobs") {
    val path = ivfPath
    val index = graft.operators.Ann.loadIvf(spark, path)
    val q = VectorQueries.qvec(spark, sfDir, 3)
    for (nprobe <- Seq(4, 16)) {
      val viaSpark = graft.operators.Sq
        .searchIvfSq8(index, q, k = 8, rerank = 24, nprobe = nprobe)
        .select($"vec_id", $"label", $"ivf_cluster".cast("int"),
          $"approx_dot", $"cos_sim")
        .as[(Long, Int, Int, Long, Double)].collect().toSeq
      val cache = Serving.newCache()
      Serving.searchIvfSq8(path, q.toArray, 8, 24, nprobe, cache = cache) // warm
      val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val viaServing = Serving.searchIvfSq8(path, q.toArray, 8, 24, nprobe,
          cache = cache)
        .map(h => (h.vecId, h.label, h.cluster, h.approxDot, h.cosSim))
      val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      assert(jobsAfter === jobsBefore, "SQ8 probe must not launch Spark jobs")
      assert(viaServing === viaSpark, s"nprobe=$nprobe")
    }
    intercept[IllegalArgumentException](
      Serving.searchIvfSq8(path, VectorQueries.qvec(spark, sfDir, 3).toArray,
        8, rerank = 4, nprobe = 4))
  }

  test("BPE serving probe == batch encodeColumn doc for doc, zero Spark jobs") {
    import graft.operators.Bpe
    val docs = Tables.documents(spark, sfDir).limit(150)
    val merges = Bpe.train(docs, "text", nMerges = 40)
    val dir = java.nio.file.Files.createTempDirectory("bpe-serve").toString
    Bpe.saveMerges(spark, merges, dir)
    // batch encode against the PERSISTED merges (round-trip included)
    val loaded = Bpe.loadMerges(spark, dir)
    assert(loaded === merges.sortBy(_.rank))
    val texts = docs.select("doc_id", "text").limit(30).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val batch = docs.limit(30)
      .select($"doc_id", Bpe.encodeColumn($"text", loaded).as("toks"))
      .as[(Long, Seq[String])].collect().toMap
    val cache = Serving.newCache()
    Serving.encodeBpe(dir, texts.head._2, cache = cache) // warm
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    texts.foreach { case (id, text) =>
      assert(Serving.encodeBpe(dir, text, cache = cache) === batch(id), s"doc $id")
    }
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "BPE probe must not launch Spark jobs")
    // null text → empty token list, like the batch UDF
    assert(Serving.encodeBpe(dir, null, cache = cache) === Seq.empty)
    // fail-loud on a missing model dir
    intercept[IllegalArgumentException] {
      Serving.encodeBpe("/nonexistent/bpe-model", "a b")
    }
  }

  test("WordPiece serving probe == batch encodeColumn doc for doc, zero Spark jobs") {
    import graft.operators.WordPiece
    val docs = Tables.documents(spark, sfDir).limit(150)
    val vocab = WordPiece.trainVocabulary(docs, "text", nMerges = 40)
    val dir = java.nio.file.Files.createTempDirectory("wp-serve").toString
    WordPiece.saveVocab(spark, vocab, dir)
    // batch encode against the PERSISTED vocab (round-trip included)
    val loaded = WordPiece.loadVocab(spark, dir)
    assert(loaded === vocab.sorted)
    val texts = docs.select("doc_id", "text").limit(30).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val batch = docs.limit(30)
      .select($"doc_id", WordPiece.encodeColumn($"text", loaded,
        maxWordLen = WordPiece.GateMaxWordLen).as("toks"))
      .as[(Long, Seq[String])].collect().toMap
    val cache = Serving.newCache()
    Serving.encodeWordPiece(dir, texts.head._2, cache = cache) // warm
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    texts.foreach { case (id, text) =>
      assert(Serving.encodeWordPiece(dir, text, cache = cache) === batch(id),
        s"doc $id")
    }
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter === jobsBefore, "WordPiece probe must not launch Spark jobs")
    // null text → empty piece list, like the batch UDF
    assert(Serving.encodeWordPiece(dir, null, cache = cache) === Seq.empty)
    // fail-loud on a missing model dir
    intercept[IllegalArgumentException] {
      Serving.encodeWordPiece("/nonexistent/wp-model", "a b")
    }
  }

  test("versioned model publish: pointer flip, immutable versions, retention, FS-only resolve") {
    import graft.operators.CorpusModels
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).limit(60)
    val (m1, p1) = CorpusModels.nbTrain(
      docs.withColumn("keep", col("doc_id") % 2 === 0), "text", "keep", 1 << 20)
    val (m2, p2) = CorpusModels.nbTrain(
      docs.withColumn("keep", col("doc_id") % 2 =!= 0), "text", "keep", 1 << 20)
    val root = java.nio.file.Files.createTempDirectory("nb-registry").toString
    val text = docs.select("text").collect()(1).getString(0)
    val v1 = CorpusModels.publishModelVersion(spark, root) { d =>
      CorpusModels.saveNbModel(m1, p1, d)
    }
    assert(v1 === "v1")
    assert(Serving.currentModelDir(root) === s"$root/v1")
    val s1 = Serving.scoreNb(Serving.currentModelDir(root), text)
    // publish v2: pointer flips; v1 retained for in-flight readers
    assert(CorpusModels.publishModelVersion(spark, root) { d =>
      CorpusModels.saveNbModel(m2, p2, d)
    } === "v2")
    assert(Serving.currentModelDir(root) === s"$root/v2")
    val s2 = Serving.scoreNb(Serving.currentModelDir(root), text)
    assert(s1 !== s2, "flipped-label models should score this text differently")
    assert(new java.io.File(root, "v1").exists,
      "previous version retained for in-flight readers")
    // v3: v1 falls out of the retention window (keep = retain+1 = 2)
    CorpusModels.publishModelVersion(spark, root) { d =>
      CorpusModels.saveNbModel(m1, p1, d)
    }
    assert(Serving.currentModelDir(root) === s"$root/v3")
    assert(!new java.io.File(root, "v1").exists, "old version vacuumed")
    assert(new java.io.File(root, "v2").exists)
    // pointer resolution is pure FS metadata — no Spark job
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    Serving.scoreNb(Serving.currentModelDir(root), text)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length === before,
      "resolve + probe must not launch Spark jobs")
  }

  test("publishModelVersion: stale expectCurrent aborts cleanly; locked publishers never lose an update") {
    import graft.operators.CorpusModels
    val root = java.nio.file.Files.createTempDirectory("pub-race").toString
    def touch(d: String, name: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(d, name))
    }
    CorpusModels.publishModelVersion(spark, root)(touch(_, "base"))
    val v1 = graft.operators.Maintenance.resolveCurrent(spark, root)
    CorpusModels.publishModelVersion(spark, root)(touch(_, "other"))
    // publisher built from v1, but _current moved to v2 → abort BEFORE
    // claiming anything: no marker, no writing dir, pointer unchanged
    intercept[CorpusModels.ConcurrentPublishException] {
      CorpusModels.publishModelVersion(spark, root,
        expectCurrent = Some(v1))(touch(_, "stale"))
    }
    assert(graft.operators.Maintenance.resolveCurrent(spark, root).endsWith("/v2"))
    val leftovers = new java.io.File(root).list().toSeq
      .filter(n => n.contains("writing") || n.startsWith(".claim"))
    assert(leftovers.isEmpty, s"aborted publish left $leftovers")
    // two concurrent publishers under the lock: each resolves INSIDE
    // the critical section, carries the current version's files
    // forward, and publishes with expectCurrent — both updates must
    // survive into the final version (the lost-update scenario the
    // hnsw insert/delete stream pair would otherwise hit)
    val threads = Seq("left", "right").map { tag =>
      new Thread(() => {
        CorpusModels.withPublishLock(root) {
          val cur = graft.operators.Maintenance.resolveCurrent(spark, root)
          CorpusModels.publishModelVersion(spark, root,
            expectCurrent = Some(cur)) { d =>
              new java.io.File(cur).list().foreach(n => touch(d, n))
              touch(d, tag)
          }
          ()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val finalDir = graft.operators.Maintenance.resolveCurrent(spark, root)
    val names = new java.io.File(finalDir).list().toSet
    assert(names.contains("left") && names.contains("right"),
      s"lost update: final version only has $names")
  }

  test("republish at the same path reaches a CACHED scorer (freshness key)") {
    import graft.operators.CorpusModels
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir).limit(60)
    val (m1, p1) = CorpusModels.nbTrain(
      docs.withColumn("keep", col("doc_id") % 2 === 0), "text", "keep", 1 << 20)
    val (m2, p2) = CorpusModels.nbTrain(
      docs.withColumn("keep", col("doc_id") % 2 =!= 0), "text", "keep", 1 << 20)
    val dir = java.nio.file.Files.createTempDirectory("nb-republish").toString
    val text = docs.select("text").collect()(1).getString(0)
    val cache = Serving.newCache()
    CorpusModels.saveNbModel(m1, p1, dir)
    val s1 = Serving.scoreNb(dir, text, cache = cache)
    // republish IN PLACE (the nightly retrain): same path, new content
    // (no sleep needed: part filenames embed a fresh write-job UUID,
    // so the freshness key changes regardless of mtime granularity)
    CorpusModels.saveNbModel(m2, p2, dir)
    val s2 = Serving.scoreNb(dir, text, cache = cache)
    assert(s2 === Serving.scoreNb(dir, text),
      "cached scorer must serve the republished model, not the stale cache")
    assert(s1 !== s2, "flipped-label models should score this text differently")
  }

  test("HNSW serving probe + online search launch zero Spark jobs") {
    val path = AnnQueries.persistedHnswPath(spark, sfDir)
    val q = VectorQueries.qvec(spark, sfDir, 0).toArray
    Serving.searchHnsw(path, q, k = 10, ef = 32, nprobe = 4) // warm
    val online = Serving.openHnsw(path) // load outside the window
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val t0 = System.nanoTime()
    val hits = Serving.searchHnsw(path, q, k = 10, ef = 32, nprobe = 4)
    val servingMs = (System.nanoTime() - t0) / 1e6
    val onlineHits = online.search(q, k = 10, ef = 32, nprobe = 4)
    online.insert(7000000L, q)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(hits.size === 10)
    assert(onlineHits.map(h => (h.vecId, h.dist)) ===
      hits.map(h => (h.vecId, h.dist)))
    assert(jobsAfter === jobsBefore,
      "HNSW probe/online search/insert must not launch Spark jobs")
    info(f"hnsw probe latency: $servingMs%.1f ms (warm, uncached)")
  }
}
