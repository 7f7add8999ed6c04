package graft

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Ann, Fuzzy}

class FuzzySpec extends SparkSpec {
  import spark.implicits._

  test("fuzzy termSearch == driver reference; typo matches only via expansion") {
    val docs = Tables.documents(spark, sfDir)
    val got = Fuzzy.termSearch(docs, "doc_id", "text",
      Seq("vecto", "hash"), k = 20).as[(Long, Long, Long)].collect().toSeq

    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val q = Seq("vecto", "hash")
    val want = texts.flatMap { case (id, t) =>
      val ws = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val hits = q.map(qt => qt -> ws.count(w => lev(w, qt) <= 1))
      val score = hits.map(_._2.toLong).sum
      if (score > 0) Some((id, score, hits.count(_._2 > 0).toLong)) else None
    }.sortBy { case (id, s, _) => (-s, id) }.take(20).toSeq
    assert(got === want)
    // 'vecto' itself never appears verbatim: every match is fuzzy
    assert(!texts.exists(_._2.toLowerCase.split("[^a-z0-9]+").contains("vecto")))
  }

  test("qgram-indexed expansion == plain scan (the promised large-vocab path)") {
    val docs = Tables.documents(spark, sfDir)
    // mixed lengths: 'vecto' (5 chars, survives q·(τ+1)=4) rides the
    // gram index; 'ab' (2 chars) must take the exactness fallback scan
    val qs = Seq("vecto", "hash", "ab")
    val scan = Fuzzy.termSearch(docs, "doc_id", "text", qs, k = 20)
      .as[(Long, Long, Long)].collect().toSeq
    val indexed = Fuzzy.termSearch(docs, "doc_id", "text", qs, k = 20,
      qgramIndex = true).as[(Long, Long, Long)].collect().toSeq
    assert(indexed === scan)
    assert(scan.nonEmpty)
    // maxDist=0 and q=3 parity too (different survival cutoffs)
    val scan0 = Fuzzy.termSearch(docs, "doc_id", "text", Seq("hash"), k = 10,
      maxDist = 0).as[(Long, Long, Long)].collect().toSeq
    val idx0 = Fuzzy.termSearch(docs, "doc_id", "text", Seq("hash"), k = 10,
      maxDist = 0, qgramIndex = true, q = 3).as[(Long, Long, Long)].collect().toSeq
    assert(idx0 === scan0)
  }

  test("Serving.searchFuzzy probe == batch termSearch from the persisted BM25 layout, zero Spark jobs") {
    import graft.serving.Serving
    val docs = Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("fuzzy-probe").toString
    graft.operators.Bm25.buildPersistedIndex(docs, "doc_id", "text",
      nRanges = 8, dir)
    val batch = Fuzzy.termSearch(docs, "doc_id", "text",
        Seq("vecto", "hash"), k = 20)
      .as[(Long, Long, Long)].collect().toSeq
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val probe = Serving.searchFuzzy(dir, Seq("vecto", "hash"), k = 20)
      .map(h => (h.id, h.score, h.nTerms))
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      === jobsBefore, "fuzzy probe must launch no Spark jobs")
    assert(probe === batch)
    assert(batch.nonEmpty)
    // maxDist=0 degeneracy holds through the probe too
    val b0 = Fuzzy.termSearch(docs, "doc_id", "text", Seq("hash"), k = 10,
      maxDist = 0).as[(Long, Long, Long)].collect().toSeq
    val p0 = Serving.searchFuzzy(dir, Seq("hash"), k = 10, maxDist = 0)
      .map(h => (h.id, h.score, h.nTerms))
    assert(p0 === b0)
    // the RESIDENT-server path: a real IndexCache fills the per-term
    // range entries searchBm25 shares (their key sets are the fuzzy
    // vocabulary; no loader may nest inside another's computeIfAbsent).
    // Cold + warm both match the no-cache answer, and the cache holds
    // only the manifest and one entry per range.
    val cache = Serving.newCache()
    val cold = Serving.searchFuzzy(dir, Seq("vecto", "hash"), k = 20,
      cache = cache).map(h => (h.id, h.score, h.nTerms))
    val warm = Serving.searchFuzzy(dir, Seq("vecto", "hash"), k = 20,
      cache = cache).map(h => (h.id, h.score, h.nTerms))
    assert(cold === probe)
    assert(warm === probe)
    val ranges = spark.read.parquet(s"$dir/manifest")
      .filter(col("min_key").isNotNull).count()
    assert(cache.size === ranges + 1, "manifest + one entry per range")
  }

  test("maxDist=0 degenerates to exact term counting") {
    val docs = Seq((1L, "hash table hash"), (2L, "hashx")).toDF("doc_id", "text")
    val got = Fuzzy.termSearch(docs, "doc_id", "text", Seq("hash"), k = 5,
      maxDist = 0).as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1L)))
  }

  test("fuzzy guards") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Fuzzy.termSearch(docs, "doc_id", "text", Seq.empty, k = 5))
    intercept[IllegalArgumentException](
      Fuzzy.termSearch(docs, "doc_id", "text", Seq("a"), k = 0))
    intercept[IllegalArgumentException](
      Fuzzy.termSearch(docs, "doc_id", "text", Seq("a"), k = 5, maxDist = -1))
    // cased/punctuated query terms are refused, not silently matched
    // with the edit budget spent on normalization
    intercept[IllegalArgumentException](
      Fuzzy.termSearch(docs, "doc_id", "text", Seq("Hash"), k = 5))
    intercept[IllegalArgumentException](
      Fuzzy.termSearch(docs, "doc_id", "text", Seq("ha-sh"), k = 5))
  }

  test("knnGraph: exact within-cell ranks, no self edges, singleton cells silent") {
    val emb = Tables.embeddings(spark, sfDir)
    val index = Ann.buildIvf(emb, numClusters = 4)
    val got = Ann.knnGraph(index, k = 3).collect()

    val rows = index.assigned
      .select(col("vec_id"), col("embedding"), col("ivf_cluster"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val byCell = rows.groupBy(_._3)
    def dist(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0f; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      math.sqrt(acc.toDouble).toFloat.toDouble
    }
    val want = rows.flatMap { case (id, v, c) =>
      byCell(c).filter(_._1 != id)
        .map { case (nid, nv, _) => (id, nid, dist(v, nv)) }
        .sortBy { case (_, nid, d) => (d, nid) }
        .take(3).zipWithIndex
        .map { case ((sid, nid, d), i) => (sid, nid, d, (i + 1).toLong) }
    }.sortBy { case (sid, _, _, rn) => (sid, rn) }.toSeq
    val gotSeq = got.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(gotSeq === want)
    gotSeq.foreach { case (s, n, _, _) => assert(s !== n) }
    // every source with a non-singleton cell appears; singletons don't
    val multi = byCell.filter(_._2.length > 1).values.flatten.map(_._1).toSet
    assert(gotSeq.map(_._1).toSet === multi)
  }

  test("knnGraph guards") {
    val emb = Tables.embeddings(spark, sfDir)
    val index = Ann.buildIvf(emb, numClusters = 2)
    intercept[IllegalArgumentException](Ann.knnGraph(index, k = 0))
  }

  test("knnGraphRefined: multi-probe sees the cross-cell true NN the co-cell graph misses") {
    // planted boundary case: x lives in cell 0 but its true nearest
    // neighbor b1 lives in cell 1 — the exact blind spot of the
    // co-cell graph
    val assigned = Seq(
      (1L, Seq(1.0f, 0.0f), 0),   // a1
      (2L, Seq(4.0f, 0.0f), 0),   // x (boundary)
      (3L, Seq(6.0f, 0.0f), 1),   // b1 — x's true NN (dist 2 < 3)
      (4L, Seq(10.0f, 0.0f), 1)   // b2
    ).toDF("vec_id", "embedding", "ivf_cluster")
    val cents = Array(Array(0.0f, 0.0f), Array(10.0f, 0.0f))
    val index = Ann.IvfIndex(cents, assigned, "embedding", "vec_id")
    val coCell = Ann.knnGraph(index, k = 1)
      .select($"src_id", $"nbr_id").as[(Long, Long)].collect().toMap
    assert(coCell(2L) === 1L, "co-cell graph is stuck with the same-cell neighbor")
    val refined = Ann.knnGraphRefined(index, k = 1, probes = 2,
        refineRounds = 0)
      .select($"src_id", $"nbr_id").as[(Long, Long)].collect().toMap
    assert(refined(2L) === 3L, "2-probe seed must find the adjacent-cell true NN")
    // contract hygiene: no self edges, rn within k
    val full = Ann.knnGraphRefined(index, k = 2, probes = 2, refineRounds = 1)
      .as[(Long, Long, Double, Long)].collect()
    assert(full.forall { case (s, n, _, rn) => s != n && rn >= 1 && rn <= 2 })
  }

  test("knnGraphRefined: NN-descent rounds lift fixture recall@k to >= 0.9 vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val index = Ann.buildIvf(emb, numClusters = math.max(4, (n / 30).toInt))
    val k = 5
    val graph = Ann.knnGraphRefined(index, k, probes = 2, refineRounds = 2,
        workK = 4 * k)
      .select($"src_id", $"nbr_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    // brute-force reference (self-excluded), the f32 kernel
    val rows = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    def dist(a: Seq[Float], b: Seq[Float]): Float = {
      var acc = 0.0f; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      math.sqrt(acc.toDouble).toFloat
    }
    val recalls = rows.map { case (id, v) =>
      val exact = rows.filter(_._1 != id)
        .map { case (nid, nv) => (dist(v, nv), nid) }
        .sortBy(identity).take(k).map(_._2).toSet
      (exact intersect graph.getOrElse(id, Set.empty)).size.toDouble / k
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"refined graph recall@$k = $mean on the spec fixture")
    // and the refinement is doing real work: the co-cell graph is far worse
    val coCell = Ann.knnGraph(index, k)
      .select($"src_id", $"nbr_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val coMean = rows.map { case (id, v) =>
      val exact = rows.filter(_._1 != id)
        .map { case (nid, nv) => (dist(v, nv), nid) }
        .sortBy(identity).take(k).map(_._2).toSet
      (exact intersect coCell.getOrElse(id, Set.empty)).size.toDouble / k
    }.sum / recalls.length
    assert(mean > coMean, s"refined $mean must beat co-cell $coMean")
  }

  test("wide refined graph truncates to every k: filter(rn <= k) == knnGraphRefined(k)") {
    // the shared persisted wide-graph contract (AnnQueries
    // .refinedGraphPath): the final per-src re-rank assigns rn in
    // (dist, nbr) order over the SAME refined candidate set for any
    // k <= workK, so both graph gates may read one artifact
    val emb = Tables.embeddings(spark, sfDir)
    val index = Ann.buildIvf(emb, numClusters = 4)
    val wide = Ann.knnGraphRefined(index, k = 20, probes = 3,
        refineRounds = 1, workK = 20)
      .as[(Long, Long, Double, Long)].collect()
    for (k <- Seq(4, 10)) {
      val direct = Ann.knnGraphRefined(index, k, probes = 3,
          refineRounds = 1, workK = 20)
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(wide.filter(_._4 <= k).toSet === direct, s"k=$k")
    }
  }
}
