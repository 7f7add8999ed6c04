package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization on top of the IVF index (the IVFADC scheme of
  * Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011) — the memory/IO story that makes ANN work at 100 TB.
  *
  * The coarse IVF ([[Ann.buildIvf]]) prunes WHICH clusters to scan; PQ
  * shrinks WHAT a scan reads: each D-dim float vector inside a cluster
  * is re-expressed as its residual against the cluster centroid,
  * chopped into `m` subvectors, and each subvector replaced by the id
  * of its nearest entry in a per-subspace codebook — D·4 bytes become
  * `m` bytes (64-dim → 8 bytes at m=8: 32×). A probe scan then reads
  * only (id, cluster, code) — the full vectors are touched just once
  * more, to exact-rerank the short ADC-ranked candidate list.
  *
  * Query-time ranking is asymmetric distance computation (ADC): per
  * probed cluster, a tiny m×k lookup table of exact squared distances
  * from the query's residual subvectors to every codebook entry;
  * a row's approximate distance is m table lookups + adds, no float
  * vector in sight. Codebooks are shared across clusters (classic
  * IVFADC) so the model state is m·k·(D/m) floats — kilobytes,
  * broadcast-trivial.
  *
  * Training runs driver-side Lloyd's on a corpus sample — exactly how
  * production PQ systems train codebooks (the codebook needs ~10⁵
  * samples, not the corpus); seeded and deterministic. */
object Pq {

  /** Shared per-subspace codebooks: `codebooks(s)(j)` is the j-th
    * centroid (length D/m) of subspace s. */
  final case class PqModel(m: Int, k: Int, subDim: Int,
                           codebooks: Array[Array[Array[Float]]]) {
    require(codebooks.length == m && codebooks.forall(_.length == k))
  }

  /** Residuals of an IVF-assigned corpus against their cluster
    * centroid: (idCol, ivf_cluster, residual). The PQ encode/train
    * input. Narrow map — centroids ride the closure (kilobytes). */
  def residuals(index: Ann.IvfIndex): DataFrame = {
    val cents = index.centroids
    val resUdf = udf { (v: Seq[Float], c: Int) =>
      // fail LOUD (the Ann.nearestCentroid null-hygiene rule), not an
      // anonymous NPE deep in a stage
      require(v != null, "Pq.residuals: null embedding — filter or " +
        "impute null vectors before encoding")
      val cent = cents(c)
      Array.tabulate(v.length)(i => v(i) - cent(i)).toSeq
    }
    index.assigned.select(col(index.idCol), col("ivf_cluster"),
      resUdf(col(index.embCol), col("ivf_cluster")).as("residual"))
  }

  /** Train shared codebooks with driver-side Lloyd's over (a sample of)
    * the residual vectors. Deterministic AND layout-independent: the
    * sample is the `sampleN` vectors with the smallest content hash
    * (TakeOrdered — a per-partition heap, not a full sort), so the
    * trained model never depends on file order, partitioning, or a
    * cluster-partitioned input feeding `limit` from one cluster's
    * directory. Init is seeded, iteration count fixed, ties to the
    * lowest index. */
  def train(vectors: DataFrame, vecCol: String, m: Int, k: Int,
            sampleN: Int = 100000, iters: Int = 20, seed: Long = 42L): PqModel = {
    require(k >= 1 && k <= 256, s"k must be 1..256 (one byte per code), got $k")
    val sample = vectors.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol)), col(vecCol)).limit(sampleN)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // ragged input fails loudly: Arrays.copyOfRange would silently
    // ZERO-PAD a shorter vector's subspaces and train codebooks on
    // phantom zeros (while encodeRow later rejects the same rows)
    sample.foreach(v => require(v.length == dim,
      s"PQ training sample is ragged: got a ${v.length}-dim vector " +
        s"among $dim-dim ones"))
    val subDim = dim / m
    val rnd = new scala.util.Random(seed)
    val codebooks = Array.tabulate(m) { s =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      lloyd(subs, k, iters, rnd)
    }
    PqModel(m, k, subDim, codebooks)
  }

  /** Plain Lloyd's iterations. Init draws k DISTINCT points (seeded
    * shuffle over the distinct point set — duplicate initial centroids
    * would tie every assignment to the lowest index and never
    * differentiate), and FAILS LOUDLY when the sample has fewer than k
    * distinct vectors (silently wrapping would seed duplicate centroids
    * and degrade the codebook without any signal); empty clusters
    * re-seed to the farthest DISTINCT points in descending order, one
    * per empty cluster, for the same reason. */
  private def lloyd(points: Array[Array[Float]], k: Int, iters: Int,
                    rnd: scala.util.Random): Array[Array[Float]] = {
    val n = points.length
    val dim = points.head.length
    val distinctIdx = points.indices
      .groupBy(i => points(i).toSeq).map(_._2.head).toArray.sorted
    require(distinctIdx.length >= k,
      s"PQ subspace sample has only ${distinctIdx.length} distinct vectors " +
        s"but k=$k codes were requested — lower k or enlarge the sample " +
        "(duplicate initial centroids would silently degrade the codebook)")
    val shuffled = rnd.shuffle(distinctIdx.toVector)
    var cents = Array.tabulate(k)(i => points(shuffled(i)).clone())
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < n) { assign(p) = nearest(points(p), cents); p += 1 }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      p = 0
      while (p < n) {
        val a = assign(p); counts(a) += 1
        var d = 0
        while (d < dim) { sums(a)(d) += points(p)(d); d += 1 }
        p += 1
      }
      val empties = (0 until k).filter(counts(_) == 0)
      // farthest DISTINCT points, one per empty cluster, deterministic
      // order — distinctness is guaranteed reachable because init
      // required >= k distinct vectors and at most k-1 clusters can be
      // empty, so the distinct pool always covers the empties
      val reseed: Array[Int] =
        if (empties.isEmpty) Array.empty
        else {
          val seen = scala.collection.mutable.HashSet.empty[Seq[Float]]
          val picked = points.indices.toArray
            .sortBy(p => (-l2(points(p), cents(assign(p))), p))
            .iterator.filter(p => seen.add(points(p).toSeq))
            .take(empties.length).toArray
          require(picked.length == empties.length,
            s"PQ reseed: only ${picked.length} distinct points for " +
              s"${empties.length} empty clusters — sample degenerated")
          picked
        }
      cents = Array.tabulate(k) { c =>
        if (counts(c) > 0) Array.tabulate(dim)(d => (sums(c)(d) / counts(c)).toFloat)
        else points(reseed(empties.indexOf(c))).clone()
      }
      it += 1
    }
    cents
  }

  private def l2(a: Array[Float], b: Array[Float]): Float = {
    var acc = 0.0f; var d = 0
    while (d < a.length) { val x = a(d) - b(d); acc += x * x; d += 1 }
    acc
  }

  private def nearest(p: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Float.MaxValue; var c = 0
    while (c < cents.length) {
      val dd = l2(p, cents(c))
      if (dd < bestD) { bestD = dd; best = c }
      c += 1
    }
    best
  }

  // --------- row kernels shared by the batch UDFs and the serving probe
  // (the Sq.sq8Codes discipline: batch and serve call the SAME code so
  // they cannot fork)

  /** One row's PQ code: residual against `cent`, each subvector to its
    * nearest codebook entry. */
  private[graft] def encodeRow(model: PqModel, cent: Array[Float],
                               v: Array[Float]): Array[Byte] = {
    require(v.length == model.m * model.subDim,
      s"encode: vector dim ${v.length} != model dim ${model.m * model.subDim}")
    val code = new Array[Byte](model.m)
    var s = 0
    while (s < model.m) {
      val sub = Array.tabulate(model.subDim)(d =>
        v(s * model.subDim + d) - cent(s * model.subDim + d))
      code(s) = nearest(sub, model.codebooks(s)).toByte
      s += 1
    }
    code
  }

  /** Per-cluster ADC lookup table for a query:
    * `lut(s·k + j) = ||q_res_sub(s) − codebook(s)(j)||²` (f32). */
  private[graft] def lutFor(model: PqModel, cent: Array[Float],
                            q: Array[Float]): Array[Float] = {
    val lut = new Array[Float](model.m * model.k)
    var s = 0
    while (s < model.m) {
      val qSub = Array.tabulate(model.subDim)(d =>
        q(s * model.subDim + d) - cent(s * model.subDim + d))
      var j = 0
      while (j < model.k) {
        lut(s * model.k + j) = l2(qSub, model.codebooks(s)(j)); j += 1
      }
      s += 1
    }
    lut
  }

  /** ADC distance of one code against a LUT (f32 accumulation in code
    * order — the batch UDF's arithmetic exactly). */
  private[graft] def adcRow(model: PqModel, lut: Array[Float],
                            code: Array[Byte]): Float = {
    var acc = 0.0f
    var s = 0
    while (s < code.length) { acc += lut(s * model.k + (code(s) & 0xff)); s += 1 }
    acc
  }

  /** [[adcCandidates]]' probe ranking: RAW SQUARED f32 distance
    * (deliberately not the sqrt-rounded [[Ann.rankProbes]] — squared
    * never merges two distinct distances, so it is at least as
    * discriminating; kept separate because changing either would
    * silently re-rank existing gates), ties to the lower cluster id.
    * Shared with the serving probe so probe sets cannot fork. */
  private[graft] def rankProbesSq(centroids: Array[Array[Float]],
                                  q: Array[Float], nprobe: Int): Seq[Int] = {
    val top = new TopK[AnyRef](nprobe)
    centroids.indices.foreach { i =>
      require(centroids(i).length == q.length,
        s"searchIvfPq: query dim ${q.length} != centroid dim ${centroids(i).length}")
      top.offer(TopK.asc(l2(centroids(i), q).toDouble), i)
    }
    (0 until top.size).map(r => top.id(r).toInt)
  }

  /** Encode an IVF-assigned corpus: one `m`-byte code per row
    * (residual-quantized). Output keeps (id, cluster, embedding, code)
    * — at scale the code table is what you persist per cluster; the
    * embedding column stays in cold storage for the rerank fetch. */
  def encode(index: Ann.IvfIndex, model: PqModel): DataFrame = {
    val cents = index.centroids
    val encUdf = udf { (v: Seq[Float], c: Int) =>
      require(v != null, "Pq.encode: null embedding — filter or impute " +
        "null vectors before encoding")
      encodeRow(model, cents(c), v.toArray)
    }
    index.assigned.withColumn("pq_code",
      encUdf(col(index.embCol), col("ivf_cluster")))
  }

  /** Decode a code back to an approximate vector (centroid + codebook
    * entries) — reconstruction, used by the spec to pin quantization
    * error, not by the search path. */
  def decode(model: PqModel, coarse: Array[Float], code: Array[Byte]): Array[Float] = {
    val out = coarse.clone()
    var s = 0
    while (s < model.m) {
      val entry = model.codebooks(s)(code(s) & 0xff)
      var d = 0
      while (d < model.subDim) { out(s * model.subDim + d) += entry(d); d += 1 }
      s += 1
    }
    out
  }

  /** IVF-PQ search: coarse-probe the `nprobe` nearest clusters, rank
    * their rows by ADC over the m-byte codes, exact-rerank the top
    * `refine·k` by true distance. Returns (id, adc_dist, dist) — the
    * plan is the same pruned probe-scan as [[Ann.searchIvf]], but the
    * scan-side payload is 32× smaller and the full-vector math runs on
    * refine·k rows instead of every probed row. Split into
    * [[adcCandidates]] + [[rerank]] so a gate can hand the candidate
    * list to an independent engine and replay the rerank stage. */
  def searchIvfPq(encoded: DataFrame, index: Ann.IvfIndex, model: PqModel,
                  queryVec: Seq[Float], k: Int, nprobe: Int,
                  refine: Int = 4): DataFrame =
    rerank(adcCandidates(encoded, index, model, queryVec, k, nprobe, refine),
      index.assigned, queryVec, k, index.embCol, index.idCol)

  /** Stage 1 of [[searchIvfPq]]: the ADC-ranked candidate list —
    * (idCol, adc_dist) of the `refine·k` best rows under the m-byte
    * code distance, scanned only within the `nprobe` probed clusters. */
  def adcCandidates(encoded: DataFrame, index: Ann.IvfIndex, model: PqModel,
                    queryVec: Seq[Float], k: Int, nprobe: Int,
                    refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val q = queryVec.toArray
    val probes = rankProbesSq(index.centroids, q, nprobe)
    // per-probed-cluster ADC tables: lut(c)(s*k + j) = ||q_res_sub - cb||²
    val luts: Map[Int, Array[Float]] =
      probes.map(c => c -> lutFor(model, index.centroids(c), q)).toMap
    val adcUdf = udf { (c: Int, code: Array[Byte]) =>
      adcRow(model, luts(c), code)
    }
    encoded
      .filter(col("ivf_cluster").isin(probes.toIndexedSeq: _*))
      .withColumn("adc_dist", adcUdf(col("ivf_cluster"), col("pq_code")))
      .orderBy(col("adc_dist"), col(index.idCol))
      .limit(refine * k) // TakeOrdered over the code-only scan
      .select(col(index.idCol), col("adc_dist").cast("double").as("adc_dist"))
  }

  /** Stage 2 of [[searchIvfPq]]: exact-rerank a candidate list
    * (idCol, adc_dist) by true distance — the full vectors are fetched
    * by a join against the corpus (refine·k point lookups, the "cold
    * storage" read). `dist` is the f32 L2 kernel every exact search
    * path uses ([[graft.functions.VectorFunctions.l2DistF32]]) — same
    * ordering as squared distance, and bit-identical to DuckDB
    * `list_distance` for the oracle replay. */
  def rerank(candidates: DataFrame, corpus: DataFrame, queryVec: Seq[Float],
             k: Int, embCol: String = "embedding",
             idCol: String = "vec_id"): DataFrame =
    candidates
      .join(corpus.select(col(idCol), col(embCol)), Seq(idCol))
      .withColumn("dist",
        graft.functions.VectorFunctions.l2DistF32(col(embCol),
          typedLit(queryVec)).cast("double"))
      // nulls LAST (the VectorSearch.topKWithScore rule): a null
      // corpus embedding rescored to null must not occupy a top-k slot
      .orderBy(col("dist").asc_nulls_last, col(idCol))
      .limit(k)
      .select(col(idCol), col("adc_dist"), col("dist"))
}
