package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch multi-query exact top-k with per-partition heaps — the scale
  * path for `VectorSearch.batchTopK` (SURVEY §4.3.2).
  *
  * The window-function formulation shuffles |corpus| × |queries| scored
  * rows to rank them. This operator instead keeps a k-heap PER QUERY
  * inside every input partition (`mapPartitions` — genuine imperative
  * per-partition state, the one place SURVEY §7.3 sanctions RDD-level
  * code) and emits only `partitions × queries × k` rows into the final
  * ranking. At 1000 executors × 8 queries × k=5 that is a ~40k-row
  * shuffle regardless of corpus size — the same per-partition-heap +
  * driver-merge shape Spark itself uses for TakeOrderedAndProject.
  *
  * Result is EXACT and bit-identical to the window formulation: heap
  * ordering is (dist, id) so ties resolve identically.
  */
object PartitionedTopK {

  /** THE row-level f32 sequential Euclidean kernel — one owner for
    * every mapPartitions operator (this one, [[Ann.knnGraph]]), the
    * probe ranking ([[Ann.rankProbes]]), the HNSW graph and the
    * serving scans ([[graft.serving.Serving]] IVF, PQ rerank): f32
    * accumulation in index order, sqrt widened then narrowed, exactly
    * the arithmetic of the codegen `l2DistF32` column kernel and of
    * DuckDB `list_distance` — an edit here is an edit to the oracle
    * contract of every caller. Callers check dimensions. */
  private[graft] def l2F32(a: Array[Float], b: Array[Float]): Float =
    l2F32(a, b, a.length)

  /** [[l2F32]] over the first `n` dims (the HNSW graph's rule for
    * vectors of differing lengths). */
  private[graft] def l2F32(a: Array[Float], b: Array[Float], n: Int): Float = {
    var acc = 0.0f
    var d = 0
    while (d < n) { val x = a(d) - b(d); acc += x * x; d += 1 }
    math.sqrt(acc.toDouble).toFloat
  }

  /** [[l2F32]] with a strict upper-bound early exit — the brute-force
    * scan's pruning lever: returns Float.PositiveInfinity the moment
    * the PREFIX distance already STRICTLY exceeds `bound` (f32 sums of
    * non-negative squares are monotone under IEEE round-to-nearest and
    * sqrt is monotone, so the final distance can only be ≥ the prefix
    * — the candidate loses on distance alone, whatever the id
    * tie-break). Any finite return is bit-equal to [[l2F32]]: the
    * accumulation order is IDENTICAL, the exit check only reads the
    * running sum every 16 dims. `bound = +Inf` disables the exit
    * (`>` is strict), so not-yet-full heaps pass that. */
  private[operators] def l2F32Bounded(a: Array[Float], b: Array[Float],
                                      bound: Float): Float = {
    var acc = 0.0f
    var d = 0
    val n = a.length
    while (d < n) {
      val lim = math.min(n, d + 16)
      while (d < lim) { val x = a(d) - b(d); acc += x * x; d += 1 }
      if (d < n && math.sqrt(acc.toDouble).toFloat > bound)
        return Float.PositiveInfinity
    }
    math.sqrt(acc.toDouble).toFloat
  }

  /** queries: driver-side (id, vector) pairs — the broadcast side.
    * Returns (query_id, idCol, dist, rn) ranked 1..k per query.
    * The id column may be long, int or string (e.g. ChunkSchema's
    * string `chunk_id`); its type is carried through to the result. */
  def batchTopK(corpus: DataFrame, queries: Seq[(Long, Array[Float])], k: Int,
                embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val spark = corpus.sparkSession
    val sc = spark.sparkContext
    val bq = sc.broadcast(queries.toArray)

    val idType = corpus.schema(idCol).dataType
    val idOrd: Ordering[Any] = idOrdering(idType, idCol)

    // (dist, id) max-heap of size k per query: head = WORST kept entry,
    // so a better candidate evicts it in O(log k).
    val ord: Ordering[(Float, Any)] =
      Ordering.Tuple2(Ordering.Float.TotalOrdering, idOrd)

    // null rows are excluded up front (a null embedding has no distance;
    // the window formulation ranks them last via NULLS LAST — beyond-k
    // either way), and dimension mismatch fails loudly exactly like the
    // codegen kernels (VectorExpressions.checkDims)
    val partial = corpus.select(col(idCol), col(embCol))
      .where(col(idCol).isNotNull && col(embCol).isNotNull)
      .rdd.mapPartitions { rows =>
      val qs = bq.value
      val heaps = Array.fill(qs.length)(mutable.PriorityQueue.empty[(Float, Any)](ord))
      for (r <- rows) {
        val id = r.get(0)
        val v = r.getSeq[Float](1).toArray
        var qi = 0
        while (qi < qs.length) {
          val q = qs(qi)._2
          if (v.length != q.length) throw new IllegalArgumentException(
            s"batchTopK: vector dimensions differ (${v.length} vs ${q.length})")
          val dist = l2F32(v, q)
          val h = heaps(qi)
          if (h.size < k) h.enqueue((dist, id))
          else if (ord.lt((dist, id), h.head)) { h.dequeue(); h.enqueue((dist, id)) }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (dist, id) => Row(qs(qi)._1, id, dist.toDouble) }
      }
    }

    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField(idCol, idType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    val reduced = spark.createDataFrame(partial, schema)

    // final exact rank over the tiny reduced set
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist"), col(idCol))
    reduced.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy(col("query_id"), col("rn"))
  }

  /** Tie-break ordering on the id column, matching the final window
    * rank's semantics for that type (strings compare as UTF-8 bytes,
    * the same binary order Spark's UTF8String sort uses — Java
    * String.compareTo would disagree on supplementary characters). */
  private[graft] def idOrdering(idType: DataType, idCol: String): Ordering[Any] =
    idType match {
      case LongType    => Ordering.by((x: Any) => x.asInstanceOf[Long])
      case IntegerType => Ordering.by((x: Any) => x.asInstanceOf[Int])
      case StringType  => new Ordering[Any] {
        // code-point order == UTF-8 byte order (UTF-8 preserves code
        // point ordering), computed without allocating byte arrays —
        // this comparator runs inside the per-row heap loop on ties.
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String]
          val y = b.asInstanceOf[String]
          var i = 0
          var j = 0
          while (i < x.length && j < y.length) {
            val cx = x.codePointAt(i)
            val cy = y.codePointAt(j)
            if (cx != cy) return Integer.compare(cx, cy)
            i += Character.charCount(cx)
            j += Character.charCount(cy)
          }
          Integer.compare(x.length - i, y.length - j)
        }
      }
      case other => throw new IllegalArgumentException(
        s"id column '$idCol' has unsupported type $other " +
          "(supported: long, int, string)")
    }

  /** Spark SQL's `sim DESC` comparison, shared by every driver/heap
    * path that must reproduce a `simCol.desc` window order bit-for-bit
    * ([[reduceTopBySim]]'s heap): NaN compares ABOVE every value
    * (desc seats it first, as Spark does) and −0.0 == 0.0 (ties fall
    * to the caller's id tie-break). Returns <0 iff `a` ranks BEFORE
    * `b` descending. It compares the [[TopK.simDesc]] keys the
    * serving cuts (SQ8, BQ, MMR) rank with, so batch and serve share
    * one owner of the order and cannot split at a rank boundary. */
  def compareSimDesc(a: Double, b: Double): Int =
    java.lang.Long.compare(TopK.simDesc(a), TopK.simDesc(b))

  /** Per-partition per-query TOP-M reduction of a pre-scored frame by
    * (`simCol` DESC, `idCol` ASC) — the heap pre-aggregation behind
    * [[batchTopK]], exposed for operators whose scoring is already
    * declarative (similarity windows, calibration) but whose rank cut
    * would otherwise shuffle |corpus|·|queries| rows. `sizes` gives
    * each query its own M (the calibration percentile cut is
    * per-query); rows for query ids absent from `sizes` are dropped.
    *
    * Heap comparisons use Spark SQL's DESC semantics exactly — NaN
    * above every value (desc seats it first) and −0.0 == 0.0 (ties
    * fall to the id) — so re-ranking the merged partials with a
    * `simCol.desc, idCol` window reproduces the full window's
    * prefix bit-for-bit (the raw sim VALUE passes through untouched).
    * Output: (`qIdCol` long, `idCol`, `simCol`) —
    * ≤ partitions · Σ min(M_q, partition rows) rows. The query-id
    * column is cast to long (the [[graft.operators.Rerank.batchMmr]]
    * convention); `sizes` rides a broadcast, so the map must be
    * driver-sized — query batches are bounded by contract. */
  def reduceTopBySim(scored: DataFrame, sizes: Map[Long, Int],
                     qIdCol: String = "query_id", idCol: String = "vec_id",
                     simCol: String = "__sim"): DataFrame = {
    require(sizes.values.forall(_ > 0),
      s"every heap size must be positive, got ${sizes.filter(_._2 <= 0)}")
    val spark = scored.sparkSession
    val idType = scored.schema(idCol).dataType
    val idOrd = idOrdering(idType, idCol)
    val bsizes = spark.sparkContext.broadcast(sizes)
    // worst-first ordering (head of the max-queue = eviction candidate):
    // LOWER sim is worse ([[compareSimDesc]] owns the NaN/±0.0
    // semantics), ties fall to the id
    val ord: Ordering[(Double, Any)] = new Ordering[(Double, Any)] {
      def compare(a: (Double, Any), b: (Double, Any)): Int = {
        val c = compareSimDesc(a._1, b._1)
        if (c != 0) c else idOrd.compare(a._2, b._2)
      }
    }
    val partial = scored
      .select(col(qIdCol).cast("long"), col(idCol), col(simCol).cast("double"))
      .where(col(qIdCol).isNotNull && col(idCol).isNotNull &&
        col(simCol).isNotNull)
      .rdd.mapPartitions { rows =>
        val szs = bsizes.value
        val heaps = mutable.HashMap.empty[Long, mutable.PriorityQueue[(Double, Any)]]
        for (r <- rows) {
          val q = r.getLong(0)
          szs.get(q).foreach { m =>
            val id = r.get(1)
            val sim = r.getDouble(2)
            val h = heaps.getOrElseUpdate(q,
              mutable.PriorityQueue.empty[(Double, Any)](ord))
            if (h.size < m) h.enqueue((sim, id))
            else if (ord.lt((sim, id), h.head)) { h.dequeue(); h.enqueue((sim, id)) }
          }
        }
        heaps.iterator.flatMap { case (q, h) =>
          h.iterator.map { case (sim, id) => Row(q, id, sim) }
        }
      }
    spark.createDataFrame(partial, StructType(Seq(
      StructField(qIdCol, LongType, nullable = false),
      StructField(idCol, idType, nullable = false),
      StructField(simCol, DoubleType, nullable = false))))
  }
}
