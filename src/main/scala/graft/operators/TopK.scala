package graft.operators

/** THE bounded top-k of every local (key, id) cut — one owner of the
  * tie rule. Keeps the `k` least (key, id) pairs in ascending order:
  * the key decides, the lower id breaks a tie, and equal pairs keep
  * their offer order, so the result is exactly a stable
  * `sortBy((key, id)).take(k)` over every offer without boxing or
  * sorting them. `k <= 0` keeps nothing; the buffer grows with its
  * contents, so a huge `k` costs only the pairs offered. Callers test
  * [[admits]] first and build the item only for a pair that enters;
  * a caller that builds no item reads the kept pairs back with
  * [[key]]/[[id]].
  *
  * Callers: the serving probes ([[graft.serving.Serving]] `searchIvf`,
  * `searchIvfSq8`, `searchIvfPq`, `searchBq`/`searchIvfBq`, `mmrIvf`,
  * `hybridRrf`, `searchBm25`, `searchFuzzy` and the HNSW shard merge),
  * probe ranking ([[Ann.rankProbes]], [[Pq.rankProbesSq]]) and the
  * kNN-graph cuts ([[Ann.knnGraph]], [[Ann.knnGraphRefined]]). The
  * key forms in the companion map each caller's order onto one
  * ascending `Long`. */
private[graft] final class TopK[A <: AnyRef](k: Int) {
  private val cap = math.max(k, 0)
  private var keys = new Array[Long](math.min(cap, 64))
  private var ids = new Array[Long](keys.length)
  private var items = new Array[AnyRef](keys.length)
  private var n = 0

  private def before(key: Long, id: Long, i: Int): Boolean =
    key < keys(i) || (key == keys(i) && id < ids(i))

  def admits(key: Long, id: Long): Boolean =
    n < cap || (cap > 0 && before(key, id, cap - 1))

  /** Insert an admitted pair after every pair it does not precede,
    * dropping the last one when full. */
  def add(key: Long, id: Long, item: A): Unit = {
    if (n == keys.length && n < cap) {
      val len = math.min(cap.toLong, 2L * n).toInt
      keys = java.util.Arrays.copyOf(keys, len)
      ids = java.util.Arrays.copyOf(ids, len)
      items = java.util.Arrays.copyOf(items, len)
    }
    var i = if (n < cap) n else cap - 1
    while (i > 0 && before(key, id, i - 1)) {
      keys(i) = keys(i - 1); ids(i) = ids(i - 1); items(i) = items(i - 1)
      i -= 1
    }
    keys(i) = key; ids(i) = id; items(i) = item
    if (n < cap) n += 1
  }

  /** [[add]] of a pair that carries no item, if it is admitted. */
  def offer(key: Long, id: Long): Unit =
    if (admits(key, id)) add(key, id, null.asInstanceOf[A])

  def size: Int = n

  /** True once `k` pairs are kept: from then on a pair enters only by
    * preceding [[worstKey]]'s pair. */
  def full: Boolean = n == cap

  /** The key of the last kept pair (requires [[size]] > 0). */
  def worstKey: Long = keys(n - 1)

  /** The key and id of the `i`-th kept pair, in ascending order. */
  def key(i: Int): Long = keys(i)
  def id(i: Int): Long = ids(i)

  def result: Seq[A] = (0 until n).map(i => items(i).asInstanceOf[A])
}

private[graft] object TopK {
  /** Ascending key of a distance, in `java.lang.Double.compare` order
    * (the tuple `sortBy` order, which a widened `Float` keeps: −0.0
    * before 0.0, every NaN equal and last): the IEEE bits with the
    * magnitude flipped for negatives. */
  def asc(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    bits ^ ((bits >> 63) & Long.MaxValue)
  }

  /** The value an [[asc]] key was made from (the flip is its own
    * inverse); a NaN comes back as the canonical NaN. */
  def ascValue(key: Long): Double =
    java.lang.Double.longBitsToDouble(key ^ ((key >> 63) & Long.MaxValue))

  /** Ascending key of a fixed-point score ranked descending
    * (bitwise NOT reverses the order without overflow). */
  def desc(score: Long): Long = ~score

  /** Ascending key of a similarity ranked in Spark SQL's `sim DESC`
    * order: NaN first, −0.0 == 0.0 (the id decides), then descending.
    * [[PartitionedTopK.compareSimDesc]] compares these keys. */
  def simDesc(sim: Double): Long = ~asc(if (sim == 0.0d) 0.0d else sim)
}
