package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[TopK]] against the stable sort-then-take it replaces: random
  * offers with duplicate keys, duplicate (key, id) pairs, NaN (several
  * payloads) and ±0.0, for every key form its callers use, at
  * k ∈ {0, 1, 5, n, n + 3}. A kept item is its offer index, so the
  * check covers offer-order stability among equal pairs too. */
class TopKSpec extends AnyFunSuite {

  private val doubles: Array[Double] = Array(0.0, -0.0, 1.5, -1.5, 2.0,
    Double.NaN, java.lang.Double.longBitsToDouble(0xfff8000000000000L),
    java.lang.Double.longBitsToDouble(0x7ff0000000000001L),
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
    -Double.MinPositiveValue, 1e300, -1e300)
  private val floats: Array[Float] = Array(0.0f, -0.0f, 1.5f, -1.5f, 2.0f,
    Float.NaN, java.lang.Float.intBitsToFloat(0xffc00000),
    Float.PositiveInfinity, Float.NegativeInfinity, Float.MinPositiveValue, 3e38f)
  private val longs: Array[Long] = Array(0L, 1L, -1L, 7L, 7L, -7L,
    Long.MaxValue, Long.MinValue, Long.MinValue + 1)

  /** Offers `(value, id)` through `key`, returns the kept offer
    * indexes, and checks the id/key accessors and `full`/`worstKey`
    * on the way. */
  private def cut[V](offers: Seq[(V, Long)], k: Int)(key: V => Long): Seq[Int] = {
    val top = new TopK[Integer](k)
    val bare = new TopK[AnyRef](k)
    offers.zipWithIndex.foreach { case ((v, id), i) =>
      val kv = key(v)
      if (top.admits(kv, id)) top.add(kv, id, Integer.valueOf(i))
      bare.offer(kv, id)
    }
    val kept = top.result.map(_.intValue)
    assert(top.size === math.min(math.max(k, 0), offers.length))
    assert(top.full === (top.size == math.max(k, 0)))
    assert((0 until top.size).map(top.id) === kept.map(i => offers(i)._2))
    assert((0 until top.size).map(top.key) === kept.map(i => key(offers(i)._1)))
    if (top.size > 0) assert(top.worstKey === top.key(top.size - 1))
    assert((0 until bare.size).map(bare.id) === (0 until top.size).map(top.id))
    kept
  }

  private def check[V](name: String, pool: Array[V], seed: Int)
                      (key: V => Long)
                      (reference: Seq[((V, Long), Int)] => Seq[((V, Long), Int)]): Unit = {
    val r = new scala.util.Random(seed)
    for (trial <- 0 until 300) {
      val n = r.nextInt(40)
      // few ids, so equal (key, id) pairs are common
      val offers = Seq.fill(n)((pool(r.nextInt(pool.length)), r.nextInt(6).toLong - 2L))
      val ref = reference(offers.zipWithIndex).map(_._2)
      for (k <- Seq(0, 1, 5, n, n + 3))
        assert(cut(offers, k)(key) === ref.take(k),
          s"$name trial=$trial k=$k offers=$offers")
    }
  }

  test("asc on double keys == stable sortBy((key, id)).take(k)") {
    check("double asc", doubles, 1)(TopK.asc)(_.sortBy { case ((d, id), _) => (d, id) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)))
  }

  test("asc on widened float keys == stable sortBy((key, id)).take(k)") {
    check("float asc", floats, 2)((f: Float) => TopK.asc(f.toDouble))(
      _.sortBy { case ((f, id), _) => (f, id) }(
        Ordering.Tuple2(Ordering.Float.TotalOrdering, Ordering.Long)))
  }

  test("desc on long keys == stable sortBy((key desc, id)).take(k)") {
    check("long desc", longs, 3)(TopK.desc)(_.sortBy { case ((l, id), _) => (l, id) }(
      Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long)))
  }

  /** Spark SQL's `sim DESC` order, written out: NaN before every
    * value, −0.0 == 0.0, then descending. */
  private def simDescRef(a: Double, b: Double): Int =
    java.lang.Double.compare(if (b == 0.0d) 0.0d else b, if (a == 0.0d) 0.0d else a)

  test("simDesc == stable sortWith(compareSimDesc, id).take(k)") {
    check("simDesc", doubles, 4)(TopK.simDesc)(_.sortWith { case (((a, ia), _), ((b, ib), _)) =>
      val c = simDescRef(a, b)
      c < 0 || (c == 0 && ia < ib)
    })
    for (a <- doubles; b <- doubles)
      assert(math.signum(PartitionedTopK.compareSimDesc(a, b)) ===
        math.signum(simDescRef(a, b)), s"compareSimDesc($a, $b)")
  }

  test("ascValue inverts asc bit for bit; every NaN keys alike") {
    for (d <- doubles if !d.isNaN)
      assert(java.lang.Double.doubleToRawLongBits(TopK.ascValue(TopK.asc(d))) ===
        java.lang.Double.doubleToRawLongBits(d), s"d=$d")
    assert(doubles.filter(_.isNaN).map(TopK.asc).distinct.length === 1)
    assert(TopK.ascValue(TopK.asc(Double.NaN)).isNaN)
  }
}
