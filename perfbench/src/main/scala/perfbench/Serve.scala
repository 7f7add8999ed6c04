package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.serving.Serving

/** The serving workloads: a closed loop of client threads issuing a
  * seeded probe mix against the persisted IVF, HNSW and BM25 indexes
  * through `graft.serving.Serving`, with a shared warm `IndexCache` or
  * with the default uncached path. */
object Serve {
  val Ivf = 0; val Hnsw = 1; val Bm25 = 2; val Hybrid = 3
  val KindNames: IndexedSeq[String] = IndexedSeq("ivf", "hnsw", "bm25", "hybrid")
  /** Probe mix in percent, in `KindNames` order. */
  val Mix: IndexedSeq[Int] = IndexedSeq(50, 15, 15, 20)
  /** Percent per probe of a mix block: blocks of 20 probes. */
  val MixBlock = 5
  val SessionLen = 8
  val K = 10
  val Nprobe = 4
  val Ef = 32

  final case class Probe(kind: Int, vec: Array[Float], terms: Seq[String])

  final case class Indexes(ivf: String, hnsw: String, bm25: String)

  /** The corpus as the generator and the checks need it: vectors by
    * vec_id, each document's word set by doc_id, and the vocabulary. */
  final case class Corpus(vecs: IndexedSeq[Array[Float]], docWords: IndexedSeq[Set[String]]) {
    val vocab: IndexedSeq[String] = docWords.flatten.distinct.sorted
  }

  object Corpus {
    def load(spark: SparkSession, dir: String): Corpus = Corpus(
      spark.read.parquet(s"$dir/embeddings.parquet").orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray).toIndexedSeq,
      spark.read.parquet(s"$dir/documents.parquet").orderBy("doc_id")
        .select("text").collect().map(_.getString(0).split(" ").toSet).toIndexedSeq)
  }

  /** The seeded probe stream of one client: sessions of `SessionLen`
    * probes that refine one query. A session starts at a corpus vector
    * plus noise; each later probe nudges the vector and adds, drops or
    * swaps vocabulary terms, keeping 1-3. Kinds follow `Mix`. */
  def stream(seed: Long, client: Int, n: Int, corpus: IndexedSeq[Array[Float]],
             vocab: IndexedSeq[String]): IndexedSeq[Probe] = {
    val rnd = new SplittableRandom(seed * 1000003L + client)
    def noisy(v: Array[Float], sigma: Double): Array[Float] =
      v.map(x => (x + sigma * gaussian(rnd)).toFloat)
    // kinds come in shuffled blocks that hold the mix exactly, so every
    // seed runs the same proportions and only their order varies
    val block = Mix.indices.flatMap(k => Seq.fill(Mix(k) / MixBlock)(k)).toArray
    var inBlock = block.length
    def kind(): Int = {
      if (inBlock == block.length) {
        var i = block.length - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t; i -= 1
        }
        inBlock = 0
      }
      inBlock += 1
      block(inBlock - 1)
    }
    def fresh(held: Seq[String]): String = {
      var t = vocab(rnd.nextInt(vocab.size))
      while (held.contains(t)) t = vocab(rnd.nextInt(vocab.size))
      t
    }
    val out = mutable.ArrayBuffer.empty[Probe]
    var session = 0
    while (out.size < n) {
      var vec = noisy(corpus(rnd.nextInt(corpus.size)), 0.05)
      var terms = Seq.empty[String]
      var i = 0
      while (i < SessionLen && out.size < n) {
        if (i > 0) vec = noisy(vec, 0.01)
        // the term count cycles 1, 2, 3 through a session from an offset
        // that rotates by session, so every seed runs the same mix of
        // one-, two- and three-term queries; half the steps also swap
        // the oldest term for a new one
        val want = 1 + (session + i) % 3
        if (terms.nonEmpty && rnd.nextBoolean()) terms = terms.tail
        while (terms.size > want) terms = terms.tail
        while (terms.size < want) terms = terms :+ fresh(terms)
        out += Probe(kind(), vec, terms)
        i += 1
      }
      session += 1
    }
    out.toIndexedSeq
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box-Muller: deterministic for a given generator state
    val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  /** Runs one probe and encodes its hits as (id, score bits) pairs. */
  def run(ix: Indexes, p: Probe, cache: Option[Serving.IndexCache]): Array[Long] = {
    val out = mutable.ArrayBuilder.make[Long]
    p.kind match {
      case Ivf =>
        val hs = cache.fold(Serving.searchIvf(ix.ivf, p.vec, K, Nprobe))(c =>
          Serving.searchIvf(ix.ivf, p.vec, K, Nprobe, cache = c))
        hs.foreach { h => out += h.vecId; out += java.lang.Double.doubleToLongBits(h.dist) }
      case Hnsw =>
        val hs = cache.fold(Serving.searchHnsw(ix.hnsw, p.vec, K, Ef, Nprobe))(c =>
          Serving.searchHnsw(ix.hnsw, p.vec, K, Ef, Nprobe, cache = c))
        hs.foreach { h => out += h.vecId; out += java.lang.Double.doubleToLongBits(h.dist) }
      case Bm25 =>
        val hs = cache.fold(Serving.searchBm25(ix.bm25, p.terms, K))(c =>
          Serving.searchBm25(ix.bm25, p.terms, K, cache = c))
        hs.foreach { h => out += h.id; out += h.bm25Fp * 64 + h.nTerms }
      case Hybrid =>
        val hs = cache.fold(Serving.hybridRrf(ix.ivf, ix.bm25, p.vec, p.terms, K))(c =>
          Serving.hybridRrf(ix.ivf, ix.bm25, p.vec, p.terms, K, cache = c))
        hs.foreach { h => out += h.id; out += h.rrfFp }
    }
    out.result()
  }

  /** Independent checks of one probe's hits against the corpus: vector
    * hits carry the exact f32 L2 distance of their corpus vector and
    * come in (dist, id) order; BM25 hits only name documents that hold
    * a query term and come in (score desc, id) order; hybrid hits are
    * distinct and in (rrf desc, id) order. Returns an error or None. */
  def check(p: Probe, hits: Array[Long], corpus: IndexedSeq[Array[Float]],
            docWords: IndexedSeq[Set[String]]): Option[String] = {
    val pairs = hits.grouped(2).map(a => (a(0), a(1))).toIndexedSeq
    def ordered[T: Ordering](key: ((Long, Long)) => T): Boolean =
      pairs.map(key).sliding(2).forall {
        case Seq(a, b) => implicitly[Ordering[T]].lteq(a, b)
        case _ => true
      }
    val name = KindNames(p.kind)
    if (pairs.isEmpty) return Some(s"$name: no hits")
    if (pairs.size > K) return Some(s"$name: ${pairs.size} hits > k")
    if (pairs.map(_._1).distinct.size != pairs.size) return Some(s"$name: duplicate ids")
    p.kind match {
      case Ivf | Hnsw =>
        val bad = pairs.find { case (id, bits) =>
          val v = corpus(id.toInt)
          var acc = 0.0f; var d = 0
          while (d < v.length) { val x = v(d) - p.vec(d); acc += x * x; d += 1 }
          math.sqrt(acc.toDouble).toFloat.toDouble !=
            java.lang.Double.longBitsToDouble(bits)
        }
        if (bad.nonEmpty) Some(s"$name: distance of ${bad.get._1} differs from the corpus")
        else if (!ordered(x => (java.lang.Double.longBitsToDouble(x._2), x._1)))
          Some(s"$name: hits out of (dist, id) order")
        else None
      case Bm25 =>
        val terms = p.terms.toSet
        val bad = pairs.find { case (id, _) => (docWords(id.toInt) & terms).isEmpty }
        if (bad.nonEmpty) Some(s"$name: doc ${bad.get._1} holds no query term")
        else if (!ordered(x => (-(x._2 >> 6), x._1))) Some(s"$name: hits out of order")
        else None
      case _ =>
        if (!ordered(x => (-x._2, x._1))) Some(s"$name: hits out of order") else None
    }
  }

  /** FNV-1a fold of hit arrays, in probe order. */
  def digest(results: Seq[Array[Long]]): String = {
    var h = 0xcbf29ce484222325L
    results.foreach { r =>
      r.foreach { x => h ^= x; h *= 0x100000001b3L }
      h ^= r.length.toLong; h *= 0x100000001b3L
    }
    f"$h%016x"
  }
}
