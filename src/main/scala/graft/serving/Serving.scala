package graft.serving

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{GroupType, MessageType}

/** Driver-side LOW-LATENCY probe path over the persisted indexes — the
  * batch/serving split the reference embodies with its HNSW segments
  * (`vector_store.py:139-171`): Spark builds and maintains the index
  * layouts ([[graft.operators.Ann.saveIvf]],
  * [[graft.operators.Bm25.buildPersistedIndex]]); a single query does
  * NOT need a Spark job to read them. These functions answer one query
  * by reading the pruned partitions directly through parquet-mr's
  * column readers — no session, no scheduler, no shuffle — with result
  * parity against the Spark operators spec-pinned (same kernels, same
  * tie-breaks).
  *
  * Latency: a warm `local[32]` Spark job floors at ~100-300 ms for the
  * same probe; these direct reads answer uncached with a p50 of 7 ms
  * (IVF), 11 ms (HNSW, BM25) and 21 ms (hybrid RRF) on the sf0.1
  * fixture (perfbench serve_cold, 4-vCPU VM, 2 clients), most of it
  * decoding the probed files' column pages. A resident server passes
  * an [[IndexCache]] so repeat probes skip the reads entirely and run
  * only in-memory kernels: warm p50 of 0.06 ms (IVF), 0.26 ms (BM25)
  * and 0.44 ms (hybrid RRF) on the same fixture (perfbench serve_warm).
  * At 100 TB the same
  * code serves from the pruned cluster/range directories — the probe
  * reads O(corpus/k) for IVF and O(query postings) for BM25, exactly
  * what the Spark plan reads, minus the job overhead.
  *
  * Scope: point lookups for ONE query. Batch scoring, index builds,
  * and maintenance remain Spark jobs — that division of labor is the
  * design, not a limitation.
  */
object Serving {

  /** Shared default Hadoop conf: `new Configuration()` parses XML
    * resources on every construction (~tens of ms) — that alone would
    * dwarf the probe's actual IO. Built once, used by every call that
    * doesn't pass its own; every part-file open reuses the conf it is
    * given (this one or the caller's) and never builds another. */
  private lazy val defaultConf: Configuration = new Configuration()

  /** Opt-in decoded-partition cache for a RESIDENT server: an uncached
    * probe lists, opens and decodes every touched dir again (p50 7 ms
    * for IVF to 21 ms for hybrid RRF on the sf0.1 fixture, perfbench
    * serve_cold), so a server answering repeat probes against the
    * same index caches the DECODED partition content (centroids,
    * stats, manifest, per-cluster vectors, and per BM25 range a
    * term → (ids ascending, dl, tf) map of primitive posting columns)
    * keyed by directory path. Repeat probes then run pure in-memory
    * kernels with a bounded top-k — warm p50 0.06 ms for IVF, 0.26 ms
    * for BM25 and 0.44 ms for hybrid RRF on the sf0.1 fixture
    * (perfbench serve_warm, 4-vCPU VM).
    *
    * Semantics: entries are immutable snapshots; results are
    * bit-identical to uncached probes (spec-pinned — same decode, same
    * kernels). Memory holds exactly the partitions probed, i.e. the
    * working set a resident server pages in anyway; [[IndexCache.clear]]
    * drops it (call after index maintenance republishes a directory —
    * the cache does NOT watch for mutation, same staleness contract as
    * any warm server over a republished index). Thread-safe. */
  class IndexCache private[Serving] () {
    // per-key loading (computeIfAbsent): a cold load of one large
    // postings dir must not serialize probes of OTHER (possibly
    // already-cached) directories behind a single global lock — only
    // callers racing on the SAME directory wait for its one load
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    // key is BY-NAME: the no-cache stand-in never forces it, so the
    // default path pays zero key-computation cost (freshKey lists the
    // directory — wasted FS round-trips if evaluated eagerly)
    private[Serving] def getOrLoad[T <: AnyRef](key: => String)(load: => T): T =
      entries.computeIfAbsent(key, _ => load).asInstanceOf[T]
    def size: Int = entries.size
    def clear(): Unit = entries.clear()
  }

  /** A fresh cache for a resident server (one per served index tree,
    * or one shared — entries key on absolute dir paths). */
  def newCache(): IndexCache = new IndexCache

  /** No-op cache stand-in: every [[IndexCache.getOrLoad]] misses (and
    * never forces the by-name key). */
  private val noCache: IndexCache = new IndexCache {
    override private[Serving] def getOrLoad[T <: AnyRef](key: => String)(load: => T): T = load
  }

  /** Resolve a pointer-managed model root — the
    * [[graft.operators.CorpusModels.publishModelVersion]] layout — to
    * its live immutable version dir, driver-side, ZERO Spark: the
    * resident scorer resolves, then probes the resolved dir (whose
    * freshness keys never change, so the per-version cache stays
    * warm). Falls back to `root` itself for a flat layout, mirroring
    * `Maintenance.resolveCurrent`. */
  def currentModelDir(root: String, conf: Configuration = defaultConf): String = {
    val base = root.stripSuffix("/")
    val fs = new Path(base).getFileSystem(conf)
    // the ONE pointer-read implementation — writer (Maintenance/
    // publishModelVersion) and reader resolve the same way, always
    graft.operators.Maintenance.resolveCurrentFs(fs, base)
  }

  // ------------------------------------------------------ parquet decoding

  /** Decode the `cols` columns of every row group of every part file
    * under `dir` (sorted by name for determinism), handing each
    * [[RowGroup]] to `f`; a missing dir decodes nothing. Each file
    * opens with the caller's `conf` and the listing's status (no
    * `Configuration` is built and no second status call is made per
    * file), reads only the requested column chunks, and decodes their
    * pages straight into primitive arrays — no record assembly. */
  private[graft] def foreachRowGroup(conf: Configuration, dir: String, cols: String*)
                                    (f: RowGroup => Unit): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return
    val files = fs.listStatus(p)
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    files.foreach { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf, st.getPath).build())
      try {
        val meta = reader.getFooter.getFileMetaData
        val fileSchema = meta.getSchema
        val schema = new MessageType(fileSchema.getName,
          fileSchema.getFields.asScala.filter(t => cols.contains(t.getName)).asJava)
        reader.setRequestedSchema(schema)
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          f(new RowGroup(s"$dir/${st.getPath.getName}", schema, pages, meta.getCreatedBy))
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
  }

  /** The converter tree [[ColumnReadStoreImpl]] requires for `schema`:
    * values are read from the column readers directly, so it converts
    * nothing (and declines dictionaries, which the readers then decode). */
  private object NoopConverter {
    private val leaf = new PrimitiveConverter {}
    def apply(t: GroupType): GroupConverter = {
      val children = t.getFields.asScala.map(f =>
        if (f.isPrimitive) leaf else apply(f.asGroupType)).toArray[Converter]
      new GroupConverter {
        def getConverter(i: Int): Converter = children(i)
        def start(): Unit = ()
        def end(): Unit = ()
      }
    }
  }

  /** The requested columns of ONE row group of `file`, each decoded on
    * request into a primitive array of `rows` entries. Scalar accessors
    * read a flat column; the list accessors read a Spark-written
    * `array<…>` column by its one leaf (so list/element naming variants
    * don't matter), a row starting at each repetition level 0. A null
    * in a column read as required throws, naming file and column. */
  private[graft] final class RowGroup(file: String, schema: MessageType,
                                      pages: PageReadStore, createdBy: String) {
    val rows: Int = pages.getRowCount.toInt
    private val store =
      new ColumnReadStoreImpl(pages, NoopConverter(schema), schema, createdBy)

    def has(col: String): Boolean = schema.containsField(col)

    /** Throw for a null where `col` requires a value. */
    def nullIn(col: String): Nothing =
      throw new IllegalStateException(s"$file: null in required column '$col'")

    private def leaf(col: String, repeated: Boolean): ColumnReader = {
      val d = schema.getColumns.asScala.filter(_.getPath.head == col)
      if (d.isEmpty) throw new IllegalStateException(s"$file: no column '$col'")
      require(d.size == 1 && d.head.getMaxRepetitionLevel == (if (repeated) 1 else 0),
        s"$file: column '$col' is not a ${if (repeated) "list" else "scalar"} column")
      store.getColumnReader(d.head)
    }

    /** Walk a flat column: `value(i)` reads row i's value off `r`. */
    private def scalar(col: String, r: ColumnReader, nullable: Boolean)
                      (value: Int => Unit): Unit = {
      val maxDef = r.getDescriptor.getMaxDefinitionLevel
      var i = 0
      while (i < rows) {
        if (r.getCurrentDefinitionLevel == maxDef) value(i)
        else if (!nullable) nullIn(col)
        r.consume(); i += 1
      }
    }

    def ints(col: String): Array[Int] = {
      val r = leaf(col, repeated = false); val out = new Array[Int](rows)
      scalar(col, r, nullable = false)(i => out(i) = r.getInteger)
      out
    }

    def longs(col: String): Array[Long] = {
      val r = leaf(col, repeated = false); val out = new Array[Long](rows)
      scalar(col, r, nullable = false)(i => out(i) = r.getLong)
      out
    }

    def doubles(col: String): Array[Double] = {
      val r = leaf(col, repeated = false); val out = new Array[Double](rows)
      scalar(col, r, nullable = false)(i => out(i) = r.getDouble)
      out
    }

    def bools(col: String): Array[Boolean] = {
      val r = leaf(col, repeated = false); val out = new Array[Boolean](rows)
      scalar(col, r, nullable = false)(i => out(i) = r.getBoolean)
      out
    }

    /** UTF-8 strings; with `nullable` a null row is `null`. A dictionary
      * entry repeated on consecutive rows decodes once. */
    def strings(col: String, nullable: Boolean = false): Array[String] = {
      val r = leaf(col, repeated = false); val out = new Array[String](rows)
      var last: Binary = null; var lastStr: String = null
      scalar(col, r, nullable) { i =>
        val b = r.getBinary
        if (!(b eq last)) { last = b; lastStr = b.toStringUsingUTF8 }
        out(i) = lastStr
      }
      out
    }

    /** Walk a one-level list column: `elem()` takes the reader's current
      * element, `close(i)` ends non-null row i after its elements; a
      * null list leaves row i to the caller's default (null). */
    private def list(col: String, r: ColumnReader, nullable: Boolean)
                    (elem: () => Unit)(close: Int => Unit): Unit = {
      val path = r.getDescriptor.getPath
      val maxDef = r.getDescriptor.getMaxDefinitionLevel
      // the list itself is non-null from `listDef`, holds an element
      // slot from `slotDef`, and a non-null element at `maxDef`
      val listDef = schema.getMaxDefinitionLevel(path.head)
      val slotDef = schema.getMaxDefinitionLevel(path.take(2): _*)
      val total = pages.getPageReader(r.getDescriptor).getTotalValueCount
      var row = -1; var open = false; var t = 0L
      while (t < total) {
        val d = r.getCurrentDefinitionLevel
        if (r.getCurrentRepetitionLevel == 0) {
          if (open) close(row)
          row += 1
          open = d >= listDef
          if (!open && !nullable) nullIn(col)
        }
        if (d == maxDef) elem()
        else if (d >= slotDef) nullIn(s"$col.element")
        r.consume(); t += 1
      }
      if (open) close(row)
      if (row + 1 != rows)
        throw new IllegalStateException(s"$file: column '$col' holds ${row + 1} of $rows rows")
    }

    // the list accessors gather a row's elements in one scratch
    // buffer per column and copy each row out at its exact length

    /** `list<float>` rows; with `nullable` a null list is `null`. */
    def floatLists(col: String, nullable: Boolean = false): Array[Array[Float]] = {
      val r = leaf(col, repeated = true); val out = new Array[Array[Float]](rows)
      var buf = new Array[Float](64); var n = 0
      list(col, r, nullable) { () =>
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * n)
        buf(n) = r.getFloat; n += 1
      } { i => out(i) = java.util.Arrays.copyOf(buf, n); n = 0 }
      out
    }

    /** `list<bigint>` rows. */
    def longLists(col: String): Array[Array[Long]] = {
      val r = leaf(col, repeated = true); val out = new Array[Array[Long]](rows)
      var buf = new Array[Long](64); var n = 0
      list(col, r, nullable = false) { () =>
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * n)
        buf(n) = r.getLong; n += 1
      } { i => out(i) = java.util.Arrays.copyOf(buf, n); n = 0 }
      out
    }
  }

  /** Cache key for the MODEL scorers, with a freshness component:
    * [[graft.operators.CorpusModels.saveNbModel]]-family layouts are
    * republished in place by the nightly retrain (mode("overwrite")),
    * so a resident scorer keying the cache on the bare path would
    * serve the stale model forever. Folding the part files' max
    * NAMES (Spark embeds a fresh write-job UUID in every part
    * filename, so a republish can never collide — no dependence on
    * mtime granularity), plus per-file mtime and length for
    * non-Spark writers, makes the republish a natural cache miss:
    * next probe reloads, old entries become garbage (bounded by
    * republish count — call [[IndexCache.clear]] on a long-lived
    * server if that ever matters). One FS metadata listing per CACHED
    * probe — noise next to the decode on a miss, exactly the
    * staleness check a resident server wants on a hit, and skipped
    * entirely on the no-cache path (the key is by-name). The INDEX
    * probes (IVF/BM25) keep the documented explicit-clear contract:
    * their layouts are partition trees, not single republished dirs. */
  private def freshKey(conf: Configuration, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) dir
    else {
      val parts = fs.listStatus(p).filter(st => !st.isDirectory &&
        st.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      s"$dir|" + parts.map(st =>
        s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}").mkString(",")
    }
  }

  // ------------------------------------------------------------ IVF probe

  /** Decoded centroid table of a saveIvf layout — ONE loader shared by
    * every IVF-layout probe (searchIvf, mmrIvf), cache-keyed by dir. */
  private def loadCentroids(conf: Configuration, cache: IndexCache,
                            base: String): Seq[(Int, Array[Float])] = {
    val cents = cache.getOrLoad(s"$base/centroids") {
      val b = mutable.ArrayBuffer.empty[(Int, Array[Float])]
      foreachRowGroup(conf, s"$base/centroids", "cluster_id", "centroid") { rg =>
        b ++= rg.ints("cluster_id").iterator.zip(rg.floatLists("centroid"))
      }
      b.toSeq
    }
    require(cents.nonEmpty, s"no centroids under $base/centroids")
    cents
  }

  /** Decoded rows of ONE cluster partition (vec_id, label, embedding)
    * — the other shared loader of the saveIvf layout. */
  private def loadClusterVecs(conf: Configuration, cache: IndexCache,
                              base: String, cluster: Int)
      : Seq[(Long, Int, Array[Float])] = {
    val dir = s"$base/corpus/ivf_cluster=$cluster"
    cache.getOrLoad(dir) {
      val b = mutable.ArrayBuffer.empty[(Long, Int, Array[Float])]
      foreachRowGroup(conf, dir, "vec_id", "label", "embedding") { rg =>
        val ids = rg.longs("vec_id"); val labels = rg.ints("label")
        val vecs = rg.floatLists("embedding")
        var i = 0
        while (i < rg.rows) { b += ((ids(i), labels(i), vecs(i))); i += 1 }
      }
      b.toSeq
    }
  }

  /** The [[graft.operators.Ann.rankProbes]] contract on a decoded
    * centroid table: f32 Euclidean distance (sqrt-ROUNDED, exactly as
    * the Spark operator and the SQL oracle rank probes — sqrt rounding
    * can merge two distinct squared values, and ranking the same
    * quantity on every path keeps the probe set identical at those
    * collisions; ties to the lower id — ranking the raw squared acc
    * instead would diverge by one probe exactly at a collision). */
  private def rankProbesLocal(cents: Seq[(Int, Array[Float])],
                              query: Array[Float], nprobe: Int): Seq[Int] = {
    // delegate to THE probe-ranking kernel (one owner — a tweak to
    // Ann.rankProbes must move serving and batch probe sets together).
    // Sorting by cluster id first makes positional ties == id ties.
    val sorted = cents.sortBy(_._1).toIndexedSeq
    graft.operators.Ann
      .rankProbes(sorted.map(_._2).toArray, query, nprobe)
      .map(i => sorted(i)._1)
  }

  final case class IvfHit(vecId: Long, label: Int, cluster: Int, dist: Double)

  /** Single-query IVF ANN from a [[graft.operators.Ann.saveIvf]]
    * layout, no Spark: read the k-row centroid file, rank clusters
    * exactly as [[graft.operators.Ann.searchIvf]]
    * ([[rankProbesLocal]]), then scan ONLY the `nprobe`
    * `ivf_cluster=<c>` directories with the same f32 L2 kernel as the
    * codegen'd expression — bit-identical hits in the same
    * (dist, vec_id) order. */
  def searchIvf(indexDir: String, query: Array[Float], k: Int, nprobe: Int,
                conf: Configuration = defaultConf,
                cache: IndexCache = noCache): Seq[IvfHit] = {
    val base = indexDir.stripSuffix("/")
    val cents = loadCentroids(conf, cache, base)
    val probes = rankProbesLocal(cents, query, nprobe)
    // probe scan: only the claimed cluster dirs are ever listed/read
    // (and, with a cache, re-listed only on first touch); a hit object
    // is built only for a candidate that enters the bounded top-k
    val top = new TopK[IvfHit](k)
    probes.foreach { c =>
      loadClusterVecs(conf, cache, base, c).foreach { case (id, label, v) =>
        var acc = 0.0f; var d = 0
        while (d < v.length) { val x = v(d) - query(d); acc += x * x; d += 1 }
        // the L2DistF32 kernel: f32 accumulation, double-rounded sqrt
        val dist = math.sqrt(acc.toDouble).toFloat.toDouble
        val key = TopK.asc(dist)
        if (top.admits(key, id)) top.add(key, id, IvfHit(id, label, c, dist))
      }
    }
    top.result
  }

  /** THE bounded top-k of the ranked probes ([[searchIvf]],
    * [[searchBm25]], [[searchHnsw]], [[hybridRrf]]) — one owner of the
    * tie rules. Keeps the `k` least (key, id) pairs in ascending order:
    * the key decides, the lower id breaks a tie, and equal pairs keep
    * their offer order, so the result is exactly a stable
    * `sortBy((key, id)).take(k)` over every offer without boxing or
    * sorting them. `k <= 0` keeps nothing; the buffer grows with its
    * contents, so a huge `k` costs only the pairs offered. Callers
    * test [[admits]] first and build the hit only for a pair that
    * enters. */
  private final class TopK[A <: AnyRef](k: Int) {
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

    def result: Seq[A] = (0 until n).map(i => items(i).asInstanceOf[A])
  }

  private object TopK {
    /** Ascending key of a distance, in `java.lang.Double.compare` order
      * (the tuple `sortBy` order: −0.0 before 0.0, every NaN equal and
      * last): the IEEE bits with the magnitude flipped for negatives. */
    def asc(d: Double): Long = {
      val bits = java.lang.Double.doubleToLongBits(d)
      bits ^ ((bits >> 63) & Long.MaxValue)
    }

    /** Ascending key of a fixed-point score ranked descending
      * (bitwise NOT reverses the order without overflow). */
    def desc(score: Long): Long = ~score
  }

  /** One hit of [[searchIvfSq8]]. */
  final case class Sq8Hit(vecId: Long, label: Int, cluster: Int,
                          approxDot: Long, cosSim: Double)

  /** Single-query IVF+SQ8 ANN from a [[graft.operators.Ann.saveIvf]]
    * layout, no Spark — the serving form of the faiss `IVF<n>,SQ8`
    * shape (`ann_ivf_sq8`): rank probes exactly as [[searchIvf]]
    * ([[rankProbesLocal]]), int8-quantize the probed rows and the
    * query with the ONE shared [[graft.operators.Sq.sq8Codes]] kernel,
    * keep the `rerank` best by exact int64 dot (desc, id — the
    * [[graft.operators.Sq.sq8Candidates]] cut, exact long compares),
    * then exact-f32-cosine rerank to k in SQL comparison order
    * ([[graft.operators.PartitionedTopK.compareSimDesc]]) —
    * hit-for-hit parity with the batch operator spec-pinned. A
    * resident server quantizes per probe here; a production layout
    * stores `sq_code` next to `ivf_cluster` at ingest (the batch
    * scaladoc's contract) and this probe would read d bytes/row. */
  def searchIvfSq8(indexDir: String, query: Array[Float], k: Int,
                   rerank: Int, nprobe: Int,
                   conf: Configuration = defaultConf,
                   cache: IndexCache = noCache): Seq[Sq8Hit] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val base = indexDir.stripSuffix("/")
    val cents = loadCentroids(conf, cache, base)
    val probes = rankProbesLocal(cents, query, nprobe)
    val qc = graft.operators.Sq.sq8Codes(query)
    val cands = mutable.ArrayBuffer.empty[(Long, Int, Int, Long, Array[Float])]
    probes.foreach { c =>
      loadClusterVecs(conf, cache, base, c).foreach { case (id, label, v) =>
        cands += ((id, label, c,
          graft.operators.Sq.dot8(graft.operators.Sq.sq8Codes(v), qc), v))
      }
    }
    cands.sortBy { case (id, _, _, dot, _) => (-dot, id) }
      .take(rerank)
      .map { case (id, label, c, dot, v) =>
        Sq8Hit(id, label, c, dot,
          graft.operators.Rerank.cosSimLocal(v, query).toDouble)
      }
      .sortWith { (a, b) =>
        val cc = graft.operators.PartitionedTopK.compareSimDesc(a.cosSim, b.cosSim)
        cc < 0 || (cc == 0 && a.vecId < b.vecId)
      }
      .take(k).toSeq
  }

  /** One hit of [[searchIvfPq]]. */
  final case class PqHit(vecId: Long, label: Int, cluster: Int,
                         adcDist: Double, dist: Double)

  /** Single-query IVF-PQ ANN from a [[graft.operators.Ann.saveIvf]]
    * layout, no Spark — the serving form of the IVFADC shape
    * (`ann_ivfpq`): rank probes with PQ's OWN squared-distance kernel
    * ([[graft.operators.Pq.rankProbesSq]] — shared, so probe sets
    * cannot fork), encode the probed rows and build the per-cluster
    * ADC tables with the same row kernels the batch UDFs call
    * ([[graft.operators.Pq.encodeRow]]/`lutFor`/`adcRow`), keep the
    * `refine·k` best by (adc asc, id), then exact-f32-L2 rerank to k
    * in [[graft.operators.Pq.rerank]]'s (dist, id) order —
    * hit-for-hit parity with the batch operator spec-pinned. The
    * `model` is the server's resident codebook state (kilobytes); a
    * production layout stores `pq_code` next to `ivf_cluster` at
    * ingest (the batch scaladoc's contract) and this probe would read
    * m bytes/row. */
  def searchIvfPq(indexDir: String, model: graft.operators.Pq.PqModel,
                  query: Array[Float], k: Int, nprobe: Int,
                  refine: Int = 4,
                  conf: Configuration = defaultConf,
                  cache: IndexCache = noCache): Seq[PqHit] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val base = indexDir.stripSuffix("/")
    val cents = loadCentroids(conf, cache, base).sortBy(_._1)
    val centArr = cents.map(_._2).toArray
    val probes = graft.operators.Pq.rankProbesSq(centArr, query, nprobe)
    val cands = mutable.ArrayBuffer.empty[(Long, Int, Int, Float, Array[Float])]
    probes.foreach { p =>
      // rankProbesSq returns POSITIONS into centArr; resolve to the
      // row's actual cluster_id before touching the layout (the ids
      // are contiguous today, but a pruned/renumbered centroid table
      // must break loudly in one place, not scan wrong directories)
      val (cid, cvec) = cents(p)
      val lut = graft.operators.Pq.lutFor(model, cvec, query)
      loadClusterVecs(conf, cache, base, cid).foreach { case (id, label, v) =>
        val code = graft.operators.Pq.encodeRow(model, cvec, v)
        cands += ((id, label, cid,
          graft.operators.Pq.adcRow(model, lut, code), v))
      }
    }
    cands.sortBy { case (id, _, _, adc, _) => (adc, id) }
      .take(refine * k)
      .map { case (id, label, c, adc, v) =>
        // the Pq.rerank kernel: f32 accumulation, double-rounded sqrt
        var acc = 0.0f; var d = 0
        while (d < v.length) { val x = v(d) - query(d); acc += x * x; d += 1 }
        PqHit(id, label, c, adc.toDouble,
          math.sqrt(acc.toDouble).toFloat.toDouble)
      }
      .sortBy(h => (h.dist, h.vecId))
      .take(k).toSeq
  }

  /** One hit of [[searchBq]] / [[searchIvfBq]]. */
  final case class BqHit(vecId: Long, label: Int, cluster: Int,
                         adotFp: Long, cosSim: Double)

  /** Single-query BQ ANN from a [[graft.operators.Ann.saveIvf]]
    * layout, no Spark — the serving form of `ann_bq`'s two-phase
    * code-scan over the persisted corpus (every cluster directory —
    * BQ's global form scans all codes; [[searchIvfBq]] is the pruned
    * shape). Codes and the fixed-point query ride the ONE shared
    * kernel set ([[graft.operators.Bq.bqCodes]]/`qFixedPoint`/
    * `adotFp` — the sign quantization is stateless, per the batch
    * scaladoc a production table stores `bq_code` at ingest), the
    * `rerank` cut is (adot_fp desc, id) and the final exact-f32-cosine
    * rerank uses [[graft.operators.PartitionedTopK.compareSimDesc]] —
    * hit-for-hit parity with [[graft.operators.Bq.searchBq]]
    * spec-pinned. */
  def searchBq(indexDir: String, query: Array[Float], k: Int, rerank: Int,
               conf: Configuration = defaultConf,
               cache: IndexCache = noCache): Seq[BqHit] = {
    val base = indexDir.stripSuffix("/")
    val all = loadCentroids(conf, cache, base).map(_._1).sorted
    bqOverClusters(base, all, query, k, rerank, conf, cache)
  }

  /** Single-query IVF+BQ ANN — the serving form of `ann_ivf_bq`:
    * coarse probes ranked exactly as [[searchIvf]] (the
    * [[graft.operators.Ann.rankProbes]] contract via
    * [[rankProbesLocal]]), then [[searchBq]]'s two-phase code scan
    * over only the probed cluster directories — hit-for-hit parity
    * with [[graft.operators.Bq.searchIvfBq]] spec-pinned. */
  def searchIvfBq(indexDir: String, query: Array[Float], k: Int,
                  rerank: Int, nprobe: Int,
                  conf: Configuration = defaultConf,
                  cache: IndexCache = noCache): Seq[BqHit] = {
    val base = indexDir.stripSuffix("/")
    val cents = loadCentroids(conf, cache, base)
    val probes = rankProbesLocal(cents, query, nprobe)
    bqOverClusters(base, probes, query, k, rerank, conf, cache)
  }

  /** Shared two-phase BQ scan of [[searchBq]]/[[searchIvfBq]]. */
  private def bqOverClusters(base: String, clusters: Seq[Int],
                             query: Array[Float], k: Int, rerank: Int,
                             conf: Configuration,
                             cache: IndexCache): Seq[BqHit] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val qfp = graft.operators.Bq.qFixedPoint(query)
    val cands = mutable.ArrayBuffer.empty[(Long, Int, Int, Long, Array[Float])]
    clusters.foreach { c =>
      loadClusterVecs(conf, cache, base, c).foreach { case (id, label, v) =>
        cands += ((id, label, c,
          graft.operators.Bq.adotFp(graft.operators.Bq.bqCodes(v), qfp), v))
      }
    }
    // phase-1 cut: (adot_fp desc, id asc) — bqCandidates' TakeOrdered
    cands.sortWith { case ((ia, _, _, da, _), (ib, _, _, db, _)) =>
      da > db || (da == db && ia < ib)
    }
      .take(rerank)
      .map { case (id, label, c, dot, v) =>
        BqHit(id, label, c, dot,
          graft.operators.Rerank.cosSimLocal(v, query).toDouble)
      }
      // phase-2 rerank: Spark's (cos_sim desc, id) via the ONE shared
      // comparator (NaN first like desc, ±0.0 equal so the id decides)
      .sortWith { (a, b) =>
        val cc = graft.operators.PartitionedTopK.compareSimDesc(a.cosSim, b.cosSim)
        cc < 0 || (cc == 0 && a.vecId < b.vecId)
      }
      .take(k).toSeq
  }

  /** One diversified pick of [[mmrIvf]]. */
  final case class MmrHit(vecId: Long, rank: Long, score: Double)

  /** Single-query MMR-diversified retrieval from a
    * [[graft.operators.Ann.saveIvf]] layout, no Spark: probe the
    * `nprobe` nearest clusters exactly as [[searchIvf]]
    * ([[rankProbesLocal]] — the Ann.rankProbes contract), rank the
    * probed rows by
    * f32 cosine (desc, id) keeping `fetchK` candidates, then run the
    * ONE shared greedy kernel ([[graft.operators.Rerank.mmrKernel]])
    * — batch and serve picks cannot fork. `excludeId` drops one corpus
    * row (the gate/spec self-exclusion; pass the default −1 for a
    * foreign query vector). With nprobe = numClusters the candidate
    * pool equals brute force and the picks match
    * [[graft.operators.Rerank.batchMmr]] doc-for-doc (spec-pinned,
    * zero Spark jobs). */
  def mmrIvf(indexDir: String, query: Array[Float], k: Int, fetchK: Int,
             nprobe: Int, lambda: Double = 0.5, excludeId: Long = -1L,
             conf: Configuration = defaultConf,
             cache: IndexCache = noCache): Seq[MmrHit] = {
    val base = indexDir.stripSuffix("/")
    val cents = loadCentroids(conf, cache, base)
    val probes = rankProbesLocal(cents, query, nprobe)
    val cands = mutable.ArrayBuffer.empty[(Long, Double, Array[Float])]
    probes.foreach { c =>
      loadClusterVecs(conf, cache, base, c).foreach { case (id, _, v) =>
        if (id != excludeId)
          cands += ((id, graft.operators.Rerank.cosSimLocal(v, query).toDouble, v))
      }
    }
    // candidate cut with SQL comparison semantics, matching batchMmr's
    // `__sim desc, id` window exactly — the ONE shared comparator
    // (PartitionedTopK.compareSimDesc: NaN first like Spark's desc,
    // ±0.0 equal so the id decides); the kernel still receives the
    // raw sim (value parity).
    val top = cands.sortWith { case ((idA, sA, _), (idB, sB, _)) =>
      val c = graft.operators.PartitionedTopK.compareSimDesc(sA, sB)
      c < 0 || (c == 0 && idA < idB)
    }.take(fetchK).toArray
    graft.operators.Rerank
      .mmrKernel(top.map(_._1), top.map(_._2), top.map(_._3), k, lambda)
      .map(p => MmrHit(p.id, p.rank, p.score)).toSeq
  }

  /** One fused hit of [[hybridRrf]]. */
  final case class HybridHit(id: Long, rrfFp: Long)

  /** Single-query HYBRID retrieval with zero Spark jobs: the IVF
    * probe ([[searchIvf]]) and the BM25 probe ([[searchBm25]]) each
    * produce their ranked top-fetchK from their persisted layouts,
    * and the two rank lists fuse by reciprocal rank —
    * `rrf_fp = Σ 1e9 DIV (kRrf + rank)` in pure int64, exactly
    * [[graft.operators.Bm25.rrfFuse]]'s arithmetic (ids in one list
    * only contribute that one term), ordered (rrf_fp desc, id).
    * Rank parity of each side with its Spark operator is already
    * spec-pinned, so the fusion is parity-by-construction
    * (ServingSpec pins the composed result too). The reference's
    * keyword+vector search surface, answered at driver latency from
    * the two nightly-built indexes. */
  def hybridRrf(ivfDir: String, bm25Dir: String, query: Array[Float],
                terms: Seq[String], k: Int, fetchK: Int = 50,
                nprobe: Int = 4, kRrf: Int = 60,
                rationalIdf: Boolean = false,
                conf: Configuration = defaultConf,
                cache: IndexCache = noCache): Seq[HybridHit] = {
    require(k > 0 && kRrf > 0, s"k and kRrf must be positive, got $k, $kRrf")
    val vec = searchIvf(ivfDir, query, fetchK, nprobe, conf, cache)
    val lex = searchBm25(bm25Dir, terms, fetchK,
      rationalIdf = rationalIdf, conf = conf, cache = cache)
    val score = mutable.LongMap.empty[Long].withDefaultValue(0L)
    vec.iterator.zipWithIndex.foreach { case (h, i) =>
      score(h.vecId) += 1000000000L / (kRrf + i + 1L)
    }
    lex.iterator.zipWithIndex.foreach { case (h, i) =>
      score(h.id) += 1000000000L / (kRrf + i + 1L)
    }
    val top = new TopK[HybridHit](k)
    score.foreachEntry { (id, s) =>
      val key = TopK.desc(s)
      if (top.admits(key, id)) top.add(key, id, HybridHit(id, s))
    }
    top.result
  }

  // ----------------------------------------------------------- BM25 probe

  final case class Bm25Hit(id: Long, bm25Fp: Long, nTerms: Long)

  /** Single-query BM25 from a
    * [[graft.operators.Bm25.buildPersistedIndex]] layout, no Spark:
    * read the 1-row stats, prune the term ranges against the manifest
    * zone map, scan only the overlapping `range_id=<r>` posting dirs,
    * and replay the EXACT fixed-point scoring tail of
    * [[graft.operators.Bm25.topK]] (same IEEE expression tree, same
    * `floor(score·1e9)` quantization, same (score desc, id) ties) —
    * hit-for-hit parity with `searchPersistedIndex`, spec-pinned. */
  def searchBm25(indexDir: String, queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75,
                 rationalIdf: Boolean = false,
                 conf: Configuration = defaultConf,
                 cache: IndexCache = noCache): Seq[Bm25Hit] = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val base = indexDir.stripSuffix("/")
    val terms = queryTerms.distinct.toSet

    val (n, avgdl) = cache.getOrLoad(s"$base/stats") {
      var n0 = 0L; var a0 = 0.0; var sawStats = false
      foreachRowGroup(conf, s"$base/stats", "n", "avgdl") { rg =>
        if (rg.rows > 0) {
          n0 = rg.longs("n").last; a0 = rg.doubles("avgdl").last; sawStats = true
        }
      }
      require(sawStats, s"no stats row under $base/stats")
      (n0, a0)
    }

    // one column per (pruned range, query term) present; a term's df
    // is its full posting count, summed over every range holding it
    val cols = prunedRangeIds(base, terms, conf, cache).sorted.flatMap { rid =>
      val entry = loadTermPostings(base, rid, conf, cache)
      terms.iterator.flatMap(t => entry.get(t).map(t -> _))
    }.toArray
    val df = cols.groupMapReduce(_._1)(_._2.ids.length.toLong)(_ + _)
    val idfs = cols.map { case (t, _) =>
      // EXACT mirror of Bm25.scoreAndTake's expression tree
      val dft = df(t).toDouble
      val ratio = (n.toDouble - dft + 0.5) / (dft + 0.5)
      if (rationalIdf) ratio else math.log(ratio + 1.0)
    }
    val postings = cols.map(_._2)
    // k-way merge in id order: each document's postings meet at once,
    // so its score is final when its id is passed
    val at = new Array[Int](postings.length)
    val top = new TopK[Bm25Hit](k)
    var exhausted = false
    while (!exhausted) {
      // the least id under the cursors, if any remain
      var id = 0L; exhausted = true
      var c = 0
      while (c < postings.length) {
        val p = postings(c)
        if (at(c) < p.ids.length && (exhausted || p.ids(at(c)) < id)) {
          id = p.ids(at(c)); exhausted = false
        }
        c += 1
      }
      if (!exhausted) {
        var s = 0L; var hits = 0L
        c = 0
        while (c < postings.length) {
          val p = postings(c)
          while (at(c) < p.ids.length && p.ids(at(c)) == id) {
            val tf = p.tf(at(c)).toDouble
            val denom = tf + k1 * (1.0 - b + b * (p.dl(at(c)).toDouble / avgdl))
            val termScore = idfs(c) * (tf * (k1 + 1.0)) / denom
            s += math.floor(termScore * 1.0e9).toLong
            hits += 1L
            at(c) += 1
          }
          c += 1
        }
        val key = TopK.desc(s)
        if (top.admits(key, id)) top.add(key, id, Bm25Hit(id, s, hits))
      }
    }
    top.result
  }

  /** One term's postings in a BM25 range entry: parallel primitive
    * columns in ascending id order (df = `ids.length`). */
  private final class TermPostings(val ids: Array[Long], val dl: Array[Long],
                                   val tf: Array[Long])

  /** Growable [[TermPostings]] columns, filled in file order; `result`
    * sorts by id only when the file order was not already ascending. */
  private final class TermPostingsBuilder {
    private var ids = new Array[Long](64)
    private var dl = new Array[Long](64)
    private var tf = new Array[Long](64)
    private var n = 0
    private var ascending = true

    def add(id: Long, d: Long, t: Long): Unit = {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        dl = java.util.Arrays.copyOf(dl, 2 * n)
        tf = java.util.Arrays.copyOf(tf, 2 * n)
      }
      if (n > 0 && id < ids(n - 1)) ascending = false
      ids(n) = id; dl(n) = d; tf(n) = t; n += 1
    }

    def result(): TermPostings =
      if (ascending)
        new TermPostings(java.util.Arrays.copyOf(ids, n),
          java.util.Arrays.copyOf(dl, n), java.util.Arrays.copyOf(tf, n))
      else {
        val order = idOrder()
        def gather(col: Array[Long]): Array[Long] = {
          val out = new Array[Long](n); var i = 0
          while (i < n) { out(i) = col(order(i)); i += 1 }
          out
        }
        new TermPostings(gather(ids), gather(dl), gather(tf))
      }

    /** Positions `0 until n` in ascending id order: a stable bottom-up
      * merge sort on primitives (no boxed comparator). */
    private def idOrder(): Array[Int] = {
      var from = Array.range(0, n)
      var to = new Array[Int](n)
      var width = 1
      while (width < n) {
        var lo = 0
        while (lo < n) {
          val mid = math.min(lo + width, n)
          val hi = math.min(lo + 2 * width, n)
          var i = lo; var j = mid; var o = lo
          while (o < hi) {
            if (j >= hi || (i < mid && ids(from(i)) <= ids(from(j)))) {
              to(o) = from(i); i += 1
            } else { to(o) = from(j); j += 1 }
            o += 1
          }
          lo = hi
        }
        val t = from; from = to; to = t
        width *= 2
      }
      from
    }
  }

  /** ONE range dir of a [[graft.operators.Bm25.buildPersistedIndex]]
    * layout, decoded straight into per-term columns
    * (term → [[TermPostings]]) and cached WHOLE: per-query term
    * selection stays outside the entry, so any query over the layout
    * reuses it ([[searchBm25]] and [[searchFuzzy]] share these
    * entries, and the entry's key set is the range's vocabulary). */
  private def loadTermPostings(base: String, rid: Int, conf: Configuration,
                               cache: IndexCache): Map[String, TermPostings] = {
    val dir = s"$base/postings/range_id=$rid"
    cache.getOrLoad(dir) {
      val byTerm = mutable.HashMap.empty[String, TermPostingsBuilder]
      // rows arrive grouped by term (the range export sorts by term),
      // so the map is consulted once per term run, not once per row
      var term: String = null
      var col: TermPostingsBuilder = null
      foreachRowGroup(conf, dir, "term", "id", "dl", "tf") { rg =>
        val terms = rg.strings("term"); val ids = rg.longs("id")
        val dls = rg.longs("dl"); val tfs = rg.longs("tf")
        var i = 0
        while (i < rg.rows) {
          val t = terms(i)
          if (t != term) {
            term = t; col = byTerm.getOrElseUpdate(t, new TermPostingsBuilder)
          }
          col.add(ids(i), dls(i), tfs(i))
          i += 1
        }
      }
      byTerm.iterator.map { case (t, bld) => t -> bld.result() }.toMap
    }
  }

  // --------------------------------------------------- fuzzy search probe

  final case class FuzzyHit(id: Long, score: Long, nTerms: Long)

  /** Single-query FUZZY term search from the persisted BM25 layout, no
    * Spark — the serving twin of [[graft.operators.Fuzzy.termSearch]]:
    * each query term expands to every vocabulary term within `maxDist`
    * levenshtein edits, documents score Σ tf over the expanded set (a
    * term reachable from two query terms counts once per query term),
    * (score desc, id) order, top-`k`. The index's (id, term, tf) rows
    * ARE the operator's tf aggregation (same [[graft.operators.Bm25]]
    * tokenizer), so parity is hit-for-hit (FuzzySpec pin).
    *
    * No zone-map prune: ANY vocabulary term can sit within `maxDist`
    * of a query term, so the probe reads every non-empty range — the
    * full-vocab residency a resident fuzzy endpoint needs anyway, paid
    * once per cache lifetime, not per query. */
  def searchFuzzy(indexDir: String, queryTerms: Seq[String], k: Int,
                  maxDist: Int = 1,
                  conf: Configuration = defaultConf,
                  cache: IndexCache = noCache): Seq[FuzzyHit] = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(_.matches("[a-z0-9]+")),
      s"queryTerms must be lowercase [a-z0-9]+ (the tokenizer alphabet), " +
        s"got ${queryTerms.filterNot(_.matches("[a-z0-9]+")).mkString(", ")}")
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val base = indexDir.stripSuffix("/")
    val qts = queryTerms.distinct
    val entries = manifestRows(base, conf, cache).map(_._1).sorted
      .map(rid => loadTermPostings(base, rid, conf, cache))
    // vocabulary expansion: qterms within maxDist of each distinct
    // term — the vocabulary is the cached entries' key sets, so a
    // resident endpoint derives nothing per query beyond the edits
    val expansion: Map[String, Seq[String]] = entries.flatMap(_.keys).distinct
      .map(t => t -> qts.filter(q => levenshtein(t, q) <= maxDist))
      .filter(_._2.nonEmpty).toMap
    val byDoc = mutable.LinkedHashMap.empty[Long, (Long, mutable.Set[String])]
    for (entry <- entries; (t, p) <- entry; qs <- expansion.get(t)) {
      var i = 0
      while (i < p.ids.length) {
        val (s0, seen) = byDoc.getOrElseUpdate(p.ids(i),
          (0L, mutable.Set.empty[String]))
        // once per (posting, reachable query term) — the multi-set OR
        byDoc(p.ids(i)) = (s0 + p.tf(i) * qs.length, seen ++= qs)
        i += 1
      }
    }
    byDoc.toSeq.map { case (id, (s, qs)) => FuzzyHit(id, s, qs.size.toLong) }
      .sortBy(h => (-h.score, h.id)).take(k)
  }

  /** Classic unweighted Wagner–Fischer — the same metric as Spark's
    * `levenshtein` function, which the batch operator and the oracle
    * both ship. */
  private def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }

  // ------------------------------------------------ positional index probes

  final case class PhraseHit(id: Long, nOccurrences: Long)

  final case class ProximityHit(id: Long, nPairs: Long, minDist: Long)

  /** Cached manifest of a range-sharded layout's NON-EMPTY ranges
    * (the [[graft.operators.Sharding.exportSorted]] layout; a row
    * with null min/max keys marks an empty range — no postings, never
    * read, the `Bm25.overlappingRangeIds` guard). */
  private def manifestRows(base: String, conf: Configuration,
                           cache: IndexCache): Seq[(Int, String, String)] =
    cache.getOrLoad(s"$base/manifest") {
      val b0 = mutable.ArrayBuffer.empty[(Int, String, String)]
      foreachRowGroup(conf, s"$base/manifest", "range_id", "min_key", "max_key") { rg =>
        val rids = rg.ints("range_id")
        val lo = rg.strings("min_key", nullable = true)
        val hi = rg.strings("max_key", nullable = true)
        var i = 0
        while (i < rg.rows) {
          if (lo(i) != null) {
            if (hi(i) == null) rg.nullIn("max_key")
            b0 += ((rids(i), lo(i), hi(i)))
          }
          i += 1
        }
      }
      b0.toSeq
    }

  /** Manifest zone-map prune shared by every range-sharded probe
    * (BM25, positional): the overlapping-interval rule over
    * [[manifestRows]]. ONE owner: a prune-rule fix applies to every
    * probe at once. */
  private def prunedRangeIds(base: String, terms: Set[String],
                             conf: Configuration,
                             cache: IndexCache): Seq[Int] =
    manifestRows(base, conf, cache).collect {
      case (rid, lo, hi) if terms.exists(t => t >= lo && t <= hi) => rid
    }

  /** Positional postings of `terms` from a
    * [[graft.operators.Positional.buildPersistedIndex]] layout, no
    * Spark: manifest zone-map prune, then the overlapping
    * `range_id=<r>` dirs only. The cache holds each dir's FULL rows
    * (term filter outside the entry, the [[searchBm25]] rule). */
  private def readPositional(indexDir: String, terms: Set[String],
                             conf: Configuration, cache: IndexCache)
      : Seq[(Long, String, Long)] = {
    val base = indexDir.stripSuffix("/")
    val ranges = prunedRangeIds(base, terms, conf, cache)
    val out = mutable.ArrayBuffer.empty[(Long, String, Long)]
    ranges.sorted.foreach { rid =>
      val dir = s"$base/postings/range_id=$rid"
      val rows = cache.getOrLoad(dir) {
        val b0 = mutable.ArrayBuffer.empty[(Long, String, Long)]
        foreachRowGroup(conf, dir, "id", "term", "pos") { rg =>
          val ids = rg.longs("id"); val terms = rg.strings("term")
          val pos = rg.longs("pos")
          var i = 0
          while (i < rg.rows) { b0 += ((ids(i), terms(i), pos(i))); i += 1 }
        }
        b0.toSeq
      }
      rows.foreach { case row @ (_, t, _) => if (terms.contains(t)) out += row }
    }
    out.toSeq
  }

  /** Single-query exact-phrase search from the persisted positional
    * index, no Spark — the serving twin of
    * [[graft.operators.Positional.searchPersistedPhrase]] (the one
    * persisted layout that had no driver probe). Same semantics as
    * the batch n-way positional join: an occurrence is a start
    * position p with phrase(i) at p+i for every i (overlapping
    * occurrences count); docs with none are absent. Output
    * (id asc) — hit-for-hit parity spec-pinned. */
  def searchPhrase(indexDir: String, phrase: Seq[String],
                   conf: Configuration = defaultConf,
                   cache: IndexCache = noCache): Seq[PhraseHit] = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val rows = readPositional(indexDir, phrase.distinct.toSet, conf, cache)
    // per doc: positions per term, then count chain starts — tiny
    // (pruned postings of the phrase terms only), pure driver work
    rows.groupBy(_._1).toSeq.flatMap { case (id, ps) =>
      val byTerm = ps.groupBy(_._2)
        .map { case (t, rs) => t -> rs.map(_._3).toSet }
      val starts = byTerm.getOrElse(phrase.head, Set.empty[Long])
      val n = starts.count(p0 => phrase.indices.forall(i =>
        byTerm.getOrElse(phrase(i), Set.empty[Long]).contains(p0 + i)))
      if (n > 0) Some(PhraseHit(id, n.toLong)) else None
    }.sortBy(_.id)
  }

  /** Single-query proximity search from the persisted positional
    * index, no Spark — the serving twin of
    * [[graft.operators.Positional.searchPersistedProximity]]: docs
    * where `termA` and `termB` co-occur within `window` tokens, with
    * the pair count and closest distance. Output (id asc). */
  def searchProximity(indexDir: String, termA: String, termB: String,
                      window: Long,
                      conf: Configuration = defaultConf,
                      cache: IndexCache = noCache): Seq[ProximityHit] = {
    require(termA != termB, "proximity terms must differ")
    require(window >= 1, s"window must be >= 1, got $window")
    val rows = readPositional(indexDir, Set(termA, termB), conf, cache)
    rows.groupBy(_._1).toSeq.flatMap { case (id, ps) =>
      val pa = ps.collect { case (_, t, p) if t == termA => p }
      val pb = ps.collect { case (_, t, p) if t == termB => p }
      val dists = for (a <- pa; b <- pb; d = math.abs(a - b) if d <= window)
        yield d
      if (dists.nonEmpty) Some(ProximityHit(id, dists.length.toLong, dists.min))
      else None
    }.sortBy(_.id)
  }

  // --------------------------------------------------- NB classifier probe

  final case class NbScore(scoreFp: Long, keepPred: Boolean)

  /** Single-document quality-classifier scoring from a
    * [[graft.operators.CorpusModels.saveNbModel]] layout, no Spark —
    * the online half of the batch-train/online-serve split: an ingest
    * front-end gates documents with the nightly-trained model at
    * driver latency. Same whitespace tokenizer, same fixed-point long
    * sums, same strict `> 0` decision as the Spark operator
    * ([[graft.operators.CorpusModels.nbScore]]) — hit-for-hit parity
    * spec-pinned. The vocab-bounded model map caches per
    * (dir, freshness) key for resident scorers — a republished model
    * at the same path is picked up on the next probe
    * ([[freshKey]]). */
  def scoreNb(modelDir: String, text: String,
              conf: Configuration = defaultConf,
              cache: IndexCache = noCache): NbScore = {
    val base = modelDir.stripSuffix("/")
    val llr = cache.getOrLoad(freshKey(conf, s"$base/model")) {
      val m = mutable.HashMap.empty[String, Long]
      foreachRowGroup(conf, s"$base/model", "token", "llr_fp") { rg =>
        m ++= rg.strings("token").iterator.zip(rg.longs("llr_fp"))
      }
      // fail LOUD on a missing/empty model dir (mid-republish race, bad
      // path): a silent empty map would score bare priors forever —
      // and a resident server would CACHE that emptiness
      require(m.nonEmpty, s"no model rows under $base/model")
      m.toMap
    }
    val priorFp = cache.getOrLoad(freshKey(conf, s"$base/prior")) {
      var p = 0L; var saw = false
      foreachRowGroup(conf, s"$base/prior", "prior_fp") { rg =>
        if (rg.rows > 0) { p = rg.longs("prior_fp").last; saw = true }
      }
      require(saw, s"no prior row under $base/prior")
      java.lang.Long.valueOf(p)
    }.longValue()
    // the ONE scoring loop, shared with the batch-parity UDF
    // (CorpusModels.nbScoreColumn) — the contract cannot fork
    val s = graft.operators.CorpusModels.nbKernel(
      graft.operators.CorpusModels.splitTokens(text), llr, priorFp)
    NbScore(s, s > 0)
  }

  // ------------------------------------------------------- LM perplexity probe

  final case class PplScore(nTokens: Long, nllFp: Long, crossEntropy: Double)

  /** Bigram probe result — the count field is TRANSITIONS (tokens−1
    * minus dropped unknown-context transitions), named to match the
    * batch `bigramPerplexity` output, not a token count. */
  final case class BigramPplScore(nTransitions: Long, nllFp: Long, crossEntropy: Double)

  /** Single-document LM cross-entropy from a
    * [[graft.operators.CorpusModels.saveLmModel]] layout, no Spark —
    * the serving form of the CCNet quality signal (gate a document at
    * ingest by its perplexity under the nightly corpus LM). Same
    * tokenizer, OOV routing, integer sums, and division chain as
    * [[graft.operators.CorpusModels.perplexity]] — doc-for-doc parity
    * spec-pinned. Freshness-keyed caching, as [[scoreNb]]. */
  // cache-keyed loaders for the persisted LM/bigram layouts — shared
  // by the single-model probes and the composed backoff probe
  private def loadVocabMap(conf: Configuration, cache: IndexCache,
                           base: String): Map[String, Long] =
    cache.getOrLoad(freshKey(conf, s"$base/vocab")) {
      val m = mutable.HashMap.empty[String, Long]
      foreachRowGroup(conf, s"$base/vocab", "token", "logp_fp") { rg =>
        m ++= rg.strings("token").iterator.zip(rg.longs("logp_fp"))
      }
      require(m.nonEmpty, s"no vocab rows under $base/vocab")
      m.toMap
    }

  private def loadOovFp(conf: Configuration, cache: IndexCache,
                        base: String): Long =
    cache.getOrLoad(freshKey(conf, s"$base/stats")) {
      var p = 0L; var saw = false
      foreachRowGroup(conf, s"$base/stats", "oov_logp_fp") { rg =>
        if (rg.rows > 0) { p = rg.longs("oov_logp_fp").last; saw = true }
      }
      require(saw, s"no stats row under $base/stats")
      java.lang.Long.valueOf(p)
    }.longValue()

  private def loadBigramMap(conf: Configuration, cache: IndexCache,
                            base: String): Map[(String, String), Long] =
    cache.getOrLoad(freshKey(conf, s"$base/bigrams")) {
      val m = mutable.HashMap.empty[(String, String), Long]
      foreachRowGroup(conf, s"$base/bigrams", "ctx", "tok", "logp_fp") { rg =>
        m ++= rg.strings("ctx").iterator.zip(rg.strings("tok")).zip(rg.longs("logp_fp"))
      }
      require(m.nonEmpty, s"no bigram rows under $base/bigrams")
      m.toMap
    }

  private def loadContextMap(conf: Configuration, cache: IndexCache,
                             base: String): Map[String, Long] =
    cache.getOrLoad(freshKey(conf, s"$base/contexts")) {
      val m = mutable.HashMap.empty[String, Long]
      foreachRowGroup(conf, s"$base/contexts", "ctx", "oov_logp_fp") { rg =>
        m ++= rg.strings("ctx").iterator.zip(rg.longs("oov_logp_fp"))
      }
      require(m.nonEmpty, s"no context rows under $base/contexts")
      m.toMap
    }

  def scorePpl(modelDir: String, text: String,
               conf: Configuration = defaultConf,
               cache: IndexCache = noCache): PplScore = {
    val base = modelDir.stripSuffix("/")
    val vocab = loadVocabMap(conf, cache, base)
    val oovFp = loadOovFp(conf, cache, base)
    val (n, nll) = graft.operators.CorpusModels.pplKernel(
      graft.operators.CorpusModels.splitTokens(text), vocab, oovFp)
    PplScore(n, nll,
      if (n == 0) 0.0 else nll.toDouble / 1.0e9 / n.toDouble)
  }

  /** Single-document BIGRAM-LM cross-entropy from a
    * [[graft.operators.CorpusModels.saveBigramLm]] layout, no Spark —
    * the serving form of the context-aware CCNet signal, closing the
    * batch/serve split for the last model family. Same tokenizer,
    * transition enumeration, capped-table routing (transition to a
    * capped-out target scores its context's OOV; a transition out of
    * an unknown/capped-out context DROPS — the inner contexts join),
    * integer sums, and division chain as
    * [[graft.operators.CorpusModels.bigramPerplexity]] — doc-for-doc
    * parity spec-pinned, zero Spark jobs. Both maps are
    * cap-bounded by construction (bigramCap/contextCap are required);
    * freshness-keyed caching, as [[scoreNb]]. */
  def scoreBigramPpl(modelDir: String, text: String,
                     conf: Configuration = defaultConf,
                     cache: IndexCache = noCache): BigramPplScore = {
    val base = modelDir.stripSuffix("/")
    val bigrams = loadBigramMap(conf, cache, base)
    val contexts = loadContextMap(conf, cache, base)
    val (n, nll) = graft.operators.CorpusModels.bigramPplKernel(
      graft.operators.CorpusModels.splitTokens(text), bigrams, contexts)
    BigramPplScore(n, nll,
      if (n == 0) 0.0 else nll.toDouble / 1.0e9 / n.toDouble)
  }

  /** Single-document STUPID-BACKOFF cross-entropy from a
    * [[graft.operators.CorpusModels.saveBigramLm]] layout plus a
    * [[graft.operators.CorpusModels.saveLmModel]] layout, no Spark —
    * the serving form of `lm_backoff_ppl` (same
    * `CorpusModels.backoffPplKernel` as the batch-parity UDF:
    * capped-table bigram lp, else ln(0.4)-penalty backoff to the
    * unigram; nothing drops). Doc-for-doc parity + zero Spark jobs
    * spec-pinned; freshness-keyed caching, as [[scoreNb]]. */
  def scoreBackoffPpl(bigramModelDir: String, lmModelDir: String, text: String,
                      alphaFp: Long = graft.operators.CorpusModels.StupidBackoffAlphaFp,
                      conf: Configuration = defaultConf,
                      cache: IndexCache = noCache): BigramPplScore = {
    val bigrams = loadBigramMap(conf, cache, bigramModelDir.stripSuffix("/"))
    val lmBase = lmModelDir.stripSuffix("/")
    val vocab = loadVocabMap(conf, cache, lmBase)
    val oovFp = loadOovFp(conf, cache, lmBase)
    val (n, nll) = graft.operators.CorpusModels.backoffPplKernel(
      graft.operators.CorpusModels.splitTokens(text), bigrams, vocab, oovFp, alphaFp)
    BigramPplScore(n, nll,
      if (n == 0) 0.0 else nll.toDouble / 1.0e9 / n.toDouble)
  }

  // ------------------------------------------------- multiclass NB probe

  final case class McNbScore(predClass: String, scoreFp: Long)

  /** Single-document multiclass-NB class prediction from a
    * [[graft.operators.CorpusModels.saveMcNbModel]] layout, no Spark —
    * the serving form of the language/domain tagger (tag a document at
    * ingest with the nightly-trained model at driver latency). Same
    * tokenizer, per-class integer sums, OOV routing, and
    * (score desc, class asc) argmax as
    * [[graft.operators.CorpusModels.multiclassNbPredict]] via the ONE
    * shared `mcNbKernel` — doc-for-doc parity + zero Spark jobs
    * spec-pinned. All maps are K·cap-bounded by construction;
    * freshness-keyed caching, as [[scoreNb]]. */
  def scoreMcNb(modelDir: String, text: String,
                conf: Configuration = defaultConf,
                cache: IndexCache = noCache): McNbScore = {
    val base = modelDir.stripSuffix("/")
    val vocab = cache.getOrLoad(freshKey(conf, s"$base/vocab")) {
      val m = mutable.HashMap.empty[String, mutable.HashMap[String, Long]]
      foreachRowGroup(conf, s"$base/vocab", "token", "grp", "logp_fp") { rg =>
        val tokens = rg.strings("token"); val grps = rg.strings("grp")
        val lps = rg.longs("logp_fp")
        var i = 0
        while (i < rg.rows) {
          m.getOrElseUpdate(tokens(i), mutable.HashMap.empty).update(grps(i), lps(i))
          i += 1
        }
      }
      require(m.nonEmpty, s"no vocab rows under $base/vocab")
      m.map { case (t, by) => t -> by.toMap }.toMap
    }
    val classes = cache.getOrLoad(freshKey(conf, s"$base/stats") + "|" +
        freshKey(conf, s"$base/priors")) {
      val oov = mutable.HashMap.empty[String, Long]
      foreachRowGroup(conf, s"$base/stats", "grp", "oov_logp_fp") { rg =>
        oov ++= rg.strings("grp").iterator.zip(rg.longs("oov_logp_fp"))
      }
      val pri = mutable.HashMap.empty[String, Long]
      foreachRowGroup(conf, s"$base/priors", "grp", "prior_fp") { rg =>
        pri ++= rg.strings("grp").iterator.zip(rg.longs("prior_fp"))
      }
      require(oov.nonEmpty, s"no stats rows under $base/stats")
      require(pri.nonEmpty, s"no prior rows under $base/priors")
      // scoreable classes = stats ∩ priors, exactly the batch path's
      // stats-priors inner join; UTF-8 byte order = the batch
      // tie-break (CorpusModels.utf8Ordering)
      oov.keySet.intersect(pri.keySet).toArray
        .sorted(graft.operators.CorpusModels.utf8Ordering)
        .map(g => (g, oov(g), pri(g)))
    }
    require(classes.nonEmpty, s"no scoreable classes under $base")
    val (cls, s) = graft.operators.CorpusModels.mcNbKernel(
      graft.operators.CorpusModels.splitTokens(text), vocab, classes)
    McNbScore(cls, s)
  }

  // ------------------------------------------------------ BPE tokenize probe

  /** Single-string BPE tokenization from a
    * [[graft.operators.Bpe.saveMerges]] layout, no Spark — the
    * tokenize-one-string call a resident server needs (count prompt
    * tokens, pre-tokenize a query) against the nightly-learned merge
    * table. Same whitespace pre-split, same code-point symbol split,
    * same lowest-rank-first merge loop as the batch
    * [[graft.operators.Bpe.encodeColumn]] via the ONE shared
    * `Bpe.encodeWord` kernel — doc-for-doc parity + zero Spark jobs
    * spec-pinned. The ranks map is built from the rows in rank order,
    * exactly `encodeColumn`'s `merges.map(...).toMap` (later rank wins
    * a duplicate pair, not that training can emit one); merge tables
    * are nMerges-bounded by construction. Freshness-keyed caching, as
    * [[scoreNb]]. */
  def encodeBpe(modelDir: String, text: String,
                conf: Configuration = defaultConf,
                cache: IndexCache = noCache): Seq[String] = {
    val base = modelDir.stripSuffix("/")
    val ranks = cache.getOrLoad(freshKey(conf, s"$base/merges")) {
      val rows = mutable.ArrayBuffer.empty[(Int, String, String)]
      foreachRowGroup(conf, s"$base/merges", "rank", "left", "right") { rg =>
        rows ++= rg.ints("rank").iterator.zip(rg.strings("left")).zip(rg.strings("right"))
          .map { case ((r, l), rt) => (r, l, rt) }
      }
      require(rows.nonEmpty, s"no merge rows under $base/merges")
      rows.sortBy(_._1).map { case (r, l, rt) => (l, rt) -> r }.toMap
    }
    if (text == null) Seq.empty[String]
    else text.split(" ").filter(_.nonEmpty).toSeq
      .flatMap(w => graft.operators.Bpe.encodeWord(w, ranks))
  }

  /** Single-string UNIGRAM tokenization from a
    * [[graft.operators.Unigram.saveVocab]] layout, no Spark — the
    * [[encodeBpe]] twin for the other subword family. Same whitespace
    * pre-split and the ONE shared Viterbi kernel
    * (`Unigram.encodeWord`, exact long scores, (score desc, start asc)
    * ties) as the batch `Unigram.encodeColumn` — doc-for-doc parity +
    * zero Spark jobs spec-pinned. Freshness-keyed caching, as
    * [[scoreNb]]. */
  def encodeUnigram(modelDir: String, text: String,
                    maxPieceLen: Int = graft.operators.Unigram.GateMaxPieceLen,
                    conf: Configuration = defaultConf,
                    cache: IndexCache = noCache): Seq[String] = {
    val base = modelDir.stripSuffix("/")
    val pieces = cache.getOrLoad(freshKey(conf, s"$base/unigram_vocab")) {
      val rows = mutable.ArrayBuffer.empty[(String, Long)]
      foreachRowGroup(conf, s"$base/unigram_vocab", "piece", "logp_fp") { rg =>
        rows ++= rg.strings("piece").iterator.zip(rg.longs("logp_fp"))
      }
      require(rows.nonEmpty, s"no vocab rows under $base/unigram_vocab")
      rows.toMap
    }
    if (text == null) Seq.empty[String]
    else text.split(" ").filter(_.nonEmpty).toSeq
      .flatMap(w => graft.operators.Unigram.encodeWord(w, pieces, maxPieceLen))
  }

  /** Single-string WORDPIECE tokenization from a
    * [[graft.operators.WordPiece.saveVocab]] layout, no Spark — the
    * [[encodeBpe]]/[[encodeUnigram]] twin for the third subword
    * family (BERT's). Same whitespace pre-split, the ONE shared greedy
    * longest-match kernel (`WordPiece.encodeWord`, `##` continuations,
    * whole-word `[UNK]` on a miss or past-`maxWordLen` word) as the
    * batch `WordPiece.encodeColumn`, and the scan bound DERIVED from
    * the loaded vocab (`WordPiece.maxMatchLen`) exactly as the batch
    * path derives it — doc-for-doc parity + zero Spark jobs
    * spec-pinned. Freshness-keyed caching, as [[scoreNb]]. */
  def encodeWordPiece(modelDir: String, text: String,
                      maxWordLen: Int = graft.operators.WordPiece.GateMaxWordLen,
                      conf: Configuration = defaultConf,
                      cache: IndexCache = noCache): Seq[String] = {
    val base = modelDir.stripSuffix("/")
    val (vset, maxLen) = cache.getOrLoad(freshKey(conf, s"$base/wordpiece_vocab")) {
      val rows = mutable.ArrayBuffer.empty[String]
      foreachRowGroup(conf, s"$base/wordpiece_vocab", "piece") { rg =>
        rows ++= rg.strings("piece")
      }
      require(rows.nonEmpty, s"no vocab rows under $base/wordpiece_vocab")
      (rows.toSet, graft.operators.WordPiece.maxMatchLen(rows.toSeq))
    }
    if (text == null) Seq.empty[String]
    else text.split(" ").filter(_.nonEmpty).toSeq
      .flatMap(w => graft.operators.WordPiece.encodeWord(w, vset, maxLen, maxWordLen))
  }

  // ------------------------------------------------------------ HNSW probe

  /** Hyper-parameters of a [[graft.operators.Hnsw.saveHnsw]] layout —
    * the one-row `params` file, cache-keyed by dir. */
  private def loadHnswParams(conf: Configuration, cache: IndexCache,
                             base: String): graft.operators.Hnsw.HnswParams =
    cache.getOrLoad(s"$base/params") {
      var p: graft.operators.Hnsw.HnswParams = null
      foreachRowGroup(conf, s"$base/params", "m", "ef_construction", "seed") { rg =>
        if (rg.rows > 0)
          p = graft.operators.Hnsw.HnswParams(rg.ints("m").last,
            rg.ints("ef_construction").last, rg.longs("seed").last)
      }
      require(p != null, s"no params row under $base/params")
      p
    }

  /** Decoded + reconstructed graph of ONE shard directory — the
    * expensive load a resident server caches (the IVF
    * [[loadClusterVecs]] contract: explicit-clear, keyed by dir).
    * Reconstruction is [[graft.operators.Hnsw.HnswGraph.fromRows]],
    * whose entry rule is canonical — the rebuilt graph searches
    * bit-identically to the batch-built one. */
  private def loadHnswShard(conf: Configuration, cache: IndexCache,
                            base: String, shard: Int,
                            params: graft.operators.Hnsw.HnswParams)
      : graft.operators.Hnsw.HnswGraph = {
    val dir = s"$base/graph/shard=$shard"
    cache.getOrLoad(dir) {
      val rows = mutable.ArrayBuffer.empty[graft.operators.Hnsw.GraphRow]
      foreachRowGroup(conf, dir, "vec_id", "level", "layer", "neighbors",
          "embedding", "deleted") { rg =>
        val ids = rg.longs("vec_id"); val levels = rg.ints("level")
        val layers = rg.ints("layer"); val nbrs = rg.longLists("neighbors")
        val embs = rg.floatLists("embedding", nullable = true)
        // pre-tombstone layouts lack the column — default all-live,
        // the same compat rule as Hnsw.loadHnsw
        val del = if (rg.has("deleted")) rg.bools("deleted") else new Array[Boolean](rg.rows)
        var i = 0
        while (i < rg.rows) {
          // a null embedding stays null (not an empty list)
          rows += graft.operators.Hnsw.GraphRow(ids(i), levels(i), layers(i),
            ArraySeq.unsafeWrapArray(nbrs(i)),
            if (embs(i) == null) null else ArraySeq.unsafeWrapArray(embs(i)), del(i))
          i += 1
        }
      }
      graft.operators.Hnsw.HnswGraph.fromRows(rows.toSeq, params)
    }
  }

  /** One hit of [[searchHnsw]]. */
  final case class HnswHit(vecId: Long, shard: Int, dist: Double)

  /** Single-query graph-ANN from a [[graft.operators.Hnsw.saveHnsw]]
    * layout, no Spark — the serving form of the reference's hnswlib
    * query path (`vector_store.py`: Chroma answers one query from its
    * persisted per-segment HNSW). Ranks `nprobe` shards exactly as
    * every IVF probe ([[rankProbesLocal]] over the same centroid
    * schema), reconstructs each probed shard's graph (cached for a
    * resident server), runs the ONE shared ef-beam kernel
    * ([[graft.operators.Hnsw.HnswGraph.search]] — the same code the
    * batch tasks run), and merges by (dist, vec_id) — hit-for-hit
    * parity with the batch `ann_hnsw` rerank spec-pinned. Only the
    * probed `shard=<s>` directories are ever listed or read. */
  def searchHnsw(indexDir: String, query: Array[Float], k: Int, ef: Int,
                 nprobe: Int, conf: Configuration = defaultConf,
                 cache: IndexCache = noCache): Seq[HnswHit] = {
    val base = indexDir.stripSuffix("/")
    val params = loadHnswParams(conf, cache, base)
    val cents = loadCentroids(conf, cache, base)
    // k=1 to the kernel: the beam width must be EXACTLY ef — the
    // batch tasks run g.search(vec, 1, ef), and the kernel widens
    // its layer-0 beam to max(ef, k), so passing k here would give
    // serving a wider candidate set than batch whenever k > ef and
    // silently break the pinned hit-for-hit parity
    mergeShardHits(rankProbesLocal(cents, query, nprobe), k)(c =>
      loadHnswShard(conf, cache, base, c, params).search(query, 1, ef))
  }

  /** The (dist, vec_id) merge of per-shard beam results — shared by
    * [[searchHnsw]] and [[OnlineHnsw.search]], through [[TopK]]. */
  private def mergeShardHits(probes: Seq[Int], k: Int)
                            (shardHits: Int => Seq[(Long, Float)]): Seq[HnswHit] = {
    val top = new TopK[HnswHit](k)
    probes.foreach { c =>
      shardHits(c).foreach { case (id, d) =>
        val key = TopK.asc(d.toDouble)
        if (top.admits(key, id)) top.add(key, id, HnswHit(id, c, d.toDouble))
      }
    }
    top.result
  }

  /** A resident server's ONLINE sharded HNSW: every shard graph held
    * in memory, single-writer inserts routed by nearest centroid —
    * the hnswlib `add_items` + query loop (the reference's segment
    * lives in process and grows per upload), backed by the same
    * persisted layout batch maintains. Inserts here and batch
    * [[graft.operators.Hnsw.appendToShards]] produce the SAME graph
    * when fed the same rows IN ID-ASCENDING ORDER (one shared insert
    * kernel — spec-pinned; the batch append's sort order, and the
    * realistic case since upload ids are monotone counters), so such
    * a server flushes to the nightly batch with no divergence;
    * out-of-order arrival still builds a valid searchable graph, just
    * not the bit-twin ([[graft.operators.Hnsw.fromOnline]]'s
    * contract). Not thread-safe (one writer), like the underlying
    * graphs. */
  final class OnlineHnsw private[Serving] (
      cents: Seq[(Int, Array[Float])],
      shards: mutable.Map[Int, graft.operators.Hnsw.HnswGraph],
      params: graft.operators.Hnsw.HnswParams) {

    // the ASSIGNMENT routing table (cluster-id order) for
    // Ann.nearestCentroid — insert routing must be the f64-argmin
    // kernel batch appendToShards routes with (Ann.assignToIvf), NOT
    // the f32+sqrt probe-RANKING kernel, or a near-tie vector could
    // land in different shards live vs in the nightly batch append
    private val centSorted: Array[(Int, Array[Float])] =
      cents.sortBy(_._1).toArray
    private val centArray: Array[Array[Float]] = centSorted.map(_._2)

    /** Insert one vector into its nearest-centroid shard (the
      * [[graft.operators.Ann.assignToIvf]] kernel — spec-pinned
      * against it); returns the shard it landed in. */
    def insert(id: Long, vec: Array[Float]): Int = {
      val s = centSorted(
        graft.operators.Ann.nearestCentroid(centArray, vec.toSeq))._1
      // single-live-copy invariant ACROSS shards: an id inserted under
      // an older routing table may live in a different shard than the
      // current nearest-centroid one; fresh-inserting there would
      // create a second live copy (search could return the id twice,
      // and delete/batch semantics would fork). The kernel already
      // rejects a live duplicate within one shard — extend the same
      // contract across the bounded shard map.
      shards.foreach { case (os, g) =>
        require(os == s || !g.contains(id) || g.isDeleted(id),
          s"duplicate live insert: id=$id is live in shard $os " +
            s"(currently routed to $s); delete it first")
      }
      shards.getOrElseUpdate(s, new graft.operators.Hnsw.HnswGraph(params))
        .insert(id, vec)
      s
    }

    /** Tombstone one vector — the live form of
      * [[graft.operators.Hnsw.deleteFromShards]] (hnswlib
      * `mark_deleted`; the reference's delete endpoint removes a
      * doc's chunks from the served segment, `vector_store.py`).
      * The owning shard is found by probing the bounded shard map
      * (O(#shards) LongMap lookups — no routing ambiguity: deletes
      * key on identity, not geometry, and an id inserted when the
      * routing table was older may not sit in its current
      * nearest-centroid shard). Returns the shard it was marked in,
      * or None if the id is nowhere LIVE — so a re-delete of an
      * already-dead id is a no-op returning None, and a caller's
      * delete-report can tell deleted-now from already-gone. Flush
      * carries the tombstones ([[graft.operators.Hnsw.fromOnline]]),
      * so a nightly [[graft.operators.Hnsw.compactShards]] reclaims
      * them — parity with the batch tombstone path is
      * HnswSpec-pinned. A later [[insert]] of the same id revives it
      * (the kernel's replace_deleted path) when it routes back to the
      * same shard; if the routing table moved it to a different
      * shard, the old tombstone simply waits for compaction. */
    def delete(id: Long): Option[Int] = {
      // tombstone EVERY live copy — batch deleteFromShards joins on
      // vec_id and marks all of them; the insert invariant keeps live
      // copies unique, but a layout written before the invariant could
      // still carry duplicates, and delete must not serve one back
      val marked = shards.toSeq.sortBy(_._1)
        .filter { case (_, g) => g.contains(id) && !g.isDeleted(id) }
        .map { case (s, g) => g.markDeleted(id); s }
      marked.headOption
    }

    /** Snapshot of the live shard graphs (shard-id order) — the flush
      * surface: [[graft.operators.Hnsw.fromOnline]] materializes it
      * back into a graph frame for `saveHnsw`/`publishModelVersion`.
      * The graphs are the live objects, not copies — flush while no
      * insert is in flight (the single-writer contract). */
    def shardGraphs: Seq[(Int, graft.operators.Hnsw.HnswGraph)] =
      shards.toSeq.sortBy(_._1)

    /** The routing/centroid table (cluster-id order) and params this
      * index serves with — what a flush passes to `saveHnsw`. */
    def centroidTable: Seq[(Int, Array[Float])] = centSorted.toSeq
    def hnswParams: graft.operators.Hnsw.HnswParams = params

    /** Query the live graphs — same probe ranking, ef-beam, and
      * (dist, id) merge as [[searchHnsw]]. */
    def search(query: Array[Float], k: Int, ef: Int,
               nprobe: Int): Seq[HnswHit] = {
      // k=1: beam width exactly ef (see searchHnsw)
      mergeShardHits(rankProbesLocal(cents, query, nprobe), k)(c =>
        shards.get(c).fold(Seq.empty[(Long, Float)])(_.search(query, 1, ef)))
    }
  }

  /** Open a persisted HNSW layout as a live [[OnlineHnsw]]: loads
    * EVERY shard graph into memory (the resident-server assumption —
    * hnswlib's index lives in RAM; shard count × shard size is the
    * capacity plan). Mutations affect only the in-memory state; the
    * persisted layout stays the batch pipeline's property. */
  def openHnsw(indexDir: String,
               conf: Configuration = defaultConf): OnlineHnsw = {
    val base = indexDir.stripSuffix("/")
    val params = loadHnswParams(conf, noCache, base)
    val cents = loadCentroids(conf, noCache, base)
    val graphRoot = new Path(s"$base/graph")
    val fs = graphRoot.getFileSystem(conf)
    val shards = mutable.Map.empty[Int, graft.operators.Hnsw.HnswGraph]
    if (fs.exists(graphRoot)) {
      fs.listStatus(graphRoot).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("shard="))
        .map(_.stripPrefix("shard=").toInt).sorted
        .foreach { s =>
          shards(s) = loadHnswShard(conf, noCache, base, s, params)
        }
    }
    new OnlineHnsw(cents, shards, params)
  }
}
