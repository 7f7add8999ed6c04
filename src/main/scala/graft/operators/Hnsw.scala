package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sharded HNSW graph ANN — the batch-Spark form of the reference's
  * persisted hnswlib segment (reference `vector_db_collections`
  * tree: Chroma persists one hnswlib index per collection segment;
  * `search_engine.py` queries it). A single global HNSW is a
  * sequential, pointer-chasing structure that cannot be built
  * distributively, so this module uses the layout every distributed
  * vector platform actually ships (Lucene/Elasticsearch per-segment
  * HNSW, Milvus per-segment graphs): **one graph per shard**, shards
  * routed by the SAME persisted IVF centroids the `ann_ivf` family
  * searches.
  *
  * Scale analysis (the reason this shape survives 100 TB):
  *   - **Build** is embarrassingly parallel — one task per shard,
  *     memory bounded by the largest shard (the IVF partitioner sizes
  *     shards; re-fit with more clusters if a shard outgrows an
  *     executor). No global state, no driver materialization.
  *   - **Search** prunes to `nprobe` shards via the k-row broadcast
  *     centroid table (the corpus never shuffles); each probed shard
  *     answers from its graph in O(ef·log n) distance evaluations
  *     instead of a full scan; the merge is nprobe·ef rows per query.
  *   - **Append** routes new vectors to their nearest shard and
  *     inserts into that shard's graph only — no global rebuild (the
  *     hnswlib `add_items` contract), and untouched shards' rows are
  *     carried through byte-identical.
  *
  * Determinism contract (what makes an *approximate* graph index
  * gate-able): node levels are a pure hash of (id, seed) — no RNG
  * state; insertion order within a shard is id-ascending; every
  * candidate ordering ties on (f32 distance, id). Two builds of the
  * same corpus are therefore row-identical, and the serving-side
  * probe ([[graft.serving.Serving.searchHnsw]]) reconstructs the
  * exact batch graph — spec-pinned in HnswSpec.
  *
  * Distances are the [[graft.functions.EuclideanDistF32]] kernel
  * (f32 accumulation, double-rounded sqrt) — bit-equal to DuckDB
  * `list_distance`, so an exact rerank over the emitted candidate
  * set is replayable by the SQL oracle (the ann_ivfpq handoff
  * pattern). Inputs must be finite: NaN/Inf distances would poison
  * the greedy ordering, so [[HnswGraph.insert]] rejects them
  * (the gate corpora are finite by construction).
  */
object Hnsw {

  /** Graph hyper-parameters. `m` is the max out-degree on layers > 0
    * (layer 0 allows 2m, the hnswlib default); `efConstruction` the
    * build-time beam width; `seed` feeds the level hash. `mL` is the
    * paper's level normalizer 1/ln(m). */
  final case class HnswParams(m: Int = 8, efConstruction: Int = 64,
                              seed: Long = 42L) {
    require(m >= 2, s"m must be >= 2, got $m")
    require(efConstruction >= 1, s"efConstruction must be >= 1")
    val mMax0: Int = 2 * m
    // StrictMath: ln is not bitwise-portable across JVM intrinsics
    // (the Bm25 rule), and levels are determinism-critical STRUCTURE —
    // a 1-ulp log divergence between hosts would fork append==rebuild
    val mL: Double = 1.0 / StrictMath.log(m.toDouble)
  }

  /** splitmix64 finalizer — the stateless hash behind [[levelOf]]. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic node level: floor(−ln(u)·mL) with u ∈ (0, 1]
    * derived from mix64(id ⊕ seed) — the paper's exponential level
    * distribution without any RNG state, so a node's level is a pure
    * function of its id and the graph seed (append and rebuild can
    * never disagree about it). Capped at 30: P(level ≥ 30) < m⁻³⁰,
    * and the cap bounds the per-node layer array. */
  def levelOf(id: Long, params: HnswParams): Int = {
    val u = ((mix64(id ^ params.seed) >>> 11) + 1).toDouble / 9007199254740992.0
    math.min(30, math.floor(-StrictMath.log(u) * params.mL).toInt)
  }

  /** One exported adjacency row: a node appears once per layer it
    * occupies; `embedding` rides ONLY the layer-0 row (every node has
    * exactly one), so the persisted graph is self-contained without
    * duplicating vectors per layer. `deleted` is the hnswlib
    * `mark_deleted` tombstone — a dead node keeps its links and keeps
    * routing traversals, it just never enters a result set; the flag
    * rides every row of the node so a persisted shard can be filtered
    * on it without a layer-0 self-join. */
  final case class GraphRow(vec_id: Long, level: Int, layer: Int,
                            neighbors: Seq[Long], embedding: Seq[Float],
                            deleted: Boolean = false)

  // ------------------------------------------------------------------
  // In-memory shard graph — the ONE kernel shared by the mapPartitions
  // batch build, the batch search tasks, and the serving probe, so
  // batch==serve parity is structural rather than re-implemented.
  // ------------------------------------------------------------------

  /** A single shard's HNSW graph. Mutable by design: this is also the
    * ONLINE structure a resident server inserts into
    * ([[graft.serving.Serving.openHnsw]]). Not thread-safe — one
    * writer, the hnswlib contract. */
  final class HnswGraph(val params: HnswParams) {
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private val lvls = mutable.ArrayBuffer.empty[Int]
    // adj(node)(layer) — neighbor NODE indexes, unordered
    private val adj = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private val idToNode = mutable.LongMap.empty[Int]
    private val dead = mutable.BitSet.empty
    private var entry: Int = -1

    def size: Int = ids.length
    def liveSize: Int = ids.length - dead.size
    def contains(id: Long): Boolean = idToNode.contains(id)
    def isDeleted(id: Long): Boolean =
      idToNode.get(id).exists(dead.contains)

    /** Tombstone one node — the hnswlib `mark_deleted` contract: the
      * node keeps its adjacency and keeps routing searches (removing
      * a hub would strand its neighborhood), but no search result
      * ever contains it. Idempotent; returns false iff the id is not
      * in this shard (callers route deletes by scanning their bounded
      * shard set — [[graft.serving.Serving.OnlineHnsw.delete]]). */
    def markDeleted(id: Long): Boolean = idToNode.get(id) match {
      case Some(n) => dead += n; true
      case None    => false
    }

    /** The EuclideanDistF32 kernel: f32 accumulation, double-rounded
      * sqrt — bit-equal to the codegen'd expression and DuckDB
      * `list_distance`. */
    private def dist(a: Array[Float], b: Array[Float]): Float = {
      val n = math.min(a.length, b.length)
      var acc = 0.0f; var i = 0
      while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
      math.sqrt(acc.toDouble).toFloat
    }

    /** (dist, id) ascending — the one comparison every ordering in
      * this graph uses (ties to the lower id, the repo-wide rule). */
    private def closer(d1: Float, i1: Int, d2: Float, i2: Int): Boolean =
      d1 < d2 || (d1 == d2 && ids(i1) < ids(i2))

    /** Greedy best-first beam over one layer from entry points `eps`:
      * the paper's SEARCH-LAYER with a bounded result set of `ef`.
      * `accept` gates RESULT membership only — rejected nodes (the
      * tombstoned ones, at layer 0 of a query search) are still
      * visited, enqueued, and expanded, exactly hnswlib's
      * mark_deleted traversal: a dead hub keeps routing the beam to
      * its live neighborhood, and the result set still fills to ef
      * LIVE candidates instead of shrinking by the dead ones. The
      * construction path accepts everything (dead nodes stay linkable
      * neighbors — removing them would strand their neighborhoods).
      * Returns (nodeIdx, dist) sorted by (dist, id) asc. */
    private def searchLayer(q: Array[Float], eps: Seq[Int], ef: Int,
                            layer: Int, accept: Int => Boolean = _ => true)
        : mutable.ArrayBuffer[(Int, Float)] = {
      val visited = mutable.BitSet.empty
      // candidates: min-first by (dist, id); results: max-first
      val candOrd = new Ordering[(Int, Float)] {
        def compare(a: (Int, Float), b: (Int, Float)): Int =
          if (closer(a._2, a._1, b._2, b._1)) 1
          else if (closer(b._2, b._1, a._2, a._1)) -1 else 0
      }
      val cands = mutable.PriorityQueue.empty[(Int, Float)](candOrd)
      val results = mutable.PriorityQueue.empty[(Int, Float)](candOrd.reverse)
      eps.foreach { ep =>
        if (!visited(ep)) {
          visited += ep
          val d = dist(q, vecs(ep))
          cands.enqueue((ep, d))
          if (accept(ep)) results.enqueue((ep, d))
        }
      }
      while (cands.nonEmpty) {
        val (c, cd) = cands.dequeue()
        if (results.size >= ef &&
            !closer(cd, c, results.head._2, results.head._1)) {
          cands.clear() // every remaining candidate is farther still
        } else {
          val nbrs = adj(c)(layer)
          var i = 0
          while (i < nbrs.length) {
            val n = nbrs(i)
            if (!visited(n)) {
              visited += n
              val d = dist(q, vecs(n))
              if (results.size < ef || closer(d, n, results.head._2, results.head._1)) {
                cands.enqueue((n, d))
                if (accept(n)) {
                  results.enqueue((n, d))
                  if (results.size > ef) results.dequeue()
                }
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Int, Float)]
      out ++= results
      out.sortInPlace()(new Ordering[(Int, Float)] {
        def compare(a: (Int, Float), b: (Int, Float)): Int =
          if (closer(a._2, a._1, b._2, b._1)) -1
          else if (closer(b._2, b._1, a._2, a._1)) 1 else 0
      })
      out
    }

    /** Greedy single-path descent on one layer (ef=1 special case of
      * the paper — the upper-layer navigation step). `exclude` keeps
      * the descent off a node being relinked (a REVIVED node can be
      * reachable through stale one-way inbound edges left by mMax
      * shrinks, sits at distance 0 of its own new vector, and has an
      * empty adjacency — stepping onto it would strand the descent). */
    private def greedyStep(q: Array[Float], ep: Int, layer: Int,
                           exclude: Int = -1): Int = {
      var cur = ep
      var curD = dist(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val nbrs = adj(cur)(layer)
        var i = 0
        while (i < nbrs.length) {
          val n = nbrs(i)
          if (n != exclude) {
            val d = dist(q, vecs(n))
            if (closer(d, n, curD, cur)) { cur = n; curD = d; improved = true }
          }
          i += 1
        }
      }
      cur
    }

    /** Insert one vector. SELECT-NEIGHBORS-SIMPLE (the paper's simple
      * variant — M nearest by (dist, id)) rather than the pruning
      * heuristic: simple selection is order-deterministic and its
      * recall at the gate's shard sizes is indistinguishable
      * (spec-measured ≥ 0.9); bidirectional links shrink back to
      * mMax by the same comparison.
      *
      * Re-inserting a TOMBSTONED id revives it — the hnswlib
      * `replace_deleted` shape (the reference lifecycle is
      * delete_document then re-upload, `vector_store.py`): the dead
      * node's slot is reused (its hashed level is a pure function of
      * the id, so the level cannot change), its old links are fully
      * unstitched (backlinks removed — nothing routes to it until it
      * relinks), the vector is replaced, and the node relinks through
      * the ONE fresh-insert link phase. A revived graph is valid and
      * searchable but not the bit-twin of a never-deleted build — the
      * same documented contract as out-of-order append. Re-inserting
      * a LIVE id is still an error: silent vector replacement of a
      * live node would fork batch/serve twins that already served it. */
    def insert(id: Long, vec: Array[Float]): Unit = {
      require(!idToNode.contains(id) || isDeleted(id),
        s"duplicate hnsw insert of a live id: id=$id")
      var i = 0
      while (i < vec.length) {
        require(!vec(i).isNaN && !vec(i).isInfinite,
          s"non-finite embedding component at id=$id dim=$i")
        i += 1
      }
      val lvl = levelOf(id, params)
      val node = idToNode.get(id) match {
        case Some(n) => // revive: unstitch the dead node, reuse its slot
          dead -= n
          var layer = 0
          while (layer <= lvl) {
            adj(n)(layer).foreach { nb => adj(nb)(layer) -= n }
            adj(n)(layer).clear()
            layer += 1
          }
          vecs(n) = vec
          // the revived node may BE the entry; re-seat it on the best
          // OTHER node so the relink descent below never starts from
          // the unlinked node itself (single-node graph: keep it)
          if (entry == n && ids.length > 1) {
            var best = -1; var b = 0
            while (b < ids.length) {
              if (b != n && (best < 0 || lvls(b) > lvls(best) ||
                  (lvls(b) == lvls(best) && ids(b) < ids(best)))) best = b
              b += 1
            }
            entry = best
          }
          n
        case None =>
          val n = ids.length
          ids += id; vecs += vec; lvls += lvl
          adj += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
          idToNode(id) = n
          n
      }
      if (entry < 0 || entry == node) { entry = node; return }

      // the relink must never select the node ITSELF: a revived node
      // can still be REACHED through stale one-way inbound edges (an
      // mMax shrink drops X from adj(n) but leaves n in adj(X)), and
      // its replaced vector puts it at distance 0 of the insert query
      // — unexcluded, it would pick itself as its own nearest
      // neighbor, self-link, and relink every lower layer to nothing
      var ep = entry
      var layer = lvls(entry)
      while (layer > lvl) {
        ep = greedyStep(vec, ep, layer, exclude = node); layer -= 1
      }
      layer = math.min(lvl, lvls(entry))
      while (layer >= 0) {
        val cands = searchLayer(vec, Seq(ep), params.efConstruction, layer,
          accept = _ != node)
        val cap = if (layer == 0) params.mMax0 else params.m
        val selected = cands.take(params.m)
        selected.foreach { case (n, _) =>
          adj(node)(layer) += n
          val back = adj(n)(layer)
          back += node
          if (back.length > cap) {
            // shrink: keep the cap nearest to n by (dist, id)
            val scored = back.map(b => (b, dist(vecs(n), vecs(b))))
              .sortWith((a, b) => closer(a._2, a._1, b._2, b._1))
            back.clear()
            back ++= scored.take(cap).map(_._1)
          }
        }
        ep = cands.head._1
        layer -= 1
      }
      // canonical entry rule — (max level, tie lowest id) — applied
      // on EVERY mutation path, so a live graph and its
      // export/reconstruct twin can never disagree about the entry
      // even when an append inserts a lower id at the top level
      if (lvl > lvls(entry) || (lvl == lvls(entry) && id < ids(entry)))
        entry = node
    }

    /** ef-beam search: descend the upper layers greedily from the
      * entry point, then one SEARCH-LAYER at layer 0 with
      * ef = max(ef, k). Returns up to ef (id, dist) candidates in
      * (dist, id) order — the candidate set a caller reranks or
      * truncates to k. */
    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Float)] = {
      // same finiteness contract as insert: a NaN query makes every
      // comparison false and the beam degenerates to arbitrary
      // BFS-order picks — fail loudly instead of returning garbage
      var qi = 0
      while (qi < q.length) {
        require(!q(qi).isNaN && !q(qi).isInfinite,
          s"non-finite query component at dim=$qi")
        qi += 1
      }
      if (entry < 0) return Seq.empty
      var ep = entry
      var layer = lvls(entry)
      while (layer > 0) { ep = greedyStep(q, ep, layer); layer -= 1 }
      // layer-0 beam excludes tombstoned nodes from RESULTS only —
      // they still route (greedyStep above may even navigate through
      // a dead entry point), so the ef live candidates come back at
      // full strength after deletes (no post-hoc shrinkage)
      searchLayer(q, Seq(ep), math.max(ef, k), 0,
          accept = n => !dead.contains(n))
        .map { case (n, d) => (ids(n), d) }.toSeq
    }

    /** Export the graph as persistable rows (neighbor ids, embedding
      * on the layer-0 row only). Row order: (vec_id, layer) asc —
      * deterministic, so build-twice row equality is exact. */
    def exportRows: Seq[GraphRow] = {
      val out = mutable.ArrayBuffer.empty[GraphRow]
      ids.indices.sortBy(ids(_)).foreach { n =>
        var layer = 0
        while (layer <= lvls(n)) {
          out += GraphRow(ids(n), lvls(n), layer,
            adj(n)(layer).map(ids(_)).sorted.toSeq,
            if (layer == 0) vecs(n).toSeq else null,
            dead.contains(n))
          layer += 1
        }
      }
      out.toSeq
    }
  }

  object HnswGraph {
    /** Reconstruct a shard graph from exported rows. The entry point
      * is (max level, then lowest id) — EXACTLY the state id-ascending
      * insertion leaves behind (entry moves only on a strictly greater
      * level), so a reconstructed graph continues inserting/searching
      * bit-identically to the one that was exported. */
    def fromRows(rows: Seq[GraphRow], params: HnswParams): HnswGraph = {
      val g = new HnswGraph(params)
      val byId = rows.groupBy(_.vec_id)
      val order = byId.keys.toArray.sorted
      // first pass: nodes (id-ascending, the build order)
      order.foreach { id =>
        val level = byId(id).head.level
        val emb = byId(id).find(_.layer == 0)
          .getOrElse(sys.error(s"hnsw row set for id=$id has no layer-0 row"))
          .embedding
        g.ids += id
        g.vecs += emb.toArray
        g.lvls += level
        g.adj += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
        g.idToNode(id) = g.ids.length - 1
      }
      // second pass: adjacency via the id→node map; tombstones ride
      // every row of a node, so any row restores the flag
      rows.foreach { r =>
        val n = g.idToNode(r.vec_id)
        g.adj(n)(r.layer) ++= r.neighbors.map(g.idToNode(_))
        if (r.deleted) g.dead += n
      }
      // entry: max level, tie lowest id == the id-asc insertion result
      if (g.ids.nonEmpty) {
        var best = 0
        var i = 1
        while (i < g.ids.length) {
          if (g.lvls(i) > g.lvls(best) ||
              (g.lvls(i) == g.lvls(best) && g.ids(i) < g.ids(best))) best = i
          i += 1
        }
        g.entry = best
      }
      g
    }
  }

  // ------------------------------------------------------------------
  // Batch build / search / append (Spark)
  // ------------------------------------------------------------------

  /** Persisted/graph-frame schema: shard + [[GraphRow]]. */
  val graphSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("level", IntegerType, nullable = false),
    StructField("layer", IntegerType, nullable = false),
    StructField("neighbors", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = true),
    StructField("deleted", BooleanType, nullable = false)))

  /** Hard per-shard node bound, ENFORCED (fail-fast) in [[buildShards]]
    * and [[appendToShards]] — the "re-fit with more clusters if a shard
    * outgrows an executor" scaladoc promise as code, not a comment. A
    * skewed IVF cell (a hot duplicate cluster is the realistic 100 TB
    * case) would otherwise silently concentrate one task's heap until
    * it OOMs mid-build. The default (2M nodes ≈ 0.5–1 GB of graph +
    * vectors at d=64–128) trips well before a typical executor heap
    * does; the remedy is a policy decision the TASK cannot take —
    * re-fit the IVF with more clusters (the [[Ann.refitIfDrifted]]
    * shape) or dedup the hot cell — so the guard fails loudly with
    * that instruction instead of auto-splitting into shards no
    * centroid routes to. */
  val DefaultMaxShardRows: Int = 2000000

  private def shardBoundError(shard: Int, n: Int, bound: Int): Nothing =
    throw new IllegalStateException(
      s"HNSW shard $shard exceeds maxShardRows=$bound (>= $n nodes): the " +
        "IVF cell is too hot for one executor — re-fit the routing index " +
        "with more clusters (Ann.refitIfDrifted policy) or dedup the cell, " +
        "then rebuild")

  /** Build one HNSW graph per shard. `assigned` must carry
    * (`shardCol` int, `idCol` long, `embCol` array<float>) — the
    * [[Ann.IvfIndex.assigned]] frame is the intended input, so graph
    * shards coincide with IVF routing cells. One exchange co-locates
    * each shard; insertion order within a shard is id-ascending
    * (sortWithinPartitions), making the build deterministic. Shard
    * graph memory is O(rows·(d + m·avgLevels)) — the IVF partitioner
    * bounds it and [[DefaultMaxShardRows]] enforces the bound
    * (fail-fast on the first row past it, before the oversized graph
    * is materialized). */
  def buildShards(assigned: DataFrame, params: HnswParams,
                  shardCol: String = "ivf_cluster",
                  embCol: String = "embedding",
                  idCol: String = "vec_id",
                  maxShardRows: Int = DefaultMaxShardRows): DataFrame = {
    require(maxShardRows >= 1, s"maxShardRows must be >= 1, got $maxShardRows")
    val spark = assigned.sparkSession
    val slim = assigned.select(
        col(shardCol).cast("int").as("shard"),
        col(idCol).cast("long").as("vec_id"),
        col(embCol).as("embedding"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("vec_id"))
    val rdd = slim.rdd.mapPartitions { rows =>
      // partitions may hold several shards (hash exchange): build one
      // graph per run of equal shard (rows arrive shard-sorted). The
      // output iterator is LAZY per shard, so peak task memory is ONE
      // live graph + its export — the documented largest-shard bound —
      // not every shard hashed into the partition.
      val it = rows.buffered
      new Iterator[Row] {
        private var cur: Iterator[Row] = Iterator.empty
        private def advance(): Unit =
          while (!cur.hasNext && it.hasNext) {
            val shard = it.head.getInt(0)
            val g = new HnswGraph(params)
            var n = 0
            while (it.hasNext && it.head.getInt(0) == shard) {
              val r = it.next()
              n += 1
              if (n > maxShardRows) shardBoundError(shard, n, maxShardRows)
              g.insert(r.getLong(1), r.getSeq[Float](2).toArray)
            }
            cur = g.exportRows.iterator.map(e =>
              Row(shard, e.vec_id, e.level, e.layer, e.neighbors,
                e.embedding, e.deleted))
          }
        def hasNext: Boolean = { advance(); cur.hasNext }
        def next(): Row = { advance(); cur.next() }
      }
    }
    spark.createDataFrame(rdd, graphSchema)
  }

  /** One routed batch query: `shards` is its probe set (from
    * [[Ann.rankProbes]] over the same centroids that sharded the
    * build). */
  final case class HnswQuery(queryId: Long, vec: Array[Float],
                             shards: Seq[Int])

  /** The probed slice of a graph frame, shard-collated for the search
    * tasks — factored out so PlanSpec-style tests can pin that the
    * shard filter reaches the persisted layout as a PARTITION filter
    * (unprobed `shard=` directories are never listed or read). */
  private[graft] def probedSlim(graph: DataFrame, wanted: Seq[Int]): DataFrame =
    graph
      .filter(col("shard").isin(wanted.map(Integer.valueOf): _*))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("vec_id"), col("layer"))

  /** Batch ef-search over a sharded graph frame. Queries broadcast
    * (bounded: a query batch, not a corpus); only the shards some
    * query probes are read at all — on the [[saveHnsw]] layout that
    * filter is partition pruning ([[probedSlim]], spec-pinned), so
    * unprobed shards cost nothing. Emits the per-shard candidate
    * streams (query_id, shard, vec_id, dist) — ≤ nprobe·ef rows per
    * query; callers exact-rerank to k (the handoff the SQL oracle
    * replays). `dist` is already the exact f32 Euclidean kernel. */
  def searchShards(graph: DataFrame, queries: Seq[HnswQuery], ef: Int,
                   params: HnswParams): DataFrame = {
    val spark = graph.sparkSession
    val wanted = queries.flatMap(_.shards).distinct
    val bcQueries = spark.sparkContext.broadcast(queries)
    val slim = probedSlim(graph, wanted)
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("shard", IntegerType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    val si = slim.schema.fieldIndex("shard")
    val ii = slim.schema.fieldIndex("vec_id")
    val li = slim.schema.fieldIndex("level")
    val yi = slim.schema.fieldIndex("layer")
    val ni = slim.schema.fieldIndex("neighbors")
    val ei = slim.schema.fieldIndex("embedding")
    val di = slim.schema.fieldIndex("deleted")
    val rdd = slim.rdd.mapPartitions { rows =>
      val out = mutable.ArrayBuffer.empty[Row]
      var curShard = Int.MinValue
      var buf = mutable.ArrayBuffer.empty[GraphRow]
      def flush(): Unit = if (buf.nonEmpty) {
        val qs = bcQueries.value.filter(_.shards.contains(curShard))
        if (qs.nonEmpty) {
          val g = HnswGraph.fromRows(buf.toSeq, params)
          qs.foreach { q =>
            g.search(q.vec, 1, ef).foreach { case (id, d) =>
              out += Row(q.queryId, curShard, id, d.toDouble)
            }
          }
        }
        buf = mutable.ArrayBuffer.empty[GraphRow]
      }
      rows.foreach { r =>
        val s = r.getInt(si)
        if (s != curShard) { flush(); curShard = s }
        buf += GraphRow(r.getLong(ii), r.getInt(li), r.getInt(yi),
          r.getSeq[Long](ni),
          if (r.isNullAt(ei)) null else r.getSeq[Float](ei),
          r.getBoolean(di))
      }
      flush()
      out.iterator
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Incremental append: insert `newAssigned` (same shape as the
    * build input — routed via [[Ann.assignToIvf]]) into the existing
    * graph frame WITHOUT a global rebuild. Shards receiving no new
    * rows pass through untouched (their exported rows are
    * reconstruction-stable — spec-pinned); touched shards reconstruct,
    * insert the new ids in ascending order, and re-export. This is
    * the hnswlib `add_items` maintenance path: cost scales with the
    * touched shards, not the corpus. */
  def appendToShards(graph: DataFrame, newAssigned: DataFrame,
                     params: HnswParams,
                     shardCol: String = "ivf_cluster",
                     embCol: String = "embedding",
                     idCol: String = "vec_id",
                     maxShardRows: Int = DefaultMaxShardRows): DataFrame = {
    require(maxShardRows >= 1, s"maxShardRows must be >= 1, got $maxShardRows")
    val spark = graph.sparkSession
    // the touched shard set is ≤ #centroids — a k-row driver collect.
    // Untouched shards NEVER enter the exchange: their rows pass
    // through as a plain filter (this is what makes append cost scale
    // with the touched shards, not the corpus).
    val touched = newAssigned.select(col(shardCol).cast("int").as("shard"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return graph
    val touchedVals = touched.map(Integer.valueOf)
    val untouched = graph.filter(!col("shard").isin(touchedVals: _*))
    // tag: kind 0 = existing graph row, kind 1 = new vector
    val existing = graph.filter(col("shard").isin(touchedVals: _*))
      .select(col("shard"), col("vec_id"), col("level"),
        col("layer"), col("neighbors"), col("embedding"),
        col("deleted"), lit(0).as("kind"))
    val incoming = newAssigned.select(
      col(shardCol).cast("int").as("shard"),
      col(idCol).cast("long").as("vec_id"),
      lit(-1).as("level"), lit(-1).as("layer"),
      typedLit(Seq.empty[Long]).as("neighbors"),
      col(embCol).as("embedding"), lit(false).as("deleted"),
      lit(1).as("kind"))
    val slim = existing.unionByName(incoming)
      .repartition(col("shard"))
      // new rows sort AFTER existing graph rows within a shard
      .sortWithinPartitions(col("shard"), col("kind"), col("vec_id"),
        col("layer"))
    val rdd = slim.rdd.mapPartitions { rows =>
      // lazy per shard, as buildShards: one reconstructed graph live
      val it = rows.buffered
      new Iterator[Row] {
        private var cur: Iterator[Row] = Iterator.empty
        private def advance(): Unit =
          while (!cur.hasNext && it.hasNext) {
            val shard = it.head.getInt(0)
            val buf = mutable.ArrayBuffer.empty[GraphRow]
            val fresh = mutable.ArrayBuffer.empty[(Long, Array[Float])]
            while (it.hasNext && it.head.getInt(0) == shard) {
              val r = it.next()
              if (r.getInt(7) == 0)
                buf += GraphRow(r.getLong(1), r.getInt(2), r.getInt(3),
                  r.getSeq[Long](4),
                  if (r.isNullAt(5)) null else r.getSeq[Float](5),
                  r.getBoolean(6))
              else fresh += ((r.getLong(1), r.getSeq[Float](5).toArray))
            }
            val g = HnswGraph.fromRows(buf.toSeq, params)
            fresh.sortInPlace()(Ordering.by[(Long, Array[Float]), Long](_._1))
            // append path honors the same hot-cell bound as the build:
            // counted over NODES (existing graph + incoming), checked
            // before the oversized graph is grown
            if (g.size + fresh.length > maxShardRows)
              shardBoundError(shard, g.size + fresh.length, maxShardRows)
            fresh.foreach { case (id, v) => g.insert(id, v) }
            cur = g.exportRows.iterator.map(e =>
              Row(shard, e.vec_id, e.level, e.layer, e.neighbors,
                e.embedding, e.deleted))
          }
        def hasNext: Boolean = { advance(); cur.hasNext }
        def next(): Row = { advance(); cur.next() }
      }
    }
    untouched.unionByName(spark.createDataFrame(rdd, graphSchema))
  }

  // ------------------------------------------------------------------
  // Persistence (the serving probe reads this layout)
  // ------------------------------------------------------------------

  /** Persist a sharded graph: `dir/centroids` (the routing table,
    * [[Ann.centroidsDf]] schema), `dir/graph/shard=<s>` (partitioned
    * so both batch partition pruning and the serving probe's
    * directory-scoped reads work), `dir/params` (one row — m,
    * ef_construction, seed — so load/append can never run with
    * mismatched hyper-parameters). */
  def saveHnsw(graph: DataFrame, centroids: Array[Array[Float]],
               params: HnswParams, dir: String): Unit = {
    val spark = graph.sparkSession
    Ann.centroidsDf(spark, centroids, "cluster_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
        Seq(Row(params.m, params.efConstruction, params.seed)).asJava,
        StructType(Seq(
          StructField("m", IntegerType, nullable = false),
          StructField("ef_construction", IntegerType, nullable = false),
          StructField("seed", LongType, nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    graph.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$dir/graph")
  }

  /** A loaded index handle: the lazily-read graph frame plus the
    * routing/centroid table and hyper-parameters. */
  final case class HnswIndex(graph: DataFrame,
                             centroids: Array[Array[Float]],
                             params: HnswParams)

  def loadHnsw(spark: SparkSession, dir: String): HnswIndex = {
    val cents = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("cluster_id")).collect()
      .map(_.getSeq[Float](1).toArray)
    val p = spark.read.parquet(s"$dir/params").head()
    // layouts persisted before the tombstone column exist in the wild
    // (any saveHnsw dir from an earlier version, incl. the streaming
    // maintenance chain's previous published version) — default them
    // to all-live instead of failing the column resolution
    val raw = spark.read.parquet(s"$dir/graph")
    val withDeleted =
      if (raw.columns.contains("deleted")) raw
      else raw.withColumn("deleted", lit(false))
    HnswIndex(
      withDeleted
        .select(col("shard").cast("int").as("shard"), col("vec_id"),
          col("level"), col("layer"), col("neighbors"), col("embedding"),
          col("deleted")),
      cents,
      HnswParams(p.getInt(p.fieldIndex("m")),
        p.getInt(p.fieldIndex("ef_construction")),
        p.getLong(p.fieldIndex("seed"))))
  }

  /** Route a query to its `nprobe` shards — the one [[Ann.rankProbes]]
    * contract (f32 sqrt-rounded centroid distance, ties to the lower
    * cluster id), shared with every IVF path. */
  def route(index: HnswIndex, q: Array[Float], nprobe: Int): Seq[Int] =
    Ann.rankProbes(index.centroids, q, nprobe)

  /** Materialize a resident server's live shard graphs
    * ([[graft.serving.Serving.OnlineHnsw.shardGraphs]]) as a graph
    * frame — the server-side flush that hands in-memory state back to
    * the batch pipeline ([[saveHnsw]] / `publishModelVersion`).
    *
    * Parity contract — SAME ROWS IN THE SAME ORDER: online inserts
    * run the one shared insert kernel and assignment router, so a
    * flush equals the [[appendToShards]] that would have ingested the
    * same rows iff the server received them id-ascending per shard
    * (the batch append's sort order; also the realistic case — upload
    * ids are monotone counters). Out-of-order arrivals still produce
    * a VALID, searchable, reconstruction-stable graph (HnswSpec pins
    * this) — it is just not the bit-twin of the batch append, because
    * HNSW structure is inherently insertion-order dependent; both
    * orders' graphs serve the same corpus with the same recall
    * contract. Driver-bounded by the online index size — the
    * resident-server capacity plan, not a corpus. */
  def fromOnline(spark: SparkSession,
                 shards: Seq[(Int, HnswGraph)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows: Seq[Row] = shards.sortBy(_._1).flatMap { case (s, g) =>
      g.exportRows.map(r =>
        Row(s, r.vec_id, r.level, r.layer, r.neighbors, r.embedding,
          r.deleted))
    }
    spark.createDataFrame(rows.asJava, graphSchema)
  }

  // ------------------------------------------------------------------
  // Delete (tombstone) + compaction — the rest of the index lifecycle
  // ------------------------------------------------------------------

  /** Tombstone a set of vector ids across the sharded graph — the
    * batch form of hnswlib `mark_deleted` (reference
    * `vector_store.py:delete_document`: Chroma removes a document's
    * chunks from its persisted segment; the graph answer is a flag
    * flip, not a structural rewrite). A pure column update: NO shard
    * reconstructs by it. The join strategy is deliberately LEFT TO
    * THE PLANNER — no broadcast hint: an API-call-sized delete batch
    * sits under the auto-broadcast threshold (and AQE re-plans on the
    * runtime size), while a corpus-proportional delete set — which a
    * forced hint would OOM the driver on — degrades to a correct
    * shuffle join, an acceptable one-off for a maintenance-scale
    * delete. Ids absent from the graph are ignored (the delete-report
    * query family already accounts success/failure at the chunk-store
    * level). Dead nodes keep routing searches; [[compactShards]]
    * reclaims them once a shard's dead fraction crosses threshold. */
  def deleteFromShards(graph: DataFrame, deleteIds: DataFrame,
                       idCol: String = "vec_id"): DataFrame = {
    val del =
      deleteIds.select(col(idCol).cast("long").as("vec_id")).distinct()
        .withColumn("__dead", lit(true))
    graph.join(del, Seq("vec_id"), "left")
      .withColumn("deleted", col("deleted") || coalesce(col("__dead"), lit(false)))
      .drop("__dead")
      .select(col("shard"), col("vec_id"), col("level"), col("layer"),
        col("neighbors"), col("embedding"), col("deleted"))
  }

  /** Reclaim tombstoned nodes: every shard whose dead fraction is
    * ≥ `minDeadFrac` REBUILDS from its live rows (id-ascending
    * insertion — so a compacted shard is bit-identical to
    * [[buildShards]] over the survivors, spec-pinned); every other
    * shard passes through untouched, tombstones intact. This is the
    * Lucene segment-merge shape: reclamation cost scales with the
    * doomed shards, not the corpus, and the doomed-shard set is a
    * ≤ #centroids driver collect exactly like [[appendToShards]]'s
    * touched set. */
  def compactShards(graph: DataFrame, params: HnswParams,
                    minDeadFrac: Double = 0.2): DataFrame = {
    require(minDeadFrac > 0.0 && minDeadFrac <= 1.0,
      s"minDeadFrac must be in (0, 1], got $minDeadFrac")
    // r17-opt (guide §5 caching rule — reused AND expensive to
    // recompute): the incoming graph frame is typically a parquet
    // read + tombstone join and feeds THREE consumers here (the
    // dead-fraction agg, the untouched pass-through, the rebuild
    // input) — persist once, released at the query boundary.
    val g = graph.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val doomed = g.filter(col("layer") === 0)
      .groupBy(col("shard"))
      .agg((sum(when(col("deleted"), 1L).otherwise(0L)) /
        count(lit(1))).as("frac"))
      .filter(col("frac") >= minDeadFrac)
      .select(col("shard")).collect().map(_.getInt(0)).toSeq.sorted
    Dedup.releaseAfterUse(g)
    if (doomed.isEmpty) return g
    val doomedVals = doomed.map(Integer.valueOf)
    val untouched = g.filter(!col("shard").isin(doomedVals: _*))
    // survivors' layer-0 rows are a full (id, embedding) corpus slice
    // for the rebuild — the same input shape buildShards takes
    val rebuilt = buildShards(
      g.filter(col("shard").isin(doomedVals: _*))
        .filter(col("layer") === 0 && !col("deleted"))
        .select(col("shard"), col("vec_id"), col("embedding")),
      params, shardCol = "shard")
    untouched.unionByName(rebuilt)
  }
}
