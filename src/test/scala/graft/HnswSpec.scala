package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Hnsw, VectorSearch}
import graft.operators.Hnsw.{HnswGraph, HnswParams, HnswQuery}
import graft.serving.Serving

/** Sharded-HNSW spec: determinism (the property that makes a graph
  * index gate-able), measured recall against exact brute force,
  * reconstruction stability, batch==serve==online parity, and the
  * insert-kernel edge cases. */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private val P = HnswParams()

  private def emb = Tables.embeddings(spark, sfDir)

  private def qvec(id: Long): Array[Float] =
    emb.filter($"vec_id" === id).select("embedding")
      .head().getSeq[Float](0).toArray

  /** All vectors as (id, vec), id-ascending. */
  private def allVecs: Seq[(Long, Array[Float])] =
    emb.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  private def exactTopK(q: Array[Float], k: Int): Seq[Long] =
    VectorSearch.topKWithScore(emb, q.toSeq, k, VectorSearch.Euclidean)
      .select("vec_id").as[Long].collect().toSeq

  /** Single-shard frame: every vector in shard 0 (isolates graph
    * quality from routing). */
  private def singleShard = emb.withColumn("shard0", lit(0))

  test("levelOf: deterministic, capped, and exponentially distributed") {
    val lvls = (0L until 2000L).map(Hnsw.levelOf(_, P))
    assert(lvls === (0L until 2000L).map(Hnsw.levelOf(_, P)))
    assert(lvls.max <= 30)
    // ~1/m of nodes at level >= 1, within loose bounds
    val frac = lvls.count(_ >= 1).toDouble / lvls.length
    assert(frac > 0.03 && frac < 0.35, s"level>=1 fraction $frac")
    // a different seed reshuffles levels
    assert((0L until 2000L).map(Hnsw.levelOf(_, HnswParams(seed = 7L))) !== lvls)
  }

  test("maxShardRows fail-fasts on a planted hot cell, build AND append paths") {
    // planted hot cell: every vector routed to shard 0
    val hot = singleShard
    intercept[org.apache.spark.SparkException] {
      Hnsw.buildShards(hot, P, shardCol = "shard0", maxShardRows = 3).count()
    }.getMessage // the wrapped IllegalStateException carries the remedy
    // same corpus under the bound builds fine
    val n = emb.count().toInt
    val graph = Hnsw.buildShards(hot, P, shardCol = "shard0",
      maxShardRows = n)
    assert(graph.select($"vec_id").distinct().count() === n.toLong)
    // append path: the EXISTING nodes + incoming must fit the bound
    val fresh = Seq((900001L, Seq.fill(qvec(0L).length)(0.25f), 0))
      .toDF("vec_id", "embedding", "shard0")
    intercept[org.apache.spark.SparkException] {
      Hnsw.appendToShards(graph, fresh, P, shardCol = "shard0",
        maxShardRows = n).count()
    }
    val ok = Hnsw.appendToShards(graph, fresh, P, shardCol = "shard0",
      maxShardRows = n + 1)
    assert(ok.select($"vec_id").distinct().count() === (n + 1).toLong)
    // the guard names the remedy (refit policy) in its message
    val e = intercept[org.apache.spark.SparkException] {
      Hnsw.buildShards(hot, P, shardCol = "shard0", maxShardRows = 1).count()
    }
    assert(e.getMessage.contains("maxShardRows") ||
      Option(e.getCause).exists(_.getMessage.contains("maxShardRows")))
  }

  test("buildShards is deterministic: two builds, identical rows") {
    def rows() = Hnsw.buildShards(singleShard, P, shardCol = "shard0")
      .orderBy($"vec_id", $"layer")
      .select($"vec_id", $"level", $"layer", $"neighbors")
      .as[(Long, Int, Int, Seq[Long])].collect().toSeq
    assert(rows() === rows())
  }

  test("single-shard ef-beam recall@10 >= 0.9 vs exact brute force") {
    val graph = Hnsw.buildShards(singleShard, P, shardCol = "shard0")
    val qs = allVecs.take(20)
      .map { case (id, v) => HnswQuery(id, v, Seq(0)) }
    val cands = Hnsw.searchShards(graph, qs, ef = 64, P)
      .select($"query_id", $"vec_id", $"dist")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1)
    val recalls = qs.map { q =>
      val approx = cands(q.queryId).sortBy(c => (c._3, c._2)).take(10).map(_._2).toSet
      val exact = exactTopK(q.vec, 10).toSet
      (exact & approx).size.toDouble / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall@10 $mean (per-query: $recalls)")
  }

  test("export/reconstruct round-trip is stable (untouched-shard pass-through)") {
    val g = new HnswGraph(P)
    allVecs.take(100).foreach { case (id, v) => g.insert(id, v) }
    val rows = g.exportRows
    val g2 = HnswGraph.fromRows(rows, P)
    assert(g2.exportRows === rows)
    // and the reconstruction searches bit-identically
    val q = qvec(3)
    assert(g2.search(q, 10, 32) === g.search(q, 10, 32))
  }

  test("append == fresh build when ids arrive in the same order") {
    // id-ascending appends continue the exact insertion sequence a
    // fresh full build would have executed — graphs must be identical
    val vecs = allVecs.take(120)
    val full = new HnswGraph(P)
    vecs.foreach { case (id, v) => full.insert(id, v) }
    val base = new HnswGraph(P)
    vecs.take(80).foreach { case (id, v) => base.insert(id, v) }
    val resumed = HnswGraph.fromRows(base.exportRows, P)
    vecs.drop(80).foreach { case (id, v) => resumed.insert(id, v) }
    assert(resumed.exportRows === full.exportRows)
  }

  test("batch searchShards == Serving.searchHnsw == OnlineHnsw (hit parity)") {
    withTempDir("hnsw-serve") { dir =>
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val graph = Hnsw.buildShards(index.assigned, P)
      Hnsw.saveHnsw(graph, index.centroids, P, dir.getPath)
      val idx = Hnsw.loadHnsw(spark, dir.getPath)
      for (qid <- Seq(0L, 5L, 17L)) {
        val q = qvec(qid)
        val probes = Hnsw.route(idx, q, 4)
        val batch = Hnsw.searchShards(idx.graph,
            Seq(HnswQuery(qid, q, probes)), ef = 32, P)
          .select($"vec_id", $"dist").as[(Long, Double)].collect()
          .sortBy(h => (h._2, h._1)).take(10).toSeq
        val served = Serving.searchHnsw(dir.getPath, q, k = 10, ef = 32,
          nprobe = 4).map(h => (h.vecId, h.dist))
        assert(served === batch, s"serve!=batch for query $qid")
        val online = Serving.openHnsw(dir.getPath)
          .search(q, k = 10, ef = 32, nprobe = 4).map(h => (h.vecId, h.dist))
        assert(online === batch, s"online!=batch for query $qid")
      }
    }
  }

  test("appendToShards: untouched shards byte-identical, appended ids searchable") {
    val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
    val graph = Hnsw.buildShards(index.assigned, P)
    val newRows = emb.where($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding")
    val appended = Hnsw.appendToShards(graph, Ann.assignToIvf(index, newRows), P)
    // every appended id present at layer 0
    val newIds = appended.filter($"vec_id" >= 1000000 && $"layer" === 0)
      .select("vec_id").as[Long].collect().toSet
    val expected = emb.where($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000).as("v")).as[Long].collect().toSet
    assert(newIds === expected)
    // shards that received no appends carry through row-identical
    val touched = appended.filter($"vec_id" >= 1000000)
      .select("shard").distinct().as[Int].collect().toSet
    val before = graph.filter(!$"shard".isin(touched.toSeq.map(Integer.valueOf): _*))
      .orderBy($"vec_id", $"layer")
      .select($"shard", $"vec_id", $"level", $"layer", $"neighbors")
      .as[(Int, Long, Int, Int, Seq[Long])].collect().toSeq
    val after = appended.filter(!$"shard".isin(touched.toSeq.map(Integer.valueOf): _*))
      .orderBy($"vec_id", $"layer")
      .select($"shard", $"vec_id", $"level", $"layer", $"neighbors")
      .as[(Int, Long, Int, Int, Seq[Long])].collect().toSeq
    assert(after === before)
    // a search near an appended twin surfaces BOTH twins (dist ties
    // break to the lower id, so the original ranks first)
    val q = qvec(0)
    val probes = Ann.rankProbes(index.centroids, q, 4)
    val hits = Hnsw.searchShards(appended, Seq(HnswQuery(0L, q, probes.toSeq)),
        ef = 32, P)
      .select($"vec_id", $"dist").as[(Long, Double)].collect()
      .sortBy(h => (h._2, h._1)).take(10).map(_._1).toSeq
    assert(hits.take(2) === Seq(0L, 1000000L))
  }

  test("OnlineHnsw.insert routes exactly as batch assignToIvf (f64 argmin kernel)") {
    withTempDir("hnsw-online") { dir =>
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val graph = Hnsw.buildShards(index.assigned, P)
      Hnsw.saveHnsw(graph, index.centroids, P, dir.getPath)
      val online = Serving.openHnsw(dir.getPath)
      // live-insert routing must agree with the nightly batch append's
      // router (Ann.assignToIvf) on every vector — the flush-to-batch
      // no-divergence contract
      val sample = allVecs.take(32)
      val sampleDf = sample.map { case (id, v) => (id + 9000000L, v.toSeq) }
        .toDF("vec_id", "embedding")
      val expected = Ann.assignToIvf(index, sampleDf)
        .select($"vec_id", $"ivf_cluster").as[(Long, Int)].collect().toMap
      sample.foreach { case (id, v) =>
        assert(online.insert(id + 9000000L, v) === expected(id + 9000000L),
          s"online routing diverged from assignToIvf for source id $id")
      }
      // and an insert is immediately searchable: exact twin of vec 7
      // (inserted above as 9000007) — original first on the dist tie
      val v7 = qvec(7)
      val hits = online.search(v7, k = 2, ef = 32, nprobe = 4).map(_.vecId)
      assert(hits === Seq(7L, 9000007L))
    }
  }

  test("searchShards on the persisted layout prunes unprobed shard partitions") {
    withTempDir("hnsw-prune") { dir =>
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val graph = Hnsw.buildShards(index.assigned, P)
      Hnsw.saveHnsw(graph, index.centroids, P, dir.getPath)
      val idx = Hnsw.loadHnsw(spark, dir.getPath)
      val q = qvec(0)
      val probes = Hnsw.route(idx, q, 2)
      // the exact frame searchShards consumes (the RDD boundary hides
      // it from the outer plan): its shard filter must reach the scan
      // as a PARTITION filter — unprobed shard directories are never
      // listed or read (the file-pruning half of the 100 TB story)
      val slim = Hnsw.probedSlim(idx.graph, probes)
      val phys = slim.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan // current physical tree (post-EnsureRequirements)
        case p => p
      }
      val scans = phys.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "expected a parquet scan under probedSlim")
      val pf = scans.head.partitionFilters.mkString(";")
      assert(pf.contains("shard"),
        s"shard probe filter did not reach partition pruning: $pf")
      // and the pruned scan actually selects only the probed dirs
      assert(scans.head.relation.location.listFiles(
          scans.head.partitionFilters, scans.head.dataFilters)
        .flatMap(_.files).forall { f =>
          probes.exists(p => f.getPath.toString.contains(s"/shard=$p/"))
        })
    }
  }

  test("OnlineHnsw flush (fromOnline) == the batch append over the same rows") {
    withTempDir("hnsw-flush") { dir =>
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val graph = Hnsw.buildShards(index.assigned, P)
      Hnsw.saveHnsw(graph, index.centroids, P, dir.getPath)
      val online = Serving.openHnsw(dir.getPath)
      val slice = allVecs.take(20)
        .map { case (id, v) => (id + 4000000L, v) }
      slice.foreach { case (id, v) => online.insert(id, v) }
      val flushed = Hnsw.fromOnline(spark, online.shardGraphs)
      val newRows = slice.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
      val batch = Hnsw.appendToShards(graph, Ann.assignToIvf(index, newRows), P)
      // embedding included (md5 of the joined floats): a flush that
      // dropped or mis-mapped the layer-0 embedding would corrupt the
      // persisted lifecycle hop this parity exists to protect
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select($"shard", $"vec_id", $"level", $"layer",
          concat_ws(",", $"neighbors").as("nbrs"),
          coalesce(md5(to_json($"embedding")), lit("null")).as("emb_sig"))
        .as[(Int, Long, Int, Int, String, String)].collect().toSeq.sorted
      assert(rows(flushed) === rows(batch))
      assert(online.hnswParams === P)
      assert(online.centroidTable.map(_._1) === index.centroids.indices.toSeq)
    }
  }

  test("out-of-id-order online inserts still build a valid, searchable graph") {
    // the fromOnline parity contract requires id-ascending arrival;
    // DESCENDING arrival must still yield a correct index (every
    // vector self-findable, round-trip stable) — just not the
    // bit-twin of the batch append
    val g = new HnswGraph(P)
    val vecs = allVecs.take(50).reverse // descending ids
    vecs.foreach { case (id, v) => g.insert(id, v) }
    vecs.foreach { case (id, v) =>
      assert(g.search(v, 1, 32).head._1 === id, s"self-search missed $id")
    }
    val g2 = HnswGraph.fromRows(g.exportRows, P)
    assert(g2.exportRows === g.exportRows)
  }

  test("searchShards/probedSlim with no queries or empty probe sets are empty, not errors") {
    val graph = Hnsw.buildShards(singleShard, P, shardCol = "shard0")
    assert(Hnsw.searchShards(graph, Seq.empty, ef = 16, P).count() === 0)
    assert(Hnsw.searchShards(graph,
      Seq(HnswQuery(0L, qvec(0), Seq.empty)), ef = 16, P).count() === 0)
    assert(Hnsw.probedSlim(graph, Seq.empty).count() === 0)
  }

  test("buildShards takes ragged embeddings: a pair compares over the dims both have") {
    val ragged = Seq((0, 1L, Seq(0f, 0f, 0f)), (0, 2L, Seq(1f, 1f)),
      (0, 3L, Seq(3f, 0f, 5f)), (0, 4L, Seq(0.5f)))
      .toDF("shard0", "vec_id", "embedding")
    val graph = Hnsw.buildShards(ragged, P, shardCol = "shard0")
    assert(graph.select($"vec_id").distinct().count() === 4L)
    val hits = Hnsw.searchShards(graph, Seq(HnswQuery(0L, Array(1f, 0f), Seq(0))),
        ef = 16, P)
      .select($"vec_id", $"dist").as[(Long, Double)].collect().sortBy(h => (h._2, h._1))
    // prefixes of the query (1, 0): id 4 over 1 dim, ids 1-3 over 2
    assert(hits.toSeq === Seq((4L, 0.5), (1L, 1.0), (2L, 1.0), (3L, 2.0)))
  }

  test("search rejects non-finite queries (same contract as insert)") {
    val g = new HnswGraph(P)
    g.insert(1L, Array(1f, 0f))
    intercept[IllegalArgumentException] { g.search(Array(Float.NaN, 0f), 5, 16) }
    intercept[IllegalArgumentException] {
      g.search(Array(0f, Float.NegativeInfinity), 5, 16)
    }
  }

  test("appendToShards: untouched passthrough adds no exchange to the plan") {
    val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
    val graph = Hnsw.buildShards(index.assigned, P)
    val newRows = emb.where($"vec_id" % 50 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding")
    val appended = Hnsw.appendToShards(graph, Ann.assignToIvf(index, newRows), P)
    // the touched branch's shard exchange lives behind its RDD
    // boundary; the OUTER plan — untouched filter + union — must be
    // exchange-free, i.e. untouched shards' rows never shuffle
    val plan = appended.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"untouched passthrough introduced a shuffle:\n$plan")
  }

  test("markDeleted: tombstones never surface, dead hubs still route, beam stays full") {
    val g = new HnswGraph(P)
    allVecs.take(100).foreach { case (id, v) => g.insert(id, v) }
    val q = qvec(0)
    val before = g.search(q, 10, 32).map(_._1)
    assert(before.head === 0L) // self-query: vec 0 is its own NN
    // tombstone the top-3 — including the query's own vector, the
    // nearest possible "hub" for this beam
    before.take(3).foreach(id => assert(g.markDeleted(id)))
    assert(g.isDeleted(before.head))
    assert(g.liveSize === 97)
    val after = g.search(q, 10, 32).map(_._1)
    // no deleted id in the results, and the beam still FILLS to the
    // same ef-many LIVE candidates as before (in-kernel filtering,
    // not a post-hoc shrink that would hand the reranker 3 fewer)
    assert(after.toSet.intersect(before.take(3).toSet).isEmpty)
    assert(after.length === before.length)
    // the live survivors of the old beam are all still found — the
    // dead nodes kept routing the beam through their neighborhood
    assert(before.drop(3).forall(after.contains))
    // idempotent; unknown id is a no-op returning false
    assert(g.markDeleted(before.head))
    assert(!g.markDeleted(424242L))
  }

  test("re-insert revives a tombstoned id (replace_deleted); live duplicate still errors") {
    val g = new HnswGraph(P)
    allVecs.take(100).foreach { case (id, v) => g.insert(id, v) }
    val q = qvec(0)
    // a live duplicate insert is still a hard error — silent vector
    // replacement of a served node would fork batch/serve twins
    intercept[IllegalArgumentException] { g.insert(0L, q) }
    g.markDeleted(0L)
    assert(!g.search(q, 10, 32).map(_._1).contains(0L))
    // revive with a NEW vector: the node relinks and surfaces again
    val moved = q.clone(); moved(0) += 0.25f
    g.insert(0L, moved)
    assert(!g.isDeleted(0L))
    assert(g.liveSize === 100)
    val hits = g.search(moved, 10, 32).map(_._1)
    assert(hits.contains(0L), "revived id never resurfaced")
    // the revived graph still round-trips (export carries no stale flag)
    val g2 = HnswGraph.fromRows(g.exportRows, P)
    assert(!g2.isDeleted(0L))
    assert(g2.search(moved, 10, 32) === g.search(moved, 10, 32))
  }

  test("same-vector revive through stale inbound edges: no self-links, " +
    "no duplicate neighbors, node stays searchable") {
    // a TIGHT cluster forces constant mMax shrinks, which leave stale
    // one-way inbound edges (X keeps n after adj(n) dropped X); the
    // reference lifecycle then deletes and re-uploads the SAME
    // embedding — distance 0 of the relink query, the exact shape
    // that made the pre-fix relink select the node as its own
    // neighbor and strand its lower layers
    val g = new HnswGraph(P)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(rnd.nextFloat())
    val vecsById = (0L until 200L).map { id =>
      id -> base.map(x => x + rnd.nextFloat() * 1e-3f)
    }
    vecsById.foreach { case (id, v) => g.insert(id, v) }
    Seq(3L, 57L, 111L, 199L).foreach { id =>
      val v = vecsById(id.toInt)._2
      g.markDeleted(id)
      g.insert(id, v) // revive with the IDENTICAL vector
      assert(!g.isDeleted(id))
      val hits = g.search(v, 5, 32).map(_._1)
      assert(hits.contains(id), s"revived id $id lost from its own NN set")
    }
    g.exportRows.foreach { r =>
      assert(!r.neighbors.contains(r.vec_id),
        s"self-link on ${r.vec_id} layer ${r.layer}")
      assert(r.neighbors.distinct.size === r.neighbors.size,
        s"duplicate neighbors on ${r.vec_id} layer ${r.layer}")
      if (r.layer == 0 && g.liveSize > 1)
        assert(r.neighbors.nonEmpty,
          s"stranded node ${r.vec_id}: empty layer-0 adjacency")
    }
  }

  test("revive of a tombstoned ENTRY node re-seats and relinks correctly") {
    val g = new HnswGraph(P)
    val vs = allVecs.take(60)
    vs.foreach { case (id, v) => g.insert(id, v) }
    // find the current entry: the kernel's canonical rule is
    // (max level, tie lowest id) — recompute it from levelOf
    val entryId = vs.map(_._1)
      .maxBy(id => (Hnsw.levelOf(id, P), -id))
    g.markDeleted(entryId)
    val vec = vs.find(_._1 == entryId).get._2
    g.insert(entryId, vec) // revive the entry node itself
    assert(!g.isDeleted(entryId))
    val hits = g.search(vec, 10, 32).map(_._1)
    assert(hits.head === entryId, "revived entry is its own NN again")
    // every other node is still reachable through the revived graph
    val q = qvec(17)
    assert(g.search(q, 10, 32).nonEmpty)
  }

  test("delete survives export/reconstruct and the online flush") {
    val g = new HnswGraph(P)
    allVecs.take(60).foreach { case (id, v) => g.insert(id, v) }
    g.markDeleted(0L); g.markDeleted(7L)
    val g2 = HnswGraph.fromRows(g.exportRows, P)
    assert(g2.isDeleted(0L) && g2.isDeleted(7L))
    assert(g2.exportRows === g.exportRows)
    val q = qvec(0)
    assert(g2.search(q, 10, 32) === g.search(q, 10, 32))
    assert(!g2.search(q, 10, 32).map(_._1).contains(0L))
    // fromOnline materializes the flag into the frame
    val flushed = Hnsw.fromOnline(spark, Seq((0, g)))
    val deadRows = flushed.filter($"deleted" && $"layer" === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(deadRows === Set(0L, 7L))
  }

  test("deleteFromShards: pure flag flip, no structural change, search filters") {
    val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
    val graph = Hnsw.buildShards(index.assigned, P)
    val delIds = emb.where($"vec_id" % 5 === 0).select($"vec_id")
    // an id the graph has never held is ignored, not an error
    val tomb = Hnsw.deleteFromShards(graph,
      delIds.union(Seq(424242424L).toDF("vec_id")))
    // structure untouched: same rows modulo the deleted column
    def structure(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"vec_id", $"layer")
      .select($"shard", $"vec_id", $"level", $"layer",
        concat_ws(",", $"neighbors").as("nbrs"))
      .as[(Int, Long, Int, Int, String)].collect().toSeq
    assert(structure(tomb) === structure(graph))
    val nDead = tomb.filter($"deleted" && $"layer" === 0).count()
    assert(nDead === delIds.count())
    // search never returns a tombstoned id
    val q = qvec(0)
    val probes = Ann.rankProbes(index.centroids, q, 4)
    val hits = Hnsw.searchShards(tomb, Seq(HnswQuery(0L, q, probes.toSeq)),
        ef = 32, P)
      .select("vec_id").as[Long].collect().toSeq
    assert(hits.nonEmpty && hits.forall(_ % 5 != 0))
  }

  test("compactShards: doomed shard == fresh build of survivors; others untouched") {
    val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
    val graph = Hnsw.buildShards(index.assigned, P)
    // kill 30% of ids in shard 0 only — it crosses a 0.2 threshold,
    // every other shard stays below and must pass through untouched
    val inShard0 = graph.filter($"shard" === 0 && $"layer" === 0)
      .select("vec_id").as[Long].collect().sorted
    val doomedIds = inShard0.take(math.max(1, (inShard0.length * 0.3).toInt))
    val tomb = Hnsw.deleteFromShards(graph,
      doomedIds.toSeq.toDF("vec_id"))
    val compacted = Hnsw.compactShards(tomb, P, minDeadFrac = 0.2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"shard", $"vec_id", $"layer")
      .select($"shard", $"vec_id", $"level", $"layer",
        concat_ws(",", $"neighbors").as("nbrs"), $"deleted")
      .as[(Int, Long, Int, Int, String, Boolean)].collect().toSeq
    // shard 0 after compaction == a fresh deterministic build over its
    // survivors (id-ascending insertion makes this EXACT)
    val survivors = tomb.filter($"shard" === 0 && $"layer" === 0 && !$"deleted")
      .select($"shard", $"vec_id", $"embedding")
    val fresh = Hnsw.buildShards(survivors, P, shardCol = "shard")
    assert(rows(compacted.filter($"shard" === 0)) === rows(fresh))
    // no tombstone survives in the compacted shard
    assert(compacted.filter($"shard" === 0 && $"deleted").count() === 0)
    // every other shard passes through bit-identical, tombstones intact
    assert(rows(compacted.filter($"shard" =!= 0)) ===
      rows(tomb.filter($"shard" =!= 0)))
    // under-threshold call is the identity
    assert(rows(Hnsw.compactShards(tomb, P, minDeadFrac = 0.5)) === rows(tomb))
  }

  test("OnlineHnsw.delete == batch tombstone path (serve parity after deletes)") {
    withTempDir("hnsw-del-serve") { dir =>
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val graph = Hnsw.buildShards(index.assigned, P)
      Hnsw.saveHnsw(graph, index.centroids, P, dir.getPath)
      val delIds = emb.where($"vec_id" % 5 === 0)
        .select("vec_id").as[Long].collect().toSeq.sorted
      // batch: flag flip on the frame
      val tomb = Hnsw.deleteFromShards(graph, delIds.toDF("vec_id"))
      // online: per-id live deletes against the loaded server
      val online = Serving.openHnsw(dir.getPath)
      delIds.foreach { id =>
        assert(online.delete(id).isDefined, s"online delete missed $id")
      }
      assert(online.delete(999999L).isEmpty)
      // re-delete of an already-dead id: no-op returning None — the
      // delete-report distinction between deleted-now and already-gone
      assert(online.delete(delIds.head).isEmpty)
      for (qid <- Seq(0L, 5L, 17L)) {
        val q = qvec(qid)
        val probes = Hnsw.route(Hnsw.HnswIndex(tomb, index.centroids, P), q, 4)
        val batch = Hnsw.searchShards(tomb, Seq(HnswQuery(qid, q, probes)),
            ef = 32, P)
          .select($"vec_id", $"dist").as[(Long, Double)].collect()
          .sortBy(h => (h._2, h._1)).take(10).toSeq
        val served = online.search(q, k = 10, ef = 32, nprobe = 4)
          .map(h => (h.vecId, h.dist))
        assert(served === batch, s"online-delete serve != batch for query $qid")
        assert(batch.forall(_._1 % 5 != 0))
      }
      // flush carries the tombstones back to the batch pipeline
      val flushed = Hnsw.fromOnline(spark, online.shardGraphs)
      val flushedDead = flushed.filter($"deleted" && $"layer" === 0)
        .select("vec_id").as[Long].collect().toSeq.sorted
      assert(flushedDead === delIds)
    }
  }

  test("appendToShards re-ingests a tombstoned id (delete then re-upload)") {
    val graph = Hnsw.buildShards(singleShard, P, shardCol = "shard0")
    val tomb = Hnsw.deleteFromShards(graph, Seq(0L).toDF("vec_id"))
    val v0 = qvec(0)
    val reIngest = Seq((0, 0L, v0.toSeq)).toDF("shard0", "vec_id", "embedding")
    // before the revive path this threw inside the append task
    val appended = Hnsw.appendToShards(tomb, reIngest, P,
      shardCol = "shard0")
    assert(appended.filter($"deleted" && $"layer" === 0).count() === 0)
    val hits = Hnsw.searchShards(appended,
        Seq(HnswQuery(0L, v0, Seq(0))), ef = 32, P)
      .select("vec_id").as[Long].collect().toSeq
    assert(hits.contains(0L), "re-ingested id not searchable")
  }

  test("persisted tombstones serve: saveHnsw round-trip keeps deletes") {
    withTempDir("hnsw-del-persist") { dir =>
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val graph = Hnsw.buildShards(index.assigned, P)
      val tomb = Hnsw.deleteFromShards(graph,
        emb.where($"vec_id" % 5 === 0).select($"vec_id"))
      Hnsw.saveHnsw(tomb, index.centroids, P, dir.getPath)
      val q = qvec(0)
      val served = Serving.searchHnsw(dir.getPath, q, k = 10, ef = 32,
        nprobe = 4)
      assert(served.nonEmpty && served.forall(_.vecId % 5 != 0))
      // and the reloaded frame searches identically to the live one
      val idx = Hnsw.loadHnsw(spark, dir.getPath)
      val probes = Hnsw.route(idx, q, 4)
      def top(g: org.apache.spark.sql.DataFrame) =
        Hnsw.searchShards(g, Seq(HnswQuery(0L, q, probes)), ef = 32, P)
          .select($"vec_id", $"dist").as[(Long, Double)].collect()
          .sortBy(h => (h._2, h._1)).take(10).toSeq
      assert(top(idx.graph) === top(tomb))
      assert(served.map(h => (h.vecId, h.dist)) === top(idx.graph))
    }
  }

  test("insert kernel edge cases: duplicates, non-finite, empty search") {
    val g = new HnswGraph(P)
    assert(g.search(Array(1f, 2f), 5, 16) === Seq.empty)
    g.insert(1L, Array(1f, 0f))
    intercept[IllegalArgumentException] { g.insert(1L, Array(0f, 1f)) }
    intercept[IllegalArgumentException] { g.insert(2L, Array(Float.NaN, 0f)) }
    intercept[IllegalArgumentException] {
      g.insert(3L, Array(Float.PositiveInfinity, 0f))
    }
    // k larger than the graph: every node returned, closest first
    g.insert(4L, Array(0f, 1f))
    assert(g.search(Array(1f, 0f), 10, 16).map(_._1) === Seq(1L, 4L))
  }
}
