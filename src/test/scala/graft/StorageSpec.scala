package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.HashingEmbedder
import graft.operators.{Ann, ChunkStore, TextChunker}

/** Storage-layout specs: the parts of the 100 TB story that are
  * observable at test scale — partition pruning on the IVF layout,
  * delete-as-rewrite round trip. */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("IVF layout: partitionBy(ivf_cluster) scan prunes at the file level") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 8)
    val dir = tmpDir("ivf")
    idx.assigned.write.mode("overwrite").partitionBy("ivf_cluster").parquet(dir)
    val reread = spark.read.parquet(dir).filter($"ivf_cluster".isin(0, 1))
    val p = reread.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("ivf_cluster"),
      "cluster predicate must prune partitions:\n" + p)
    // pruned scan reads only the probed clusters
    val probed = reread.count()
    val expected = idx.assigned.filter($"ivf_cluster".isin(0, 1)).count()
    assert(probed === expected)
  }

  test("IVF save/load round trip: persisted index answers like the fitted one") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Ann.buildIvf(emb, numClusters = 8)
    val dir = tmpDir("ivf-save")
    Ann.saveIvf(idx, dir)
    val loaded = Ann.loadIvf(spark, dir)
    assert(loaded.centroids.length === 8)
    val q = emb.filter($"vec_id" === 3).select($"embedding").head().getSeq[Float](0)
    val a = Ann.searchIvf(idx, q, 10, nprobe = 8).select($"vec_id").as[Long].collect().toSeq
    val b = Ann.searchIvf(loaded, q, 10, nprobe = 8).select($"vec_id").as[Long].collect().toSeq
    assert(a === b)
    // persisted corpus reads prune by cluster partition
    val p = loaded.assigned.filter($"ivf_cluster" === 0)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("ivf_cluster"), p)
  }

  test("delete-by-doc as rewrite: parquet round trip preserves survivors exactly") {
    val docs = Tables.documents(spark, sfDir).orderBy("doc_id").limit(40)
    val store = ChunkStore.dualWrite(
      HashingEmbedder.withEmbedding(
        TextChunker.chunkDocuments(docs), "content"), "strategy_documents")
    val dir = tmpDir("store")
    store.write.mode("overwrite").partitionBy("collection").parquet(dir)

    val loaded = spark.read.parquet(dir)
    val survivors = ChunkStore.deleteDocument(loaded, 7L,
      Some(Seq("strategy_documents", "master")))
    val dir2 = tmpDir("store2")
    survivors.write.mode("overwrite").partitionBy("collection").parquet(dir2)

    val after = spark.read.parquet(dir2)
    assert(after.filter($"doc_id" === 7L).isEmpty)
    assert(after.count() === loaded.count() - loaded.filter($"doc_id" === 7L).count())
    // non-victim rows fully intact (anti-join both ways is empty)
    val expected = loaded.filter($"doc_id" =!= 7L).select($"doc_id", $"chunk_index", $"collection")
    val actual = after.select($"doc_id", $"chunk_index", $"collection")
    assert(expected.exceptAll(actual).isEmpty && actual.exceptAll(expected).isEmpty)
  }

  test("bucketed tables co-locate the join: no Exchange in the join plan") {
    // the 100 TB co-located-join story (SURVEY §4): two tables bucketed
    // on the join key join WITHOUT a shuffle — bucket layout replaces
    // the exchange. Observable at any scale via the plan.
    val emb = Tables.embeddings(spark, sfDir)
    emb.select($"vec_id", $"label").write
      .bucketBy(8, "vec_id").sortBy("vec_id")
      .mode("overwrite").saveAsTable("emb_meta_b")
    emb.select($"vec_id", $"embedding").write
      .bucketBy(8, "vec_id").sortBy("vec_id")
      .mode("overwrite").saveAsTable("emb_vec_b")
    // force the shuffle-join path (the tables are tiny, so the planner
    // would otherwise broadcast and skip bucketing entirely); bucketed
    // scans must then satisfy the join's distribution with NO exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("emb_meta_b").join(spark.table("emb_vec_b"), "vec_id")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" + p)
      assert(p.contains("SortMergeJoin"), p)
      assert(joined.count() === emb.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS emb_meta_b")
      spark.sql("DROP TABLE IF EXISTS emb_vec_b")
    }
  }

  test("compactParquet: many small files -> few, rows preserved exactly") {
    import graft.operators.Maintenance
    val dir = tmpDir("compact") + "/table"
    val df = Tables.documents(spark, sfDir).limit(200)
    df.repartition(40).write.parquet(dir) // fragment into 40 small files
    val (filesBefore, _) = Maintenance.fileStats(spark, dir)
    assert(filesBefore >= 30)
    val rows = Maintenance.compactParquet(spark, dir, targetBytes = 64L * 1024 * 1024)
    assert(rows === 200)
    val (filesAfter, _) = Maintenance.fileStats(spark, dir)
    assert(filesAfter <= 2, s"expected compaction, got $filesAfter files")
    assert(spark.read.parquet(dir).count() === 200)
  }

  test("compactParquet: interrupted swap auto-restores from __old") {
    import graft.operators.Maintenance
    val dir = tmpDir("restore") + "/table"
    Tables.documents(spark, sfDir).limit(50).write.parquet(dir)
    // simulate a crash between the two swap renames: table moved aside
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    assert(Maintenance.restoreIfInterrupted(spark, dir))
    assert(spark.read.parquet(dir).count() === 50)
    // idempotent when nothing to restore
    assert(!Maintenance.restoreIfInterrupted(spark, dir))
    // and compactParquet itself restores before compacting
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old"))
    assert(Maintenance.compactParquet(spark, dir) === 50)
    assert(spark.read.parquet(dir).count() === 50)
  }

  test("compactParquetVersioned: atomic pointer swap — mid-swap reader still succeeds") {
    import graft.operators.Maintenance
    val dir = tmpDir("versioned") + "/table"
    Tables.documents(spark, sfDir).limit(50).repartition(20).write.parquet(dir)
    // first call migrates flat -> v1 + pointer (the one offline step)
    assert(Maintenance.compactParquetVersioned(spark, dir) === 50)
    assert(Maintenance.resolveCurrent(spark, dir).endsWith("/v1"))
    assert(spark.read.parquet(Maintenance.resolveCurrent(spark, dir)).count() === 50)
    // a reader PLANNED against the pre-swap resolution (simulates one
    // in flight while the next compaction swaps underneath it)
    val inFlight = spark.read.parquet(Maintenance.resolveCurrent(spark, dir))
    assert(Maintenance.compactParquetVersioned(spark, dir) === 50)
    assert(Maintenance.resolveCurrent(spark, dir).endsWith("/v2"))
    // v1 is retained one cycle, so the in-flight reader still succeeds
    assert(inFlight.count() === 50)
    // the pointer file always exists — there is no non-existence window
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_current")))
    // third cycle retires v1 (older than previous) but keeps v2
    assert(Maintenance.compactParquetVersioned(spark, dir) === 50)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(dirs === Array("v2", "v3"), s"got ${dirs.mkString(",")}")
    assert(spark.read.parquet(Maintenance.resolveCurrent(spark, dir)).count() === 50)
  }

  test("compactParquetVersioned: two concurrent compactors claim distinct versions") {
    import graft.operators.Maintenance
    val dir = tmpDir("concurrent") + "/table"
    Tables.documents(spark, sfDir).limit(40).repartition(8).write.parquet(dir)
    Maintenance.compactParquetVersioned(spark, dir) // migrate -> v1
    // two compactors racing from the same observed state; the claim
    // protocol must hand them DISTINCT version dirs (no co-writes)
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val results = (1 to 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          Maintenance.compactParquetVersioned(spark, dir, retainPrevious = 10)
        }
      })
    }
    gate.countDown()
    assert(results.map(_.get()).toSet === Set(40L))
    pool.shutdown()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
    // both rewrites published under distinct names, no __writing leftovers
    assert(dirs.count(_.matches("v[0-9]+")) === 3, s"got $dirs")
    assert(!dirs.exists(_.contains("__writing")), s"got $dirs")
    // pointer resolves to ONE of the two new versions, rows intact
    val cur = Maintenance.resolveCurrent(spark, dir)
    assert(cur.endsWith("/v2") || cur.endsWith("/v3"), cur)
    assert(spark.read.parquet(cur).count() === 40)
  }

  test("vacuumVersions: retention knob keeps N newest, never the live version") {
    import graft.operators.Maintenance
    val dir = tmpDir("vacuum") + "/table"
    Tables.documents(spark, sfDir).limit(30).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions: Seq[String] = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
    // build up v1..v4 with a wide retention so nothing auto-vacuums
    (1 to 4).foreach { _ =>
      Maintenance.compactParquetVersioned(spark, dir, retainPrevious = 10)
    }
    assert(versions === Seq("v1", "v2", "v3", "v4"))
    // keep=2 retires v1/v2, keeps v3/v4
    assert(Maintenance.vacuumVersions(spark, dir, keep = 2) === Seq("v1", "v2"))
    assert(versions === Seq("v3", "v4"))
    assert(spark.read.parquet(Maintenance.resolveCurrent(spark, dir)).count() === 30)
    // a hand-rolled-back pointer is never vacuumed out from under a reader
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_current"), true)
    try out.write("v3".getBytes("UTF-8")) finally out.close()
    assert(Maintenance.vacuumVersions(spark, dir, keep = 1) === Nil)
    assert(versions === Seq("v3", "v4"))
    assert(spark.read.parquet(Maintenance.resolveCurrent(spark, dir)).count() === 30)
    // flat layout (no pointer) is a no-op; bad keep rejected
    val flat = tmpDir("vacuum-flat") + "/table"
    Tables.documents(spark, sfDir).limit(5).write.parquet(flat)
    assert(Maintenance.vacuumVersions(spark, flat, keep = 1) === Nil)
    intercept[IllegalArgumentException](Maintenance.vacuumVersions(spark, dir, 0))
    // compacting the rolled-back state (pointer v3, v4 on disk) must
    // NOT overwrite the retained v4 — the new version numbers PAST the
    // maximum on disk, and v3 (the until-now-current the in-flight
    // readers are on) survives the post-flip vacuum
    val v4Files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v4"))
      .map(_.getPath.getName).sorted
    assert(Maintenance.compactParquetVersioned(spark, dir) === 30)
    assert(Maintenance.resolveCurrent(spark, dir).endsWith("/v5"))
    assert(versions === Seq("v3", "v4", "v5"))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v4"))
      .map(_.getPath.getName).sorted === v4Files, "v4 clobbered by compaction")
    assert(spark.read.parquet(Maintenance.resolveCurrent(spark, dir)).count() === 30)
  }

  test("reapAbandoned: stale crash artifacts reaped; in-flight claim just under the threshold survives") {
    import graft.operators.Maintenance
    val dir = tmpDir("reap") + "/table"
    Tables.documents(spark, sfDir).limit(10).write.parquet(dir)
    Maintenance.compactParquetVersioned(spark, dir) // migrate -> v1 + pointer
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(name: String) = new org.apache.hadoop.fs.Path(s"$dir/$name")
    def touchFile(name: String): Unit = fs.create(p(name), true).close()
    val olderThanMs = 3600L * 1000
    val now = System.currentTimeMillis()

    // a CRASHED writer's leftovers: claim marker, half-written rewrite
    // dir, pointer-flip aside — all aged past the threshold
    touchFile(".claim_v7"); fs.mkdirs(p("v7__writing")); touchFile("_current.tmp.v7")
    Seq(".claim_v7", "v7__writing", "_current.tmp.v7").foreach(n =>
      fs.setTimes(p(n), now - olderThanMs - 60000, -1))

    // the INTERLEAVING the reaper must survive: a slow LIVE writer has
    // published its version dir and still holds its claim (not yet
    // flipped), aged to JUST UNDER the threshold — a reaper pass now
    // must not take the claim (re-exposing v8 to vacuum mid-publish)
    touchFile(".claim_v8"); fs.mkdirs(p("v8__writing")); fs.mkdirs(p("v8"))
    Seq(".claim_v8", "v8__writing").foreach(n =>
      fs.setTimes(p(n), now - olderThanMs + 120000, -1))

    val reaped = Maintenance.reapAbandoned(spark, dir, olderThanMs)
    assert(reaped.toSet === Set(".claim_v7", "v7__writing", "_current.tmp.v7"),
      s"got $reaped")
    assert(fs.exists(p(".claim_v8")), "in-flight claim must never be reaped")
    assert(fs.exists(p("v8__writing")), "in-flight rewrite dir must never be reaped")

    // and while that claim lives, vacuum keeps the published-but-
    // unflipped v8 even under the tightest retention
    assert(!Maintenance.vacuumVersions(spark, dir, keep = 1).contains("v8"))
    assert(fs.exists(p("v8")), "claimed version vacuumed out from under its writer")

    // once the writer is gone (artifacts aged), a later reaper pass
    // takes the claim and the vacuum can then retire the version
    Seq(".claim_v8", "v8__writing").foreach(n =>
      fs.setTimes(p(n), now - olderThanMs - 60000, -1))
    val reaped2 = Maintenance.reapAbandoned(spark, dir, olderThanMs)
    assert(reaped2.toSet === Set(".claim_v8", "v8__writing"))
  }

  test("tokenBudgetMix: greedy prefix per domain in draw order, bounded overshoot") {
    import graft.operators.Refresh
    val docs = (1L to 300L).map(i =>
        (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else null, 10L + i % 7))
      .toDF("doc_id", "dom", "n_tok")
    val kept = Refresh.tokenBudgetMix(docs, "dom", "doc_id", "n_tok", 200L)
      .as[(Long, String, Long)].collect()
    // null domains never selected
    assert(kept.forall(_._2 != null))
    for (dom <- Seq("a", "b")) {
      val keptDom = kept.filter(_._2 == dom)
      val total = keptDom.map(_._3).sum
      // budget respected up to the one greedy-overshoot doc
      assert(total < 200L + keptDom.map(_._3).max,
        s"domain $dom overshot: $total tokens")
      // exactly the md5-order prefix: replay driver-side
      val order = docs.filter($"dom" === dom)
        .select($"doc_id", md5(concat($"doc_id".cast("string"), lit("|"))
          .cast("binary")).as("d"), $"n_tok")
        .as[(Long, String, Long)].collect().sortBy(r => (r._2, r._1))
      var cum = 0L
      val expectIds = order.flatMap { r =>
        val before = cum; cum += r._3
        if (before < 200L) Some(r._1) else None
      }.toSet
      assert(keptDom.map(_._1).toSet === expectIds, s"domain $dom prefix mismatch")
    }
    // partitioning-independent
    val again = Refresh.tokenBudgetMix(docs.repartition(17), "dom", "doc_id",
      "n_tok", 200L).as[(Long, String, Long)].collect().toSet
    assert(again === kept.toSet)
    // salt changes the draw, guards fire
    val salted = Refresh.tokenBudgetMix(docs, "dom", "doc_id", "n_tok", 200L,
      salt = "other").as[(Long, String, Long)].collect().toSet
    assert(salted !== kept.toSet)
    intercept[IllegalArgumentException](
      Refresh.tokenBudgetMix(docs, "dom", "doc_id", "n_tok", 0L))
    // tied draws (duplicate keys) accumulate ROW BY ROW: the default
    // RANGE frame would lump all peers into one cum and drop every
    // copy; the explicit ROWS frame keeps a true greedy prefix
    val dups = Seq((7L, "a", 100L), (7L, "a", 100L), (7L, "a", 100L))
      .toDF("doc_id", "dom", "n_tok")
    assert(Refresh.tokenBudgetMix(dups, "dom", "doc_id", "n_tok", 150L)
      .count() === 2L, "2 of 3 tied 100-token rows start within a 150 budget")
  }

  test("weightedTokenBudgetMix: learned per-domain budgets, zero-weight domains keep nothing") {
    import graft.operators.Refresh
    val docs = (1L to 300L).map(i =>
        (i, Seq("a", "b", "c")((i % 3).toInt), 10L + i % 7))
      .toDF("doc_id", "dom", "n_tok")
    val weights = Seq(("a", 0.7), ("b", 0.3), ("c", 0.0))
      .toDF("dom", "mix_weight")
    val kept = Refresh.weightedTokenBudgetMix(docs, "dom", "doc_id", "n_tok",
        weights, totalBudgetTokens = 1000L)
      .select($"doc_id", $"dom", $"n_tok").as[(Long, String, Long)].collect()
    // a learned zero keeps NOTHING (contrast temperatureMix's floor)
    assert(!kept.exists(_._2 == "c"))
    // per-domain totals respect budget_d = floor(w·B) up to one
    // greedy-overshoot doc, and equal the flat-budget operator run at
    // exactly budget_d (same draw order → same prefix)
    for ((dom, w) <- Seq(("a", 0.7), ("b", 0.3))) {
      val budget = math.floor(w * 1000.0).toLong
      val keptDom = kept.filter(_._2 == dom)
      val total = keptDom.map(_._3).sum
      assert(total < budget + keptDom.map(_._3).max, s"$dom overshot")
      val flat = Refresh.tokenBudgetMix(docs.filter($"dom" === dom),
          "dom", "doc_id", "n_tok", budget)
        .select($"doc_id").as[Long].collect().toSet
      assert(keptDom.map(_._1).toSet === flat, s"$dom != flat-budget prefix")
    }
    // partitioning-independent
    val again = Refresh.weightedTokenBudgetMix(docs.repartition(17), "dom",
        "doc_id", "n_tok", weights, 1000L)
      .select($"doc_id", $"dom", $"n_tok").as[(Long, String, Long)].collect().toSet
    assert(again === kept.toSet)
    intercept[IllegalArgumentException](
      Refresh.weightedTokenBudgetMix(docs, "dom", "doc_id", "n_tok", weights, 0L))
  }

  test("hashSplit: exact-threshold 3-way holdout — disjoint, covering, stable, salt-sensitive") {
    import graft.operators.Refresh
    val docs = Tables.documents(spark, sfDir).select($"doc_id")
    val splits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val out = Refresh.hashSplit(docs, "doc_id", splits, salt = "s1")
      .as[(Long, String)].collect()
    val n = out.length
    // covering + disjoint by construction (one row in, one row out)
    assert(out.map(_._1).distinct.length === n)
    assert(out.forall(r => Set("train", "val", "test")(r._2)))
    // fractions near the percents (md5 is uniform; 5000 docs → tight)
    val frac = out.groupBy(_._2).view.mapValues(_.size.toDouble / n).toMap
    assert(math.abs(frac("train") - 0.80) < 0.03, frac.toString)
    assert(math.abs(frac("val") - 0.10) < 0.02, frac.toString)
    assert(math.abs(frac("test") - 0.10) < 0.02, frac.toString)
    // hand-verify one row against a JVM md5 twin + the integer bounds
    val bounds = Refresh.hashSplitBounds(splits)
    val md = java.security.MessageDigest.getInstance("MD5")
    val id0 = out.head._1
    val hex = md.digest(s"$id0|s1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h52 = java.lang.Long.parseLong(hex.substring(0, 13), 16)
    val expect = if (h52 < bounds(0)) "train" else if (h52 < bounds(1)) "val" else "test"
    assert(out.head._2 === expect)
    // partitioning-independent; membership never migrates when the
    // corpus grows (drop half the docs — survivors keep their split)
    val again = Refresh.hashSplit(docs.repartition(13), "doc_id", splits, salt = "s1")
      .as[(Long, String)].collect().toSet
    assert(again === out.toSet)
    val half = Refresh.hashSplit(docs.filter($"doc_id" % 2 === 0), "doc_id",
      splits, salt = "s1").as[(Long, String)].collect().toSet
    assert(half.subsetOf(out.toSet))
    // a different salt reshuffles; invalid percents refuse
    val other = Refresh.hashSplit(docs, "doc_id", splits, salt = "s2")
      .as[(Long, String)].collect().toSet
    assert(other !== out.toSet)
    intercept[IllegalArgumentException](
      Refresh.hashSplit(docs, "doc_id", Seq("a" -> 50, "b" -> 40)))
    // a NULL key must get a NULL split, not silently land in 'test'
    val withNull = Seq(Some(1L), None).toDF("doc_id")
    val ns = Refresh.hashSplit(withNull, "doc_id", splits, salt = "s1")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        Option(r.getString(1))).toMap
    assert(ns(None) === None, "null key must yield a null split")
    assert(ns(Some(1L)).isDefined)
  }

  test("bloom dup guard == exact anti-join, even with forced false positives") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter($"doc_id" % 3 === 0)
    val incoming = docs.filter($"doc_id" < 200).select($"doc_id", $"source")
    val exact = ChunkStore.dropExistingGlobal(incoming, corpus, "doc_id", "doc_id")
      .as[(Long, String)].collect().toSet
    // undersized + high-fpp filter: plenty of false positives must flow
    // through the confirm join without changing the answer
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = ChunkStore.buildKeyBloom(corpus, "doc_id", expectedItems = 20, fpp = fpp)
      val got = ChunkStore.dropExistingGlobalBloom(incoming, corpus, "doc_id", "doc_id", bloom)
        .as[(Long, String)].collect().toSet
      assert(got === exact, s"bloom guard diverged from exact anti-join at fpp=$fpp")
    }
  }

  test("bloom dup guard: one filter serves many batches; null keys pass; no false negatives") {
    val corpus = Seq(1L, 2L, 3L, 5L, 8L).toDF("k")
    val bloom = ChunkStore.buildKeyBloom(corpus, "k", expectedItems = 5)
    // reuse across two batches
    val b1 = Seq(Some(1L), Some(4L)).toDF("k")
    val b2 = Seq(Some(8L), Some(9L), None).toDF("k")
    assert(ChunkStore.dropExistingGlobalBloom(b1, corpus, "k", "k", bloom)
      .as[Option[Long]].collect().toSet === Set(Some(4L)))
    // null key: anti-join never matches null, so the row survives —
    // the bloom path must agree
    assert(ChunkStore.dropExistingGlobalBloom(b2, corpus, "k", "k", bloom)
      .as[Option[Long]].collect().toSet === Set(Some(9L), None))
    // no false negatives: a batch of pure duplicates drops entirely
    val allDups = corpus.toDF("k")
    assert(ChunkStore.dropExistingGlobalBloom(allDups, corpus, "k", "k", bloom).count() === 0L)
    // scale contract: the corpus side is consulted via a BROADCAST
    // semi-join (batch keys broadcast INTO it) and the confirm is a
    // broadcast anti-join — the corpus never sort-merge shuffles
    val plan = ChunkStore.dropExistingGlobalBloom(b1, corpus, "k", "k", bloom)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"expected semi+anti join pair:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never shuffle for the bloom-guarded confirm:\n$plan")
    // a key duplicated heavily in a dirty corpus must not multiply the
    // broadcast confirm set: result identical, one row per incoming key
    val dirty = corpus.union(Seq.fill(5000)(2L).toDF("k"))
    assert(ChunkStore.dropExistingGlobalBloom(b1, dirty, "k", "k",
        ChunkStore.buildKeyBloom(dirty, "k", 10))
      .as[Option[Long]].collect().toSet === Set(Some(4L)))
  }

  test("upsertByKey replaces matched keys, keeps the rest") {
    import graft.operators.Refresh
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val incoming = Seq((2L, "B2"), (4L, "d")).toDF("k", "v")
    val merged = Refresh.upsertByKey(existing, incoming, "k")
      .as[(Long, String)].collect().toMap
    assert(merged === Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
  }

  test("latestByKey keeps max-version row per key") {
    import graft.operators.Refresh
    val df = Seq((1L, "old", 1), (1L, "new", 2), (2L, "only", 1)).toDF("k", "v", "ver")
    val latest = Refresh.latestByKey(df, "k", "ver")
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(latest === Map(1L -> "new", 2L -> "only"))
  }

  test("stratifiedSample: deterministic for a fixed seed, fractions roughly honored") {
    import graft.operators.Refresh
    val docs = Tables.documents(spark, sfDir)
    val s1 = Refresh.stratifiedSample(docs, "lang", Map("en" -> 0.5, "de" -> 0.2), 42L)
      .select($"doc_id").as[Long].collect().toSeq
    val s2 = Refresh.stratifiedSample(docs, "lang", Map("en" -> 0.5, "de" -> 0.2), 42L)
      .select($"doc_id").as[Long].collect().toSeq
    assert(s1 === s2)
    val en = docs.filter($"lang" === "en").count()
    val enSampled = Refresh.stratifiedSample(docs, "lang", Map("en" -> 0.5), 42L).count()
    assert(enSampled > en * 0.25 && enSampled < en * 0.75)
  }

  test("temperatureMix: shares follow n^alpha, deterministic, scarce domains capped") {
    import graft.operators.Refresh
    // skewed corpus: 900 "web" rows, 90 "code", 10 "law"
    val rows = (1 to 900).map(i => (i.toLong, "web")) ++
      (1001 to 1090).map(i => (i.toLong, "code")) ++
      (2001 to 2010).map(i => (i.toLong, "law"))
    val df = rows.toDF("doc_id", "domain")
    val out = Refresh.temperatureMix(df, "domain", "doc_id", targetRows = 100, alpha = 0.5)
    val byDomain = out.groupBy($"domain").count().as[(String, Long)].collect().toMap
    // sqrt weights: 30 / 9.49 / 3.16 (sum 42.65) → targets 71 / 23 / 8
    assert(byDomain("web") === math.ceil(100 * 30.0 / (30.0 + math.sqrt(90.0) + math.sqrt(10.0))).toLong)
    assert(byDomain("law") < byDomain("code") && byDomain("code") < byDomain("web"))
    // alpha flattens: natural sampling (alpha=1) gives web a larger share
    val natural = Refresh.temperatureMix(df, "domain", "doc_id", 100, alpha = 1.0)
      .groupBy($"domain").count().as[(String, Long)].collect().toMap
    assert(natural("web") > byDomain("web"))
    // deterministic: same call, same rows
    val again = Refresh.temperatureMix(df, "domain", "doc_id", 100, alpha = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(again === out.select($"doc_id").as[Long].collect().toSet)
    // a domain whose target exceeds its size keeps everything, no more
    val tiny = Refresh.temperatureMix(df, "domain", "doc_id", 100000, alpha = 0.5)
      .groupBy($"domain").count().as[(String, Long)].collect().toMap
    assert(tiny("law") === 10L)
    intercept[IllegalArgumentException] {
      Refresh.temperatureMix(df, "domain", "doc_id", 100, alpha = 1.5)
    }
    // NULL-domain rows are dropped (documented contract) and must not
    // deflate the real domains' targets through the weight sum
    val withNull = df.unionByName(
      Seq((9001L, Option.empty[String]), (9002L, Option.empty[String]))
        .toDF("doc_id", "domain"))
    val mixed = Refresh.temperatureMix(withNull, "domain", "doc_id", 100, alpha = 0.5)
    val mixedByDomain = mixed.groupBy($"domain").count().as[(String, Long)].collect().toMap
    assert(!mixed.select($"doc_id").as[Long].collect().exists(_ >= 9001L))
    assert(mixedByDomain === byDomain)
  }
}
