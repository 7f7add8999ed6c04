package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.queries.{AnnQueries, HybridQueries, ModelQueries}
import graft.serving.Serving

/** Runs one workload in one process and writes its result as JSON.
  *
  * {{{
  * Main --workload serve_warm --seed 1 --seconds 8 --trace 0
  *      --corpus <dir> --work <dir> --out <file> --expected <file>
  * }}}
  *
  * `--corpus` holds `documents.parquet` and `embeddings.parquet`
  * (perfbench/fixture); `--work` is a private scratch directory. With
  * `--trace 1` the run also records spans and Spark, Hadoop FS and JVM
  * counters, writes the spans to `<work>/spans.json`, and reports the
  * per-layer metrics instead of the end-to-end ones. With
  * `--record <file> --record-seeds 1,2,...` it writes the outputs the
  * checks compare against instead (see [[record]]). */
object Main {
  val Cpus = 4
  val Clients = 2
  /** Probes per client whose hits fold into the recorded digest. */
  val DigestProbes = 32
  /** Warm probes per client re-run uncached and compared bit for bit. */
  val UncachedSample = 4
  /** Untimed closed-loop warm-up before the window, per workload. The
    * uncached path runs ~20% slower over its first 2 s while the JIT
    * compiles the parquet decode, so cold warms up for 3 s. Warm, with
    * the cache filled, read steadier across runs after 0.5 s than
    * after 3 s (qps spread over 10 seeds 0.08 against 0.20). */
  val ServeWarmupS = Map("serve_warm" -> 0.5, "serve_cold" -> 3.0)
  /** The tail percentile per serving workload. Cold: p90, the highest
    * with ten samples beyond it in an 8 s window (~100-135 probes).
    * Warm: p95. Its p99 (~50 of ~5000 probes beyond) is set by the G1
    * pauses those few probes straddle, and read 13-21 ms across runs of
    * one seed; `jvm.gc_*` covers the pauses. */
  val TailQuantile = Map("serve_warm" -> 0.95, "serve_cold" -> 0.90)

  final class Result {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    def fail(msg: String): Unit = synchronized {
      failed += 1; if (errors.size < 50) errors += msg
    }
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt.getOrElse("workload", "record")
    val serving = TailQuantile.contains(workload)
    val seed = opt.getOrElse("seed", "0").toLong
    val seconds = opt.getOrElse("seconds", "0").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val expected = Expected.load(opt.get("expected"))

    val tracer = new Tracer(traced)
    val res = new Result
    res.info("workload") = Json.str(workload)
    res.info("seed") = seed.toString

    val spark = session(work)
    opt.get("record").foreach { out =>
      record(spark, opt("corpus"), opt("record-seeds").split(",").map(_.toLong).toSeq, out)
      spark.stop()
      return
    }
    res.info("session_start_s") = Json.num((System.nanoTime() - t0) / 1e9)
    val ledger = if (traced) {
      val l = new SparkLedger(tracer); spark.sparkContext.addSparkListener(l); Some(l)
    } else None

    try tracer.span(s"workload $workload", "workload", 0L, 0L) { wid =>
      // set-up: build every persisted index the workload reads. graft
      // roots them in java.io.tmpdir, which is private to this run.
      // Once per run: a second, warm set-up would add ~8 s to a ~35 s
      // run, and the JIT-cold one alone reads within a few percent from
      // run to run.
      val dir = opt("corpus")
      val ix = tracer.span("setup", "setup", wid, 0L) { sid =>
        val s0 = System.nanoTime()
        val (ix, steps) = buildIndexes(spark, workload, dir, tracer, sid)
        res.e2e("setup_s") = (System.nanoTime() - s0) / 1e9
        ledger.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
        setupLayers(res, steps.map { case (name, secs, trace) =>
          (name, secs, ledger.fold(new SparkStats)(_.take(trace)))
        })
        ix
      }
      if (serving) serve(spark, workload, seed, seconds, dir, ix.get, expected, tracer, wid, res)
      else batch(spark, workload, seed, seconds, dir, expected, tracer, ledger, wid, res)
    } catch {
      case e: Throwable =>
        res.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    res.layers("jvm.rss_peak_mb") = Ledger.rssPeakMb()
    if (traced) {
      tracer.selfSeconds.toSeq.sortBy(_._1).foreach { case (l, s) =>
        res.info(s"self_s.$l") = Json.num(s)
      }
      tracer.writeJson(s"$work/spans.json", t0)
    }
    write(opt("out"), res, traced)
    spark.stop()
  }

  def session(work: String): SparkSession = {
    // the graft.Bench profile: AQE sizes reduce partitions by bytes
    // with a floor of cpus/4, and gate-only handoff writes are skipped
    sys.props("graft.bench.mode") = "true"
    sys.props("graft.handoff.dir") = s"$work/handoff"
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        (Cpus / 4).max(1).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Calls the public warm-up builders `graft.Bench` calls for the same
    * queries, each in a span its Spark jobs nest under; a failure
    * propagates and aborts the run. Returns the serving index paths
    * and (step, seconds, trace id) per builder. */
  def buildIndexes(spark: SparkSession, workload: String, dir: String, tracer: Tracer,
                   parent: Long): (Option[Serve.Indexes], Seq[(String, Double, Long)]) = {
    val sc = spark.sparkContext
    val steps = mutable.ArrayBuffer.empty[(String, Double, Long)]
    def step[T](name: String)(body: => T): T = {
      val trace = tracer.nextId()
      sc.setLocalProperty(SparkLedger.TraceKey, trace.toString)
      val t0 = System.nanoTime()
      try tracer.span(s"build $name", "graft.queries", parent, trace) { id =>
        sc.setLocalProperty(SparkLedger.SpanKey, id.toString)
        body
      } finally {
        steps += ((name, (System.nanoTime() - t0) / 1e9, trace))
        sc.setLocalProperty(SparkLedger.TraceKey, null)
        sc.setLocalProperty(SparkLedger.SpanKey, null)
      }
    }
    val ix = workload match {
      case "batch_curate" =>
        step("semdedup")(ModelQueries.semdedupIndex(spark, dir))
        None
      case "batch_index_rw" =>
        step("ivf")(AnnQueries.persistedIvf(spark, dir))
        step("hnsw")(AnnQueries.persistedHnsw(spark, dir))
        step("bm25")(HybridQueries.persistedBm25(spark, dir))
        step("bm25_baseline")(HybridQueries.baselineBm25(spark, dir))
        step("positional")(HybridQueries.persistedPositional(spark, dir))
        None
      case _ =>
        val ivf = step("ivf")(AnnQueries.persistedIvfPath(spark, dir))
        val hnsw = step("hnsw")(AnnQueries.persistedHnswPath(spark, dir))
        val bm25 = step("bm25")(HybridQueries.persistedBm25(spark, dir))
        Some(Serve.Indexes(ivf, hnsw, bm25))
    }
    (ix, steps.toSeq)
  }

  // ------------------------------------------------------------ serving

  final class Client(val id: Int) {
    val lat = mutable.ArrayBuilder.make[Long]
    val kinds = mutable.ArrayBuilder.make[Byte]
    /** Hits of every timed probe, in order; null where it threw. */
    val kept = mutable.ArrayBuffer.empty[Array[Long]]
    var cpuNs = 0L
    var allocBytes = 0L
    var cacheLoads = 0L
  }

  def serve(spark: SparkSession, workload: String, seed: Long, seconds: Double,
            dir: String, ix: Serve.Indexes, expected: Expected, tracer: Tracer,
            wid: Long, res: Result): Unit = {
    val corpus = Serve.Corpus.load(spark, dir)
    import corpus.{docWords, vecs, vocab}
    val cache = if (workload == "serve_warm") Some(Serving.newCache()) else None

    // the timed streams; the warm-up streams come from another seed
    val streams = streamsOf(seed, corpus)
    val warmStreams = streamsOf(seed ^ 0x5eed5eedL, corpus)
    tracer.span("warmup", "warmup", wid, 0L) { sid =>
      cache.foreach { c =>
        // fill: every IVF cell and HNSW shard, every BM25 posting range
        Serving.searchIvf(ix.ivf, vecs(0), Serve.K, nprobe = 1 << 20, cache = c)
        Serving.searchHnsw(ix.hnsw, vecs(0), Serve.K, Serve.Ef, nprobe = 1 << 20, cache = c)
        Serving.searchBm25(ix.bm25, vocab, Serve.K, cache = c)
      }
      loop(ix, warmStreams, ServeWarmupS(workload), cache, keep = false, tracer, sid, res)
    }

    val c0 = Ledger.counters()
    val w0 = System.nanoTime()
    val clients = tracer.span("window", "window", wid, 0L) { sid =>
      loop(ix, streams, seconds, cache, keep = true, tracer, sid, res)
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val c1 = Ledger.counters()
    res.info("calibration_ms") = Json.num(Ledger.calibrationMs())

    val lat = clients.flatMap(_.lat.result()).map(_ / 1e6).toArray
    res.info("steal_share") = Json.num((c1.steal - c0.steal).toDouble / (c1.ticks - c0.ticks).max(1))
    val kinds = clients.flatMap(_.kinds.result()).toArray
    val probes = lat.length
    res.attempted += probes
    res.info("samples") = probes.toString
    res.info("window_s") = Json.num(windowS)
    res.info("tail_quantile") = Json.num(TailQuantile(workload))
    res.e2e("probe_p50_ms") = Stats.quantile(lat, 0.50)
    res.e2e("probe_tail_ms") = Stats.quantile(lat, TailQuantile(workload))
    res.e2e("probe_qps") = probes / windowS

    // output checks, untimed: independent checks of every timed probe's
    // hits, the IndexCache contract (warm answers equal uncached answers
    // bit for bit), and a digest of the first probes of every client
    clients.foreach { cl =>
      cl.kept.indices.foreach { i =>
        val hits = cl.kept(i)
        if (hits != null)
          Serve.check(streams(cl.id)(i % streams(cl.id).size), hits, vecs, docWords)
            .foreach(e => res.fail(s"probe ${cl.id}/$i $e"))
      }
    }
    val digestSet = clients.flatMap { cl =>
      (0 until DigestProbes).map { i =>
        val p = streams(cl.id)(i)
        val hits =
          if (i < cl.kept.size && cl.kept(i) != null) cl.kept(i)
          else {
            // a slow window ran fewer probes: run and check the rest untimed
            res.attempted += 1
            val h = try Serve.run(ix, p, cache) catch { case e: Exception =>
              res.fail(s"probe ${cl.id}/$i failed: $e"); Array.empty[Long] }
            Serve.check(p, h, vecs, docWords).foreach(e => res.fail(s"probe ${cl.id}/$i $e"))
            h
          }
        if (cache.nonEmpty && i < UncachedSample) {
          res.attempted += 1
          if (!java.util.Arrays.equals(Serve.run(ix, p, None), hits))
            res.fail(s"probe ${cl.id}/$i: cached hits differ from uncached hits")
        }
        hits
      }
    }
    val digest = Serve.digest(digestSet)
    res.info("digest") = Json.str(digest)
    expected.serveDigest(seed).foreach { want =>
      res.attempted += 1
      if (want != digest) res.fail(s"serving digest $digest != recorded $want for seed $seed")
    }
    // the kept hits grow with throughput: drop them before the heap is read
    clients.foreach(_.kept.clear())
    res.e2e("heap_live_mb") = Ledger.liveHeapMb()

    // per-layer
    Serve.KindNames.indices.foreach { k =>
      val a = lat.indices.filter(kinds(_) == k).map(lat).toArray
      res.layers(s"serving.${Serve.KindNames(k)}_p50_ms") = Stats.quantile(a, 0.50)
      res.layers(s"serving.${Serve.KindNames(k)}_p99_ms") = Stats.quantile(a, 0.99)
    }
    val perProbe = probes.max(1).toDouble
    res.layers("serving.probes") = probes
    res.layers("serving.cpu_ms_per_probe") = clients.map(_.cpuNs).sum / 1e6 / perProbe
    res.layers("serving.cache_entries") = cache.map(_.size).getOrElse(0).toDouble
    res.layers("serving.cache_loads") = clients.map(_.cacheLoads).sum.toDouble
    res.layers("fs.bytes_read_kb_per_probe") = (c1.fsBytesRead - c0.fsBytesRead) / 1e3 / perProbe
    res.layers("jvm.alloc_mb_per_probe") = clients.map(_.allocBytes).sum / 1e6 / perProbe
    jvmLayers(res, c0, c1)
  }

  def streamsOf(seed: Long, corpus: Serve.Corpus): IndexedSeq[IndexedSeq[Serve.Probe]] =
    (0 until Clients).map(c => Serve.stream(seed, c, 8192, corpus.vecs, corpus.vocab))

  /** Writes the outputs `expected.json` holds: the serving digest of
    * each seed (uncached probes) and the fingerprint of every batch
    * query, all over one fixture with every index built. */
  def record(spark: SparkSession, dir: String, seeds: Seq[Long], out: String): Unit = {
    val tracer = new Tracer(false)
    val ix = buildIndexes(spark, "serve_warm", dir, tracer, 0L)._1.get
    Seq("batch_curate", "batch_index_rw").foreach(buildIndexes(spark, _, dir, tracer, 0L))
    val corpus = Serve.Corpus.load(spark, dir)
    val digests = seeds.map { seed =>
      val hits = streamsOf(seed, corpus).flatMap(_.take(DigestProbes).map(Serve.run(ix, _, None)))
      seed.toString -> Json.str(Serve.digest(hits))
    }
    val fps = (Batch.Curate ++ Batch.IndexRw).map { q =>
      try q -> Json.str(Batch.fingerprint(Batch.query(q)(spark, dir)))
      finally Batch.releasePending()
    }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(Json.obj(Seq("fingerprints" -> Json.obj(fps),
      "serve_digests" -> Json.obj(digests))))
    finally w.close()
  }

  /** Closed loop: each client issues its stream back to back until the
    * deadline. With `keep`, keeps the hits of every probe. */
  def loop(ix: Serve.Indexes, streams: IndexedSeq[IndexedSeq[Serve.Probe]],
           seconds: Double, cache: Option[Serving.IndexCache], keep: Boolean,
           tracer: Tracer, parent: Long, res: Result): Seq[Client] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val clients = streams.indices.map(new Client(_))
    val threads = clients.map { cl =>
      new Thread(() => {
        val s = streams(cl.id)
        val cpu0 = Ledger.threadCpuNs(); val alloc0 = Ledger.threadAllocBytes()
        var i = 0
        while (System.nanoTime() < deadline) {
          val p = s(i % s.size)
          val before = cache.map(_.size).getOrElse(0)
          val t0 = System.nanoTime()
          val hits =
            try Serve.run(ix, p, cache)
            catch { case e: Exception => res.fail(s"probe ${cl.id}/$i failed: $e"); null }
          val t1 = System.nanoTime()
          cl.lat += (t1 - t0); cl.kinds += p.kind.toByte
          if (keep) cl.kept += hits
          if (cache.exists(_.size > before)) cl.cacheLoads += 1
          if (tracer.enabled)
            tracer.add(Span(tracer.nextId(), parent, 0L,
              s"probe ${Serve.KindNames(p.kind)}", "graft.serving", t0, t1))
          i += 1
        }
        cl.cpuNs = Ledger.threadCpuNs() - cpu0
        cl.allocBytes = Ledger.threadAllocBytes() - alloc0
      }, s"perfbench-client-${cl.id}")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    clients
  }

  // -------------------------------------------------------------- batch

  def batch(spark: SparkSession, workload: String, seed: Long, seconds: Double,
            dir: String, expected: Expected, tracer: Tracer,
            ledger: Option[SparkLedger], wid: Long, res: Result): Unit = {
    val names = Batch.order(
      if (workload == "batch_curate") Batch.Curate else Batch.IndexRw, seed)
    res.info("queries") = names.map(Json.str).mkString("[", ",", "]")
    val sc = spark.sparkContext

    // warm-up pass, untimed: fingerprint every query's result
    tracer.span("warmup", "warmup", wid, 0L) { _ =>
      names.foreach { q =>
        res.attempted += 1
        try {
          val fp = Batch.fingerprint(Batch.query(q)(spark, dir))
          res.info(s"fingerprint.$q") = Json.str(fp)
          expected.fingerprint(q) match {
            case Some(want) if want != fp => res.fail(s"$q fingerprint $fp != recorded $want")
            case None => res.fail(s"$q has no recorded fingerprint")
            case _ =>
          }
        } catch { case e: Exception => res.fail(s"$q failed in the fingerprint pass: $e") }
        finally Batch.releasePending()
      }
    }
    ledger.foreach { l => PerfbenchBus.drain(sc); l.take(0L) }

    val passTimes = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, SparkStats)]]
    var cachedAfter = 0L
    val c0 = Ledger.counters()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    tracer.span("window", "window", wid, 0L) { winId =>
      while (passTimes.isEmpty || System.nanoTime() < deadline) {
        val p0 = System.nanoTime()
        tracer.span(s"pass ${passTimes.size + 1}", "pass", winId, 0L) { pid =>
          names.foreach { q =>
            val trace = tracer.nextId()
            sc.setLocalProperty(SparkLedger.TraceKey, trace.toString)
            val t0 = System.nanoTime()
            tracer.span(q, "graft.queries", pid, trace) { qid =>
              sc.setLocalProperty(SparkLedger.SpanKey, qid.toString)
              try Batch.materialize(Batch.query(q)(spark, dir))
              catch { case e: Exception => res.fail(s"$q failed: $e") }
            }
            val s = (System.nanoTime() - t0) / 1e9
            Batch.releasePending()
            res.attempted += 1
            lat += s * 1e3
            val st = ledger.fold(new SparkStats) { l =>
              PerfbenchBus.drain(sc)
              cachedAfter += sc.getPersistentRDDs.size
              l.take(trace)
            }
            perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((s, st))
          }
        }
        passTimes += (System.nanoTime() - p0) / 1e9
      }
    }
    sc.setLocalProperty(SparkLedger.TraceKey, null)
    sc.setLocalProperty(SparkLedger.SpanKey, null)
    val c1 = Ledger.counters()
    res.e2e("heap_live_mb") = Ledger.liveHeapMb()
    res.info("calibration_ms") = Json.num(Ledger.calibrationMs())
    val passes = passTimes.size.toDouble
    res.info("samples") = lat.size.toString
    res.info("passes") = passTimes.size.toString
    res.info("pass_s") = passTimes.map(Json.num).mkString("[", ",", "]")
    res.e2e("suite_s") = Stats.median(passTimes.toSeq)
    res.e2e("query_p50_ms") = Stats.quantile(lat.toArray, 0.50)

    val all = new SparkStats
    perQuery.values.flatten.foreach(r => all.add(r._2))
    val inJob = perQuery.values.flatten.map(_._2.inJobNs / 1e9).sum
    sparkLayers(res, "spark", all, passes)
    res.layers("spark.in_job_s") = inJob / passes
    res.layers("spark.driver_gap_s") = (lat.sum / 1e3 - inJob) / passes
    res.layers("spark.cached_rdds_after") = cachedAfter / passes
    res.layers("fs.bytes_read_kb_per_query") =
      (c1.fsBytesRead - c0.fsBytesRead) / 1e3 / lat.size.max(1)
    res.layers("jvm.alloc_mb_per_query") = (c1.allocBytes - c0.allocBytes) / 1e6 / lat.size.max(1)
    jvmLayers(res, c0, c1)
    perQuery.foreach { case (q, runs) =>
      res.layers(s"q.${q}_s") = Stats.median(runs.map(_._1).toSeq)
      res.layers(s"q.${q}_jobs") = Stats.median(runs.map(_._2.jobs.toDouble).toSeq)
    }
  }

  // ------------------------------------------------------------ ledgers

  /** Per builder: seconds (`queries.build_<step>_s`), and the Spark
    * scheduler totals of the whole set-up. */
  def setupLayers(res: Result, steps: Seq[(String, Double, SparkStats)]): Unit = {
    steps.foreach { case (name, secs, _) => res.layers(s"queries.build_${name}_s") = secs }
    val st = new SparkStats
    steps.foreach(s => st.add(s._3))
    res.layers("spark.setup_jobs") = st.jobs.toDouble
    res.layers("spark.setup_tasks") = st.tasks.toDouble
    res.layers("spark.setup_in_job_s") = st.inJobNs / 1e9
    res.layers("spark.setup_driver_gap_s") = steps.map(_._2).sum - st.inJobNs / 1e9
    res.layers("spark.setup_task_s") = st.taskMs / 1e3
    res.layers("spark.setup_shuffle_write_mb") = st.shuffleWrite / 1e6
    res.layers("spark.setup_output_mb") = st.output / 1e6
    res.layers("spark.setup_stage_skew_max") = st.skewMax
  }

  def sparkLayers(res: Result, prefix: String, st: SparkStats, per: Double): Unit = {
    res.layers(s"$prefix.jobs") = st.jobs / per
    res.layers(s"$prefix.stages") = st.stages / per
    res.layers(s"$prefix.tasks") = st.tasks / per
    res.layers(s"$prefix.failed_tasks") = st.failedTasks / per
    res.layers(s"$prefix.task_s") = st.taskMs / 1e3 / per
    res.layers(s"$prefix.shuffle_read_mb") = st.shuffleRead / 1e6 / per
    res.layers(s"$prefix.shuffle_write_mb") = st.shuffleWrite / 1e6 / per
    res.layers(s"$prefix.spill_mb") = st.spill / 1e6 / per
    res.layers(s"$prefix.output_mb") = st.output / 1e6 / per
    res.layers(s"$prefix.peak_exec_mem_mb") = st.peakExecMem / 1e6
    res.layers(s"$prefix.stage_skew_max") = st.skewMax
  }

  def jvmLayers(res: Result, c0: Counters, c1: Counters): Unit = {
    res.layers("jvm.gc_count") = (c1.gcCount - c0.gcCount).toDouble
    res.layers("jvm.gc_ms") = (c1.gcMs - c0.gcMs).toDouble
    res.layers("jvm.cpu_s") = (c1.cpuNs - c0.cpuNs) / 1e9
  }

  def write(path: String, res: Result, traced: Boolean): Unit = {
    def obj(m: collection.Map[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val body = Json.obj(Seq(
      "correct" -> (res.failed == 0).toString,
      "attempted" -> res.attempted.max(1).toString,
      "failed" -> res.failed.toString,
      "end_to_end" -> obj(res.e2e),
      "per_layer" -> obj(if (traced) res.layers else Map.empty),
      "info" -> Json.obj(res.info.toSeq),
      "errors" -> res.errors.map(Json.str).mkString("[", ",", "]")))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(body) finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Array[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Outputs recorded at the benchmark's defining commit: batch query
  * fingerprints (the corpus is fixed, so one value per query) and
  * serving digests per seed. */
final case class Expected(fingerprints: Map[String, String], digests: Map[Long, String]) {
  def fingerprint(q: String): Option[String] = fingerprints.get(q)
  def serveDigest(seed: Long): Option[String] = digests.get(seed)
}

object Expected {
  /** Reads `{"fingerprints": {q: fp}, "serve_digests": {seed: digest}}`. */
  def load(path: Option[String]): Expected = path.filter(new File(_).exists) match {
    case None => Expected(Map.empty, Map.empty)
    case Some(p) =>
      import org.json4s._
      val json = jackson.JsonMethods.parse(new String(Files.readAllBytes(new File(p).toPath), "UTF-8"))
      def section(name: String): Map[String, String] = json \ name match {
        case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      }
      Expected(section("fingerprints"), section("serve_digests").map { case (k, v) => k.toLong -> v })
  }
}
