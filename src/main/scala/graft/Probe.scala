package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.execution.FormattedMode

import scala.collection.mutable.ArrayBuffer

/** Measurement entry point over the registered queries. It runs on the
  * [[GraftSession]] profile in bench mode, after Bench's warm-up, so it
  * sees the plans and persisted indexes Bench times:
  *
  *  - `explain`: each query's formatted physical plan, written to
  *    `<outDir>/<query>.txt` (stdout without an outDir) — the plan
  *    evidence of an optimization round (`plans/rNN/`);
  *  - `count`: result rows and wall seconds — the output size of a
  *    pair-producing query at a derived scale, without a parquet dump;
  *  - `gaps`: wall seconds split into Spark jobs, in-job seconds (the
  *    union of job intervals) and driver gap (planning, codegen, AQE
  *    re-optimization, persist bookkeeping) — whether a slow query needs
  *    fewer stages or faster kernels.
  *
  * `count` and `gaps` lines end in `cached=<n>`: the persistent RDDs
  * left after the query boundary (`Dedup.releasePending`) — 0 unless
  * something outlives its query.
  *
  * Each listed query runs once; list a name twice to repeat it. A result
  * dump is [[Verify]] with `SPARK_GRAFT_VERIFY_QUERIES`, subset timing
  * is [[Bench]] with `SPARK_GRAFT_BENCH_QUERIES`.
  *
  * Usage: runMain graft.Probe <explain|count|gaps> <sfDir> <q1,q2,...> [outDir]
  */
object Probe {
  private val usage = "usage: graft.Probe <explain|count|gaps> <sfDir> <q1,q2,...> [outDir]"

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || (args.length == 4 && args(0) == "explain"), usage)
    val Array(mode, sfDir, qlist) = args.take(3)
    require(Set("explain", "count", "gaps")(mode), usage)
    val outDir = args.lift(3)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val spark = GraftSession.builder(GraftSession.envCpus(4))
      .appName("graft-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.props("graft.bench.mode") = "true"
    Bench.warmUp(spark, sfDir, names.toSet)
    outDir.foreach(d => new java.io.File(d).mkdirs())

    // (start ms, end ms) of each job, appended on job end
    val jobs = ArrayBuffer.empty[(Long, Long)]
    val starts = scala.collection.mutable.Map.empty[Int, Long]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized(starts(j.jobId) = j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.synchronized(starts.remove(j.jobId).foreach(s => jobs += ((s, j.time))))
    })

    names.foreach { name =>
      GraftShim.drainListeners(spark.sparkContext)
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      def secs = (System.nanoTime() - t0) / 1e9
      val df = SparkEntry.queries(name)(spark, sfDir)
      val report = mode match {
        case "explain" =>
          val plan = df.queryExecution.explainString(FormattedMode)
          outDir.fold(println(s"===== $name =====\n$plan"))(d =>
            Files.writeString(Paths.get(s"$d/$name.txt"), plan))
          None
        case "count" =>
          val rows = df.count()
          Some(f"[probe] $name: $rows rows, $secs%.2f s")
        case "gaps" =>
          df.write.format("noop").mode("overwrite").save()
          val wall = secs
          GraftShim.drainListeners(spark.sparkContext)
          val snap = jobs.synchronized(jobs.toVector)
          // union of job intervals: concurrent jobs must not double-count
          val merged = snap.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
            case ((s, e) :: tl, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: tl
            case (acc, iv) => iv :: acc
          }
          val inJob = merged.map { case (s, e) => e - s }.sum / 1e3
          Some(f"[gap] $name%-28s wall=$wall%7.3f s jobs=${snap.length}%3d " +
            f"inJob=$inJob%7.3f s gap=${wall - inJob}%7.3f s")
      }
      graft.operators.Dedup.releasePending()
      val cached = spark.sparkContext.getPersistentRDDs.size
      report.foreach(r => println(s"$r cached=$cached"))
    }
    spark.stop()
  }
}
