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
  * `decode <dir> [reps]` needs no session: it is the microbenchmark of
  * the serving read path ([[graft.serving.Serving]]) over the part files
  * of one persisted dir, such as an IVF `corpus/ivf_cluster=<c>` or a
  * BM25 `postings/range_id=<r>` dir. Per part file it prints the median
  * µs of list+open+read+footer (the whole file is read in one pass),
  * of the chunk read (parsed from that in-memory copy) and of each
  * column's decode, over `reps` timed passes (default 200) after as
  * many warm-up passes, beside the same figures for passes that only read
  * and decompress each column's pages (the floor under its decode).
  *
  * Usage: runMain graft.Probe <explain|count|gaps> <sfDir> <q1,q2,...> [outDir]
  *        runMain graft.Probe decode <dir> [reps]
  */
object Probe {
  private val usage = "usage: graft.Probe <explain|count|gaps> <sfDir> <q1,q2,...> [outDir]" +
    " | graft.Probe decode <dir> [reps]"

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("decode")) {
      require(args.length == 2 || args.length == 3, usage)
      decode(args(1), args.lift(2).fold(200)(_.toInt))
      return
    }
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

  /** The `decode` mode: see the object's scaladoc. */
  private def decode(dir: String, reps: Int): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.column.ColumnDescriptor
    import org.apache.parquet.column.page.{DataPageV1, DataPageV2, PageReadStore}
    import graft.serving.Serving
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = Serving.partFiles(conf, dir)
    require(files.nonEmpty, s"no part files under $dir")
    // every top-level column the serving decoder reads, by its accessor
    val (probe, _) = Serving.openPart(conf, files.head, Seq.empty)
    val fileSchema = try probe.getFooter.getFileMetaData.getSchema finally probe.close()
    val columns: Seq[(String, ColumnDescriptor, Serving.RowGroup => Any)] =
      fileSchema.getFields.asScala.toSeq.flatMap { f =>
        val name = f.getName
        fileSchema.getColumns.asScala.filter(_.getPath.head == name).toSeq match {
          case Seq(d) =>
            val t = d.getPrimitiveType.getPrimitiveTypeName
            val read: Option[Serving.RowGroup => Any] = (d.getMaxRepetitionLevel, t) match {
              case (0, INT32) => Some(_.ints(name))
              case (0, INT64) => Some(_.longs(name))
              case (0, DOUBLE) => Some(_.doubles(name))
              case (0, BOOLEAN) => Some(_.bools(name))
              case (0, BINARY) => Some(_.strings(name, nullable = true))
              case (1, FLOAT) => Some(_.floatLists(name, nullable = true))
              case (1, INT64) => Some(_.longLists(name))
              case _ => None
            }
            read.map(r => (s"$name (${if (d.getMaxRepetitionLevel == 1) s"list<$t>" else t})", d, r))
          case _ => None
        }
      }
    val names = columns.map(_._2.getPath.head)
    var rows = 0L

    /** Read and decompress every page of one column chunk, decoding none. */
    def pagesOnly(pages: PageReadStore, d: ColumnDescriptor): Unit = {
      val r = pages.getPageReader(d)
      Option(r.readDictionaryPage()).foreach(_.getBytes.toByteBuffer)
      var p = r.readPage()
      while (p != null) {
        p match {
          case v1: DataPageV1 => v1.getBytes.toByteBuffer
          case v2: DataPageV2 => v2.getData.toByteBuffer
        }
        p = r.readPage()
      }
    }

    /** One pass over the dir: ns of list+open+read+footer (with close), of
      * the chunk reads, and of each column's decode (with `floor`, of
      * reading and decompressing its pages only). */
    def pass(floor: Boolean): Array[Long] = {
      val ns = new Array[Long](2 + columns.size)
      var t = System.nanoTime()
      def lap(i: Int): Unit = { val now = System.nanoTime(); ns(i) += now - t; t = now }
      val listed = Serving.partFiles(conf, dir)
      rows = 0L
      listed.foreach { st =>
        val (reader, schema) = Serving.openPart(conf, st, names)
        val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
        lap(0)
        try {
          var pages = reader.readNextRowGroup()
          lap(1)
          while (pages != null) {
            val rg = new Serving.RowGroup(st.getPath.toString, schema, pages, createdBy)
            rows += rg.rows
            columns.indices.foreach { i =>
              if (floor) pagesOnly(pages, columns(i)._2) else columns(i)._3(rg)
              lap(2 + i)
            }
            pages = reader.readNextRowGroup()
            lap(1)
          }
        } finally { reader.close(); lap(0) }
      }
      ns
    }

    // decode and floor passes alternate, so drift hits both alike
    (1 to reps).foreach { _ => pass(floor = false); pass(floor = true) }
    val timed = Array.fill(reps)((pass(floor = false), pass(floor = true)))
    def medianUs(xs: Array[Long]): Double = xs.sorted.apply(xs.length / 2) / 1e3 / files.length
    val labels = Seq("list+open+read+footer", "chunk read") ++ columns.map(_._1)
    println(f"[decode] $dir: ${files.length} part files, $rows rows, $reps reps; " +
      "median us per part file: decode | read+decompress pages only")
    labels.indices.foreach { i =>
      println(f"[decode]   ${labels(i)}%-28s ${medianUs(timed.map(_._1(i)))}%10.1f | " +
        f"${medianUs(timed.map(_._2(i)))}%10.1f")
    }
    println(f"[decode]   ${"total"}%-28s ${medianUs(timed.map(_._1.sum))}%10.1f | " +
      f"${medianUs(timed.map(_._2.sum))}%10.1f")
  }
}
