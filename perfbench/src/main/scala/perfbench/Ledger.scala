package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval. Spans nest through `parent`; every span of one
  * probe or query (the probe itself, the query and its Spark jobs)
  * carries the same `trace`. Times are `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      layer: String, t0: Long, t1: Long)

/** In-memory span store, written out once at exit. When disabled every
  * call only runs its body, so an untraced run pays nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Runs `body` with a fresh span id and records the span around it. */
  def span[T](name: String, layer: String, parent: Long, trace: Long)
             (body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = nextId()
    val t0 = System.nanoTime()
    try body(id)
    finally spans.add(Span(id, parent, if (trace == 0L) id else trace, name,
      layer, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.t0, s.id))

  /** Seconds of each layer's self time: a span's duration minus the
    * union of its children's intervals (clipped to the span). */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, own) =>
      layer -> own.map { s =>
        val covered = Ledger.unionNs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.t0, s.t0), math.min(c.t1, s.t1)))
          .filter { case (a, b) => b > a })
        (s.t1 - s.t0 - covered) / 1e9
      }.sum
    }
  }

  def writeJson(path: String, origin: Long): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      val ss = all
      ss.zipWithIndex.foreach { case (s, i) =>
        w.print(f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
          s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
          f""""start_ms":${(s.t0 - origin) / 1e6}%.3f,"end_ms":${(s.t1 - origin) / 1e6}%.3f}""")
        w.println(if (i + 1 < ss.size) "," else "")
      }
      w.println("]")
    } finally w.close()
  }
}

/** Spark scheduler totals of one query (or of a whole pass). */
final class SparkStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var output = 0L; var peakExecMem = 0L
  var skewMax = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def inJobNs: Long = Ledger.unionNs(jobIntervals.toSeq)

  def add(o: SparkStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskMs += o.taskMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; output += o.output
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    skewMax = math.max(skewMax, o.skewMax)
    jobIntervals ++= o.jobIntervals
  }
}

/** Spark listener that files job, stage and task events under the
  * trace id the driver thread set as a local property before the
  * action, and records each job as a span under the query's span. */
final class SparkLedger(tracer: Tracer) extends SparkListener {
  import SparkLedger._
  private val byTrace = mutable.HashMap.empty[Long, SparkStats]
  private val stageTrace = mutable.HashMap.empty[Int, Long]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long, Long)]
  // listener event times are wall-clock ms; spans use nanoTime
  private val clockSkewNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  private def stats(trace: Long): SparkStats =
    byTrace.getOrElseUpdate(trace, new SparkStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val trace = prop(e.properties, TraceKey)
    e.stageIds.foreach(stageTrace(_) = trace)
    jobStart(e.jobId) = (e.time, trace, prop(e.properties, SpanKey))
    stats(trace).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, trace, parent) =>
      val a = t0 * 1000000L + clockSkewNs
      val b = e.time * 1000000L + clockSkewNs
      stats(trace).jobIntervals += ((a, b))
      tracer.add(Span(tracer.nextId(), parent, trace, s"job ${e.jobId}",
        "spark.job", a, b))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val trace = prop(e.properties, TraceKey)
    stageTrace(e.stageInfo.stageId) = trace
    stats(trace).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stats(stageTrace.getOrElse(e.stageId, 0L))
    st.tasks += 1
    if (!e.taskInfo.successful) st.failedTasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.taskMs += m.executorRunTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.diskBytesSpilled
      st.output += m.outputMetrics.bytesWritten
      st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTaskMs.remove(id).foreach { ds =>
      if (ds.size >= 2) {
        val s = ds.sorted
        val med = math.max(s(s.size / 2), 1L)
        val st = stats(stageTrace.getOrElse(id, 0L))
        st.skewMax = math.max(st.skewMax, s.last.toDouble / med)
      }
    }
  }

  /** Removes and returns the totals filed under `trace`. */
  def take(trace: Long): SparkStats = synchronized {
    byTrace.remove(trace).getOrElse(new SparkStats)
  }
}

object SparkLedger {
  val TraceKey = "perfbench.trace"
  val SpanKey = "perfbench.span"
}

/** Process-wide counters read around a measured window. */
final case class Counters(gcCount: Long, gcMs: Long, cpuNs: Long,
                          allocBytes: Long, fsBytesRead: Long, steal: Long, ticks: Long)

object Ledger {
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def counters(): Counters = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    // host CPU ticks, and those stolen by the hypervisor, from /proc/stat
    val cpu = firstLine("/proc/stat", _ => true).split("\\s+").drop(1).map(_.toLong)
    Counters(gcs.map(_.getCollectionCount.max(0L)).sum,
      gcs.map(_.getCollectionTime.max(0L)).sum, os.getProcessCpuTime,
      threads.getTotalThreadAllocatedBytes, fs.map(_.getBytesRead).sum,
      cpu.lift(7).getOrElse(0L), cpu.sum)
  }

  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime
  def threadAllocBytes(): Long = threads.getCurrentThreadAllocatedBytes

  /** Heap in use after a full collection, in MB: the live set the
    * process holds (corpus, indexes, caches), so work moved into memory
    * shows without the noise of when collections ran. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Milliseconds a fixed scalar loop takes on this thread: a gauge of
    * how fast the host ran during this run, for reading its noise. */
  def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L; var f = 1.0f; var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; f = f * 0.999999f + (x & 1); i += 1 }
    if (x == 42 && f == 0) println() // keeps the loop from being optimized away
    (System.nanoTime() - t0) / 1e6
  }

  /** Peak resident set (VmHWM) of this process in MB. */
  def rssPeakMb(): Double =
    firstLine("/proc/self/status", _.startsWith("VmHWM:")).split("\\s+")(1).toDouble / 1024.0

  private def firstLine(path: String, p: String => Boolean): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().find(p).get finally src.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
