package graft

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.function.IntFunction

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FSInputStream, FileRange,
  FileStatus, LocalFileSystem, Path}

import graft.operators.Ann
import graft.queries.{AnnQueries, HybridQueries, VectorQueries}
import graft.serving.Serving

/** A local file system that records every file it opens (the path,
  * the conf the instance was created with, how the stream was read and
  * whether it was closed), every dir it lists and every path it is
  * asked whether it exists. Instances are uncached
  * (`fs.file.impl.disable.cache`), so the record is global. */
class OpenCountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val rec = new OpenCountingFileSystem.Opened(f.toUri.getPath, getConf)
    OpenCountingFileSystem.opened.add(rec)
    new FSDataInputStream(new OpenCountingFileSystem.Counting(super.open(f, bufferSize), rec)) {
      override def close(): Unit = try super.close() finally rec.closed = true
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    OpenCountingFileSystem.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }

  override def exists(f: Path): Boolean = {
    OpenCountingFileSystem.existsAsked.add(f.toUri.getPath)
    super.exists(f)
  }
}

object OpenCountingFileSystem {
  final class Opened(val path: String, val conf: Configuration) {
    @volatile var closed = false
    /** Sequential bytes read, `seek` calls, positional reads
      * (`read(pos, …)`/`readFully(pos, …)`) and `readVectored` calls. */
    @volatile var bytes = 0L
    @volatile var seeks = 0
    @volatile var positioned = 0
    @volatile var vectored = 0
  }

  /** The stream under an opened [[FSDataInputStream]], counting into
    * `rec` every way the caller reads it. Like the checksummed stream it
    * wraps, it has no `ByteBuffer` read. */
  final class Counting(in: FSDataInputStream, rec: Opened) extends FSInputStream {
    override def read(): Int = { val b = in.read(); if (b >= 0) rec.bytes += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) rec.bytes += n; n
    }
    override def seek(pos: Long): Unit = { rec.seeks += 1; in.seek(pos) }
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      rec.positioned += 1; in.read(pos, b, off, len)
    }
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      rec.positioned += 1; in.readFully(pos, b, off, len)
    }
    override def readVectored(ranges: java.util.List[_ <: FileRange],
                              allocate: IntFunction[ByteBuffer]): Unit = {
      rec.vectored += 1; in.readVectored(ranges, allocate)
    }
    override def close(): Unit = in.close()
  }

  val opened = new ConcurrentLinkedQueue[Opened]()
  val listed = new ConcurrentLinkedQueue[String]()
  val existsAsked = new ConcurrentLinkedQueue[String]()

  /** A conf whose `file:` scheme is this file system, uncached. */
  def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[OpenCountingFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** The files `body` opens, in open order ([[listed]] and
    * [[existsAsked]] then hold its listings and existence checks). */
  def opens(body: => Any): Seq[Opened] = {
    opened.clear(); listed.clear(); existsAsked.clear()
    body
    opened.asScala.toSeq
  }
}

/** The serving read path opens exactly the pruned part files, with the
  * caller's Hadoop conf, lists each read dir once with no existence
  * check, and closes every stream it opens. */
class ServingReadPathSpec extends SparkSpec {
  import OpenCountingFileSystem.opens
  import spark.implicits._

  private def partFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath)

  private def assertOpened(got: Seq[OpenCountingFileSystem.Opened],
                           conf: Configuration, want: Seq[String]): Unit = {
    assert(got.map(_.path).sorted === want.sorted)
    assert(got.forall(_.conf eq conf), "every open must use the caller's conf")
    assert(got.forall(_.closed), "every opened stream must be closed")
  }

  test("uncached searchIvf opens only centroids/ and the probed cluster dirs, with the caller's conf") {
    val path = AnnQueries.persistedIvfPath(spark, sfDir)
    val conf = OpenCountingFileSystem.conf()
    val centroids = Ann.loadIvf(spark, path).centroids
    for (qi <- Seq(0, 3)) {
      val q = VectorQueries.qvec(spark, sfDir, qi).toArray
      val probed = Ann.rankProbes(centroids, q, 4)
      assert(probed.size === 4)
      var hits = Seq.empty[Serving.IvfHit]
      val got = opens { hits = Serving.searchIvf(path, q, 10, nprobe = 4, conf = conf) }
      assert(hits === Serving.searchIvf(path, q, 10, nprobe = 4))
      assertOpened(got, conf, partFiles(s"$path/centroids") ++
        probed.flatMap(c => partFiles(s"$path/corpus/ivf_cluster=$c")))
    }
  }

  test("uncached searchIvf lists each read dir once and checks no existence; " +
    "a missing dir decodes nothing") {
    import OpenCountingFileSystem.{existsAsked, listed}
    val path = AnnQueries.persistedIvfPath(spark, sfDir)
    val conf = OpenCountingFileSystem.conf()
    val q = VectorQueries.qvec(spark, sfDir, 0).toArray
    val probed = Ann.rankProbes(Ann.loadIvf(spark, path).centroids, q, 4)
    opens { Serving.searchIvf(path, q, 10, nprobe = 4, conf = conf) }
    assert(listed.asScala.toSeq.sorted ===
      (s"$path/centroids" +: probed.map(c => s"$path/corpus/ivf_cluster=$c")).sorted)
    assert(existsAsked.isEmpty, existsAsked.asScala.mkString(", "))

    val missing = s"$path/corpus/ivf_cluster=99999"
    var groups = 0
    val got = opens { Serving.foreachRowGroup(conf, missing, "vec_id")(_ => groups += 1) }
    assert(groups === 0 && got.isEmpty)
    assert(listed.asScala.toSeq === Seq(missing))
    assert(existsAsked.isEmpty, existsAsked.asScala.mkString(", "))
  }

  test("openHnsw lists graph/ once and checks no existence; a layout " +
    "without graph/ opens with no shards") {
    import OpenCountingFileSystem.{existsAsked, listed}
    val path = AnnQueries.persistedHnswPath(spark, sfDir)
    val conf = OpenCountingFileSystem.conf()
    val shardDirs = new java.io.File(s"$path/graph").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      .map(f => s"$path/graph/${f.getName}").toSeq
    assert(shardDirs.nonEmpty)
    var online: Serving.OnlineHnsw = null
    opens { online = Serving.openHnsw(path, conf) }
    assert(listed.asScala.toSeq.sorted ===
      (Seq(s"$path/params", s"$path/centroids", s"$path/graph") ++ shardDirs).sorted)
    assert(existsAsked.isEmpty, existsAsked.asScala.mkString(", "))
    assert(online.shardGraphs.map(_._1).sorted ===
      shardDirs.map(_.stripPrefix(s"$path/graph/shard=").toInt).sorted)

    withTempDir("hnsw-nograph") { dir =>
      for (sub <- Seq("params", "centroids")) {
        val to = new java.io.File(dir, sub); to.mkdirs()
        new java.io.File(s"$path/$sub").listFiles().filter(_.isFile).foreach { f =>
          java.nio.file.Files.copy(f.toPath, new java.io.File(to, f.getName).toPath)
        }
      }
      val base = dir.getAbsolutePath
      opens { online = Serving.openHnsw(base, conf) }
      assert(online.shardGraphs.isEmpty)
      assert(listed.asScala.count(_ == s"$base/graph") === 1)
      assert(existsAsked.isEmpty, existsAsked.asScala.mkString(", "))
    }
  }

  test("uncached searchBm25 opens only stats, manifest and the pruned range dirs") {
    val path = HybridQueries.persistedBm25(spark, sfDir)
    val conf = OpenCountingFileSystem.conf()
    val manifest = spark.read.parquet(s"$path/manifest")
      .select($"range_id", $"min_key", $"max_key").as[(Int, String, String)].collect()
    for (terms <- Seq(Seq("vector"), Seq("hash", "join"), Seq("zzznotaterm"))) {
      val pruned = manifest.collect {
        case (rid, lo, hi) if lo != null && terms.exists(t => t >= lo && t <= hi) => rid
      }
      assert(pruned.length < manifest.length, s"$terms must prune some range")
      var hits = Seq.empty[Serving.Bm25Hit]
      val got = opens { hits = Serving.searchBm25(path, terms, 10, conf = conf) }
      assert(hits === Serving.searchBm25(path, terms, 10))
      assertOpened(got, conf, partFiles(s"$path/stats") ++ partFiles(s"$path/manifest") ++
        pruned.flatMap(r => partFiles(s"$path/postings/range_id=$r")))
    }
  }

  test("uncached searchIvf and searchBm25 read each opened part file once, front to back, " +
    "with no seek and no positional or vectored read") {
    def assertReadOnce(got: Seq[OpenCountingFileSystem.Opened]): Unit = {
      assert(got.nonEmpty)
      got.foreach { o =>
        assert((o.bytes, o.seeks, o.positioned, o.vectored) ===
          ((new java.io.File(o.path).length, 0, 0, 0)), o.path)
      }
    }
    val ivf = AnnQueries.persistedIvfPath(spark, sfDir)
    val conf = OpenCountingFileSystem.conf()
    val q = VectorQueries.qvec(spark, sfDir, 0).toArray
    assertReadOnce(opens { Serving.searchIvf(ivf, q, 10, nprobe = 4, conf = conf) })
    val bm25 = HybridQueries.persistedBm25(spark, sfDir)
    assertReadOnce(opens { Serving.searchBm25(bm25, Seq("hash", "join"), 10, conf = conf) })
  }

  test("a flipped byte in a probed IVF cell or BM25 range file fails loudly, naming the file") {
    def copyTree(from: java.io.File, to: java.io.File): Unit =
      if (from.isDirectory) {
        to.mkdirs()
        from.listFiles().foreach(f => copyTree(f, new java.io.File(to, f.getName)))
      } else java.nio.file.Files.copy(from.toPath, to.toPath)
    // flip the middle byte of the first part file under `dir`, leaving its .crc as it is
    def flipOne(dir: String): String = {
      val file = partFiles(dir).min
      val p = java.nio.file.Paths.get(file)
      val b = java.nio.file.Files.readAllBytes(p)
      b(b.length / 2) = (~b(b.length / 2)).toByte
      java.nio.file.Files.write(p, b)
      file
    }
    withTempDir("serving-flipped") { tmp =>
      val ivf = s"${tmp.getPath}/ivf"
      copyTree(new java.io.File(AnnQueries.persistedIvfPath(spark, sfDir)), new java.io.File(ivf))
      val q = VectorQueries.qvec(spark, sfDir, 0).toArray
      val probed = Ann.rankProbes(Ann.loadIvf(spark, ivf).centroids, q, 4)
      val cell = flipOne(s"$ivf/corpus/ivf_cluster=${probed.head}")
      val e1 = intercept[ChecksumException](Serving.searchIvf(ivf, q, 10, nprobe = 4))
      assert(e1.getMessage.contains(cell), e1.getMessage)

      val bm25 = s"${tmp.getPath}/bm25"
      copyTree(new java.io.File(HybridQueries.persistedBm25(spark, sfDir)), new java.io.File(bm25))
      val rid = spark.read.parquet(s"$bm25/manifest").select($"range_id", $"min_key", $"max_key")
        .as[(Int, String, String)].collect()
        .collectFirst { case (r, lo, hi) if lo != null && "vector" >= lo && "vector" <= hi => r }.get
      val range = flipOne(s"$bm25/postings/range_id=$rid")
      val e2 = intercept[ChecksumException](Serving.searchBm25(bm25, Seq("vector"), 10))
      assert(e2.getMessage.contains(range), e2.getMessage)
    }
  }

  test("the whole-file read refuses a file over Int.MaxValue bytes before opening it, " +
    "naming the path") {
    withTempDir("serving-oversize") { tmp =>
      val f = new java.io.File(tmp, "small.parquet")
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      val conf = OpenCountingFileSystem.conf()
      val real = Serving.partFiles(conf, tmp.getPath).head
      val huge = new FileStatus(Int.MaxValue.toLong + 1, false, 1, real.getBlockSize,
        real.getModificationTime, real.getPath)
      var err: java.io.IOException = null
      val got = opens { err = intercept[java.io.IOException](Serving.readPart(conf, huge)) }
      assert(err.getMessage.contains(real.getPath.toString), err.getMessage)
      assert(got.isEmpty, "the guard must throw before the file is opened")
      assert(Serving.readPart(conf, real).toSeq === Seq[Byte](1, 2, 3))
    }
  }

  test("a loader that throws mid-file still closes every stream it opened") {
    withTempDir("serving-readpath") { tmp =>
      val dir = tmp.getPath
      // an IVF layout whose centroid table holds a null vector
      val emb = (0 until 40).map(i => (i.toLong, i % 2, Seq(i.toFloat, 1f, -i.toFloat)))
        .toDF("vec_id", "label", "embedding")
      Ann.saveIvf(Ann.buildIvf(emb, numClusters = 4), dir)
      Seq((0, Option(Seq(0f, 1f, 0f))), (1, None), (2, Option(Seq(1f, 1f, 1f))))
        .toDF("cluster_id", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/centroids")
      val conf = OpenCountingFileSystem.conf()
      var err: IllegalStateException = null
      val got = opens {
        err = intercept[IllegalStateException](
          Serving.searchIvf(dir, Array(0f, 1f, 0f), 5, nprobe = 2, conf = conf))
      }
      val file = partFiles(s"$dir/centroids").map(new java.io.File(_).getName)
      assert(file.size === 1)
      assert(err.getMessage.contains(s"$dir/centroids/${file.head}") &&
        err.getMessage.contains("'centroid'"), err.getMessage)
      assertOpened(got, conf, partFiles(s"$dir/centroids"))

      // the manifest's edge rule: a null min_key marks an empty range,
      // but a null max_key beside a non-null min_key is a broken row
      val bm = s"$dir/bm25"
      Seq((0L, 4L)).toDF("n", "avgdl").selectExpr("n", "cast(avgdl as double) avgdl")
        .write.parquet(s"$bm/stats")
      Seq((0, Option("a"), Option("m")), (1, None, None), (2, Option("n"), None))
        .toDF("range_id", "min_key", "max_key").coalesce(1).write.parquet(s"$bm/manifest")
      val got2 = opens {
        err = intercept[IllegalStateException](
          Serving.searchBm25(bm, Seq("b"), 5, conf = conf))
      }
      assert(err.getMessage.contains(s"$bm/manifest/") &&
        err.getMessage.contains("'max_key'"), err.getMessage)
      assertOpened(got2, conf, partFiles(s"$bm/stats") ++ partFiles(s"$bm/manifest"))
    }
  }
}
