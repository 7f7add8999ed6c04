package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}

import graft.operators.Ann
import graft.queries.{AnnQueries, HybridQueries, VectorQueries}
import graft.serving.Serving

/** A local file system that records every file it opens: the path,
  * the conf the instance was created with, and whether the stream was
  * closed. Instances are uncached (`fs.file.impl.disable.cache`), so
  * the record is global. */
class OpenCountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val rec = new OpenCountingFileSystem.Opened(f.toUri.getPath, getConf)
    OpenCountingFileSystem.opened.add(rec)
    new FSDataInputStream(super.open(f, bufferSize)) {
      override def close(): Unit = try super.close() finally rec.closed = true
    }
  }
}

object OpenCountingFileSystem {
  final class Opened(val path: String, val conf: Configuration) {
    @volatile var closed = false
  }
  val opened = new ConcurrentLinkedQueue[Opened]()

  /** A conf whose `file:` scheme is this file system, uncached. */
  def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[OpenCountingFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** The files `body` opens, in open order. */
  def opens(body: => Any): Seq[Opened] = {
    opened.clear()
    body
    opened.asScala.toSeq
  }
}

/** The serving read path opens exactly the pruned part files, with the
  * caller's Hadoop conf, and closes every stream it opens. */
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
