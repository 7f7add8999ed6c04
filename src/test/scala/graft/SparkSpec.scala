package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs (one JVM-wide session —
  * scalatest runs suites sequentially in the forked test JVM), built on
  * the [[GraftSession]] profile that Verify and Bench use. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Each test is one query boundary: the caches and checkpoints its
    * operators registered are released when it ends, pass or fail. */
  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally graft.operators.Dedup.releasePending()

  /** Recursive delete (shared by every temp-dir-using spec). */
  protected def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Run `body` against a fresh temp dir, always cleaning it up. */
  protected def withTempDir[A](prefix: String)(body: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir) finally rmTree(dir)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
