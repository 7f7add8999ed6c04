package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.serving.Serving

/** The serving probes' row-group column decoder against Spark's own
  * parquet reader: every value of every row, in file order, over
  * several row groups per file, several part files plus an empty one,
  * null and empty lists, multi-byte UTF-8, and dictionary-encoded,
  * plain and mixed (dictionary fallback) pages. */
class ServingDecodeSpec extends SparkSpec {

  private val conf = new Configuration()

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType, nullable = false),
    StructField("d", DoubleType, nullable = false),
    StructField("b", BooleanType, nullable = false),
    StructField("s", StringType, nullable = true),
    StructField("fl", ArrayType(FloatType, containsNull = false), nullable = true),
    StructField("ll", ArrayType(LongType, containsNull = false), nullable = false)))

  private val words = Seq("검색", "벡터 색인", "한국어 말뭉치", "naïve café", "😀 emoji",
    "ascii", "")

  /** `n` seeded rows; from row `distinctFrom` on, strings are distinct
    * (which defeats a dictionary), before it they repeat. */
  private def table(n: Int, distinctFrom: Int): DataFrame = {
    val rnd = new scala.util.Random(17)
    val rows = (0 until n).map { r =>
      val s = if (r % 11 == 3) null
        else if (r >= distinctFrom) s"${words(r % words.length)}-문서-$r"
        else words(rnd.nextInt(words.length))
      val fl = r % 13 match {
        case 5 => null
        case 6 => Seq.empty[Float]
        case 7 => Seq(Float.NaN, -0.0f, Float.MinPositiveValue, Float.MaxValue)
        case _ => Seq.fill(rnd.nextInt(9) + 1)(rnd.nextGaussian().toFloat)
      }
      val ll = if (r % 17 == 2) Seq.empty[Long]
        else Seq.fill(rnd.nextInt(5) + 1)(rnd.nextLong())
      Row(r.toLong * 3 - 1000L, rnd.nextInt(), if (r % 19 == 4) Double.NaN else rnd.nextDouble() - 0.5,
        rnd.nextBoolean(), s, fl, ll)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Write `df` as 3 part files plus one 0-row part file, with row
    * groups and pages small enough that every file holds several. */
  private def write(df: DataFrame, dir: String, dictionary: Boolean,
                    dictPageBytes: Int = 1 << 20): Unit = {
    def w(d: DataFrame) = d.write
      .option("parquet.block.size", 4096)
      .option("parquet.page.size", 1024)
      .option("parquet.enable.dictionary", dictionary)
      .option("parquet.dictionary.page.size", dictPageBytes)
    w(df.repartition(3)).parquet(dir)
    w(df.limit(0)).mode("append").parquet(dir)
  }

  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq

  /** A decoded row, with floats and doubles as their bits (NaN-safe). */
  private type Decoded = (Long, Int, Long, Boolean, String, Option[Seq[Int]], Seq[Long])

  private def fromSpark(r: Row): Decoded =
    (r.getLong(0), r.getInt(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
      r.getBoolean(3), r.getString(4),
      Option(r.getSeq[Float](5)).map(_.map(java.lang.Float.floatToRawIntBits)),
      r.getSeq[Long](6))

  private def decode(dir: String): (Seq[Decoded], Int) = {
    val out = mutable.ArrayBuffer.empty[Decoded]
    var groups = 0
    Serving.foreachRowGroup(conf, dir, "id", "i", "d", "b", "s", "fl", "ll") { rg =>
      val id = rg.longs("id"); val i = rg.ints("i"); val d = rg.doubles("d")
      val b = rg.bools("b"); val s = rg.strings("s", nullable = true)
      val fl = rg.floatLists("fl", nullable = true); val ll = rg.longLists("ll")
      for (r <- 0 until rg.rows)
        out += ((id(r), i(r), java.lang.Double.doubleToRawLongBits(d(r)), b(r), s(r),
          Option(fl(r)).map(_.toSeq.map(java.lang.Float.floatToRawIntBits)), ll(r).toSeq))
      groups += 1
    }
    (out.toSeq, groups)
  }

  /** Encodings of column `col`'s chunks over every row group of `dir`. */
  private def encodings(dir: String, col: String): Set[Encoding] =
    partFiles(dir).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getRowGroups.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toArray.head == col).flatMap(_.getEncodings.asScala)
      finally r.close()
    }.toSet

  private def rowCounts(dir: String): Seq[Long] =
    partFiles(dir).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getRecordCount finally r.close()
    }

  for ((name, distinctFrom, dictionary, dictPageBytes) <- Seq(
      ("dictionary-encoded", Int.MaxValue, true, 1 << 20),
      ("plain", 0, false, 1 << 20),
      ("dictionary falling back to plain", 1500, true, 256))) {
    test(s"decoder == spark.read.parquet row for row: $name pages") {
      withTempDir("serving-decode") { tmp =>
        val dir = s"${tmp.getPath}/t"
        write(table(3000, distinctFrom), dir, dictionary, dictPageBytes)
        val counts = rowCounts(dir)
        assert(counts.size === 4 && counts.count(_ == 0) === 1 && counts.sum === 3000)
        val enc = encodings(dir, "s")
        val dict = enc.exists(_.usesDictionary)
        name match {
          case "dictionary-encoded" => assert(dict)
          case "plain" => assert(!dict)
          case _ => assert(dict && enc.contains(Encoding.PLAIN))
        }
        val (got, groups) = decode(dir)
        assert(groups >= 3 * 2, s"only $groups row groups in 3 files")
        // file by file in name order, each in its own row order
        val want = partFiles(dir).flatMap(f => spark.read.parquet(f).collect().map(fromSpark))
        assert(got.size === want.size)
        got.zip(want).zipWithIndex.foreach { case ((g, w), r) => assert(g === w, s"row $r") }
        // and the whole dir as Spark reads it
        assert(got.sortBy(_._1) === spark.read.parquet(dir).collect().map(fromSpark).toSeq.sortBy(_._1))
        assert(got.exists(_._5 == null) && got.exists(_._6.isEmpty) &&
          got.exists(_._6.exists(_.isEmpty)) && got.exists(_._7.isEmpty))
        assert(got.exists(r => r._5 != null && r._5.exists(_ > 0x7f)))
      }
    }
  }

  test("decoder fails loudly on a null in a required column, naming file and column") {
    withTempDir("serving-decode-null") { tmp =>
      val dir = s"${tmp.getPath}/t"
      write(table(600, distinctFrom = Int.MaxValue), dir, dictionary = true)
      def firstFailure(read: Serving.RowGroup => Unit): String =
        intercept[IllegalStateException](Serving.foreachRowGroup(conf, dir, "s", "fl")(read))
          .getMessage
      val file = partFiles(dir).zip(rowCounts(dir))
        .collectFirst { case (f, n) if n > 0 => new java.io.File(f).getName }.get
      for ((col, read) <- Seq[(String, Serving.RowGroup => Unit)](
          "s" -> (rg => rg.strings("s")), "fl" -> (rg => rg.floatLists("fl")))) {
        val msg = firstFailure(read)
        assert(msg.contains(s"$dir/$file") && msg.contains(s"'$col'"), msg)
      }
      val missing = intercept[IllegalStateException](
        Serving.foreachRowGroup(conf, dir, "s")(rg => rg.longs("nope"))).getMessage
      assert(missing.contains(file) && missing.contains("'nope'"), missing)
    }
  }
}
