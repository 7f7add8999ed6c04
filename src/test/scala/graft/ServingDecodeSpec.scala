package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.bytes.{BytesInput, HeapByteBufferAllocator}
import org.apache.parquet.column.Encoding
import org.apache.parquet.column.page.DataPage
import org.apache.parquet.column.values.plain.PlainValuesWriter
import org.apache.parquet.column.values.rle.RunLengthBitPackingHybridValuesWriter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.serving.Serving

/** The serving probes' row-group column decoder against Spark's own
  * parquet reader: every value of every row, in file order, over
  * several row groups per file, several part files plus an empty one,
  * null and empty lists, multi-byte UTF-8, and dictionary-encoded,
  * plain and mixed (dictionary fallback) pages, in v1 and v2 data
  * pages (v2 with its DELTA_* and RLE boolean encodings); dictionaries
  * past 256 entries; bit-packed runs cut mid-group by a page's end; and
  * list rows that cross page boundaries. */
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
    * groups and pages small enough that every file holds several;
    * `v2` writes v2 data pages. */
  private def write(df: DataFrame, dir: String, dictionary: Boolean,
                    dictPageBytes: Int = 1 << 20, v2: Boolean = false): Unit = {
    def w(d: DataFrame) = d.write
      .option("parquet.block.size", 4096)
      .option("parquet.page.size", 1024)
      .option("parquet.enable.dictionary", dictionary)
      .option("parquet.dictionary.page.size", dictPageBytes)
      .option("parquet.writer.version", if (v2) "v2" else "v1")
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

  /** Every data page of column `col` over every row group of `dir`,
    * and the entry count of each dictionary page. */
  private def pages(dir: String, col: String): (Seq[DataPage], Seq[Int]) = {
    val data = mutable.ArrayBuffer.empty[DataPage]
    val dicts = mutable.ArrayBuffer.empty[Int]
    partFiles(dir).foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        val desc = r.getFooter.getFileMetaData.getSchema.getColumns.asScala
          .filter(_.getPath.head == col).head
        var rg = r.readNextRowGroup()
        while (rg != null) {
          val pr = rg.getPageReader(desc)
          Option(pr.readDictionaryPage()).foreach(d => dicts += d.getDictionarySize)
          var p = pr.readPage()
          while (p != null) { data += p; p = pr.readPage() }
          rg = r.readNextRowGroup()
        }
      } finally r.close()
    }
    (data.toSeq, dicts.toSeq)
  }

  /** `dir`'s rows as Spark reads them, file by file in name order, each
    * in its own row order, with floats as their bits. */
  private def sparkRows(dir: String)(row: Row => Any): Seq[Any] =
    partFiles(dir).flatMap(f => spark.read.parquet(f).collect().map(row))

  private def rowCounts(dir: String): Seq[Long] =
    partFiles(dir).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getRecordCount finally r.close()
    }

  for ((name, distinctFrom, dictionary, dictPageBytes, v2) <- Seq(
      ("dictionary-encoded", Int.MaxValue, true, 1 << 20, false),
      ("plain", 0, false, 1 << 20, false),
      ("dictionary falling back to plain", 1500, true, 256, false),
      ("v2 dictionary-encoded", Int.MaxValue, true, 1 << 20, true),
      ("v2 delta-encoded", 0, false, 1 << 20, true))) {
    test(s"decoder == spark.read.parquet row for row: $name pages") {
      withTempDir("serving-decode") { tmp =>
        val dir = s"${tmp.getPath}/t"
        write(table(3000, distinctFrom), dir, dictionary, dictPageBytes, v2)
        val counts = rowCounts(dir)
        assert(counts.size === 4 && counts.count(_ == 0) === 1 && counts.sum === 3000)
        val enc = encodings(dir, "s")
        val dict = enc.exists(_.usesDictionary)
        name match {
          case "dictionary-encoded" => assert(dict)
          case "plain" => assert(!dict)
          case "dictionary falling back to plain" => assert(dict && enc.contains(Encoding.PLAIN))
          case "v2 dictionary-encoded" => assert(enc.contains(Encoding.RLE_DICTIONARY))
          case "v2 delta-encoded" =>
            assert(!dict && enc.contains(Encoding.DELTA_BYTE_ARRAY), enc)
            for (c <- Seq("id", "i", "ll"))
              assert(encodings(dir, c).contains(Encoding.DELTA_BINARY_PACKED), c)
            assert(encodings(dir, "b").contains(Encoding.RLE))
        }
        val kinds = Seq("id", "s", "fl").flatMap(c => pages(dir, c)._1.map(_.getClass.getSimpleName)).toSet
        assert(kinds === Set(if (v2) "DataPageV2" else "DataPageV1"))
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

  test("decoder == spark.read.parquet: dictionaries past 256 entries, " +
    "bit-packed runs cut mid-group") {
    withTempDir("serving-decode-runs") { tmp =>
      // 2999 rows in one page: 700 dictionary entries, so 10-bit ids,
      // bit-packed (no value repeats 8 times running), with the last
      // group cut at 7 values
      val wide = s"${tmp.getPath}/wide"
      spark.range(2999).selectExpr("id", "(id * 13) % 700 AS k",
          "concat('키-', cast((id * 13) % 700 AS string)) AS ks")
        .coalesce(1).write.parquet(wide)
      for (c <- Seq("k", "ks")) {
        val (data, dicts) = pages(wide, c)
        assert(dicts.nonEmpty && dicts.forall(_ > 256), s"$c: dictionaries of $dicts entries")
        assert(data.forall(_.getValueCount % 8 != 0), c)
      }
      val got = mutable.ArrayBuffer.empty[(Long, Long, String)]
      Serving.foreachRowGroup(conf, wide, "id", "k", "ks") { rg =>
        val id = rg.longs("id"); val k = rg.longs("k"); val ks = rg.strings("ks")
        for (r <- 0 until rg.rows) got += ((id(r), k(r), ks(r)))
      }
      assert(got.toSeq === sparkRows(wide)(r => (r.getLong(0), r.getLong(1), r.getString(2))))

      // pages of 13 rows: the definition levels of nulls on every 5th
      // row and the ids of small dictionaries are bit-packed, each
      // page's runs cut at 13 = 8 + 5 values
      val short = s"${tmp.getPath}/short"
      spark.range(1000).selectExpr("id",
          "IF(id % 5 = 1, NULL, concat('s', cast(id % 6 AS string))) AS os",
          "id % 5 AS low")
        .coalesce(1).write
        .option("parquet.page.row.count.limit", 13)
        .option("parquet.page.size.row.check.min", 1)
        .option("parquet.page.size.row.check.max", 1)
        .parquet(short)
      for (c <- Seq("os", "low")) {
        val (data, _) = pages(short, c)
        assert(data.count(_.getValueCount == 13) >= 70, s"$c: ${data.map(_.getValueCount)}")
        assert(encodings(short, c).exists(_.usesDictionary), c)
      }
      val got2 = mutable.ArrayBuffer.empty[(Long, String, Long)]
      Serving.foreachRowGroup(conf, short, "id", "os", "low") { rg =>
        val id = rg.longs("id"); val os = rg.strings("os", nullable = true)
        val low = rg.longs("low")
        for (r <- 0 until rg.rows) got2 += ((id(r), os(r), low(r)))
      }
      assert(got2.toSeq === sparkRows(short)(r => (r.getLong(0), r.getString(1), r.getLong(2))))
      assert(got2.exists(_._2 == null))
    }
  }

  test("decoder == spark.read.parquet: list rows that cross v1 page boundaries") {
    withTempDir("serving-decode-cross") { tmp =>
      val dir = s"${tmp.getPath}/t"
      val schema = MessageTypeParser.parseMessageType(
        """message spark_schema {
          |  optional group fl (LIST) {
          |    repeated group list { required float element; }
          |  }
          |}""".stripMargin)
      val desc = schema.getColumns.get(0)
      val rnd = new scala.util.Random(23)
      val rows = (0 until 400).map { r =>
        if (r % 17 == 3) None
        else Some(Seq.fill(if (r % 13 == 5) 0 else rnd.nextInt(90))(rnd.nextGaussian().toFloat))
      }
      // one (rep, def, value) slot per element, or per null or empty list
      val slots = rows.flatMap {
        case None => Seq((0, 0, None))
        case Some(xs) if xs.isEmpty => Seq((0, 1, None))
        case Some(xs) => xs.indices.map(i => (if (i == 0) 0 else 1, 2, Some(xs(i))))
      }
      // parquet-mr ends a page only between rows, so write the pages by
      // hand: 37 slots each, which cuts rows (and level runs) anywhere
      val perPage = 37
      assert(slots.indices.by(perPage).count(i => slots(i)._1 == 1) > 20,
        "pages must start inside rows")
      val w = new ParquetFileWriter(conf, schema, new Path(s"$dir/part-00000.parquet"))
      w.start()
      w.startBlock(rows.size)
      w.startColumn(desc, slots.size, CompressionCodecName.UNCOMPRESSED)
      val heap = HeapByteBufferAllocator.getInstance
      slots.grouped(perPage).foreach { page =>
        val rl = new RunLengthBitPackingHybridValuesWriter(1, 64, 1024, heap)
        val dl = new RunLengthBitPackingHybridValuesWriter(2, 64, 1024, heap)
        val values = new PlainValuesWriter(64, 1024, heap)
        page.foreach { case (r, d, v) =>
          rl.writeInteger(r); dl.writeInteger(d); v.foreach(values.writeFloat)
        }
        val bytes = BytesInput.concat(rl.getBytes, dl.getBytes, values.getBytes)
        w.writeDataPage(page.size, bytes.size.toInt, bytes,
          Encoding.RLE, Encoding.RLE, Encoding.PLAIN)
      }
      w.endColumn()
      w.endBlock()
      w.end(new java.util.HashMap[String, String]())

      val got = mutable.ArrayBuffer.empty[Option[Seq[Int]]]
      Serving.foreachRowGroup(conf, dir, "fl") { rg =>
        got ++= rg.floatLists("fl", nullable = true)
          .map(r => Option(r).map(_.toSeq.map(java.lang.Float.floatToRawIntBits)))
      }
      val want = rows.map(_.map(_.map(java.lang.Float.floatToRawIntBits)))
      assert(got.toSeq === want)
      assert(sparkRows(dir)(r => Option(r.getSeq[Float](0))
        .map(_.map(java.lang.Float.floatToRawIntBits))) === want)
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
