package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north-star scope, BASELINE.md): treat
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, and run decode / feature-extract / resize / frame-sample as
  * batched per-partition functions.
  *
  * IMAGE decode is REAL: `javax.imageio` (pure JDK, headless-safe)
  * encodes/decodes PNG payloads, and `kind = image` rows flow through
  * genuine pixel decode → histogram features. Audio/video kernels stay
  * STUBS (this container ships no media codecs — marked below);
  * everything Spark-side is real for all kinds: the schema, the
  * mapPartitions batch shape (amortize per-partition model/codec init,
  * exactly how an ONNX/ffmpeg impl slots in), and the partitioning
  * story (media rows are large → size partitions by bytes via
  * `spark.sql.files.maxPartitionBytes`, never groupBy raw binary).
  */
object Multimodal {

  // ------------------------------------------------------- PNG codec (real)

  /** Encode an 8-bit grayscale raster as PNG bytes (row-major samples,
    * one per pixel). Pure-JDK ImageIO; lossless, so decode(encode(px))
    * == px — the property the oracle gate leans on. */
  def encodePng(w: Int, h: Int, gray: Array[Int]): Array[Byte] = {
    require(gray.length == w * h, s"raster ${gray.length} != $w x $h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < gray.length) { raster.setSample(i % w, i / w, 0, gray(i)); i += 1 }
    val out = new java.io.ByteArrayOutputStream()
    // explicit memory-cache stream: the OutputStream overload wraps in
    // a FileCacheImageOutputStream — a TEMP FILE created+deleted per
    // call (the audio SPI lesson's imageio twin: ~340k filesystem
    // round-trips at the 100× fixture, all on one temp dir)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    javax.imageio.ImageIO.write(img, "png", ios)
    ios.flush()
    out.toByteArray
  }

  /** Decode image bytes to (width, height, row-major gray samples).
    * Raw raster samples — NOT `getRGB`, whose gray→sRGB colorspace
    * conversion would silently rewrite the values. Multi-band images
    * read band 0. */
  def decodeGray(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val (w, h, px, _) = decodeGrayDepth(bytes)
    (w, h, px)
  }

  /** [[decodeGray]] plus band-0's sample bit depth — callers whose
    * math assumes 8-bit values (histogram binning) must check it. */
  def decodeGrayDepth(bytes: Array[Byte]): (Int, Int, Array[Int], Int) = {
    // memory-cache stream for the same reason as encodePng: the bare
    // InputStream overload spools through a per-call temp FILE
    val img = javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
    require(img != null, "decodeGray: ImageIO could not decode payload")
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    val px = new Array[Int](w * h)
    var i = 0
    while (i < px.length) { px(i) = raster.getSample(i % w, i / w, 0); i += 1 }
    (w, h, px, raster.getSampleModel.getSampleSize(0))
  }

  /** The deterministic pixel generator behind [[syntheticMedia]]'s
    * image payloads: pure integer math both engines replay —
    * `p(x,y) = (id·2654435761 + x·40503 + y·65027) mod 256`, with
    * FLOORED mod (`Math.floorMod`, `((x % 256) + 256) % 256` in SQL):
    * a signed `%` on a negative media_id would emit negative samples
    * that the PNG raster silently wraps, breaking
    * decode(encode(gen)) == formula parity with the oracle — the same
    * negative-id discipline [[syntheticMedia]]'s pmod columns use. */
  def synthPixel(id: Long, x: Int, y: Int): Int =
    Math.floorMod(id * 2654435761L + x * 40503L + y * 65027L, 256L).toInt

  private[operators] def synthDims(id: Long): (Int, Int) =
    ((8 + Math.floorMod(id, 5L)).toInt, (8 + Math.floorMod(id, 3L)).toInt)

  // ------------------------------------------------------------- audio (WAV)

  /** Audio twin of [[synthPixel]]: deterministic PCM16 sample both
    * engines replay — `s(i) = floorMod(id·48271 + i·16807, 65536) −
    * 32768` (full signed 16-bit range; floored mod per the negative-id
    * discipline). */
  def synthSample(id: Long, i: Int): Int =
    Math.floorMod(id * 48271L + i * 16807L, 65536L).toInt - 32768

  private[operators] def synthAudioLen(id: Long): Int =
    (400 + Math.floorMod(id, 7L) * 100).toInt

  /** Fixture sample rate (8 kHz mono — telephony PCM). */
  val AudioSampleRate = 8000

  /** Encode PCM16 mono samples as a WAV payload through the JDK's own
    * RIFF/WAVE writer (`javax.sound.sampled` ships with the JRE — the
    * codec-availability probe that kept audio stubbed missed it). */
  // The JDK's RIFF/WAVE codec, resolved ONCE per JVM via the public
  // SPI: every AudioSystem.getAudioInputStream/write call routes
  // through JDK13Services.getProviders — a synchronized static that
  // re-scans the ServiceLoader — which SERIALIZES all executor
  // threads (measured on this JRE, SCALEBENCH.md r13: encode+decode of
  // 20k clips takes 3.7 s on 32 threads vs 2.5 s on one — negative
  // scaling; the r12 100× audio pair spent ~220 s mostly queued on
  // that lock). Calling the resolved provider directly is the SAME
  // real codec minus the global lock; provider instances are
  // stateless (each call builds fresh streams). AudioSystem stays the
  // fallback if the SPI lists nothing.
  private lazy val wavReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    var out = List.empty[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) out = it.next() :: out
    // WAVE-capable readers FIRST: the JRE's SPI order is (Aiff, Au,
    // SoftMidi, Wave, …) and each miss costs an exception fill-in —
    // and the SoftMidi reader re-enters the synchronized MidiSystem
    // provider registry, which re-serializes all threads (measured:
    // 20k decodes 1.6 s via the trial loop vs 0.04 s straight to
    // WaveFileReader at 32 threads). This function decodes RIFF/WAVE
    // by contract, so Wave-first is semantics-neutral.
    val (wave, rest) = out.reverse.partition(
      _.getClass.getSimpleName.startsWith("Wave"))
    wave ++ rest
  }
  private lazy val wavWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    var found: Option[javax.sound.sampled.spi.AudioFileWriter] = None
    while (found.isEmpty && it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
        found = Some(w)
    }
    found
  }

  def encodeWavPcm16(samples: Array[Int], sampleRate: Int = AudioSampleRate): Array[Byte] = {
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    wavWriter match {
      case Some(w) =>
        w.write(in, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      case None =>
        javax.sound.sampled.AudioSystem.write(in,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    }
    out.toByteArray
  }

  /** REAL WAV decode via the JDK codec → (sampleRate, channels,
    * interleaved samples). PCM16 only — the honest boundary: WAV/AU/
    * AIFF PCM decode ships with the JRE; compressed codecs (mp3/ogg/
    * aac) genuinely do not exist in this container and stay stubbed. */
  def decodeWavPcm16(payload: Array[Byte]): (Int, Int, Array[Int]) = {
    // mimic AudioSystem's provider loop over the ONE pre-resolved SPI
    // list (lock-free, see wavReaders); fall back to AudioSystem only
    // when the SPI lists no readers at all
    def viaProviders: javax.sound.sampled.AudioInputStream = {
      var rs = wavReaders
      while (rs.nonEmpty) {
        try return rs.head.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
        rs = rs.tail
      }
      javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
    }
    val ais = viaProviders
    val fmt = ais.getFormat
    require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        && fmt.getSampleSizeInBits == 16,
      s"decodeWavPcm16: ${fmt.getEncoding}/${fmt.getSampleSizeInBits}-bit — " +
        "only PCM16 is supported")
    val raw = ais.readAllBytes()
    val n = raw.length / 2
    val out = new Array[Int](n)
    var i = 0
    if (fmt.isBigEndian)
      while (i < n) { out(i) = (raw(2 * i) << 8) | (raw(2 * i + 1) & 0xff); i += 1 }
    else
      while (i < n) { out(i) = (raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff); i += 1 }
    (fmt.getSampleRate.toInt, fmt.getChannels, out)
  }

  /** `"RIFF"` container sniff — how [[extractFeatures]] routes audio
    * payloads between the real WAV decoder and the stub. */
  def isRiff(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'R' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == 'F'

  /** Deterministic synthetic audio table: one REAL WAV payload per doc
    * (samples from [[synthSample]], length [[synthAudioLen]]) — the
    * audio twin of [[syntheticMedia]]'s PNG rows, kept as a separate
    * generator so the existing media fixtures (and their green
    * oracles) stay byte-stable. */
  def syntheticAudio(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val wavUdf = udf { (id: Long) =>
      encodeWavPcm16(Array.tabulate(synthAudioLen(id))(i => synthSample(id, i)))
    }
    docs.select(col(idCol).as("media_id"), wavUdf(col(idCol)).as("bytes"))
  }

  /** Decode-fidelity report for WAV rows — the audio twin of
    * [[imageDecodeReport]]: real JDK decode, exact integer sample sum,
    * md5 digest of the comma-joined samples. WAV PCM is lossless, so
    * decode(encode(generator)) must reproduce the generator bit-for-
    * bit and DuckDB verifies from the formula alone. */
  def audioDecodeReport(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("amp_sum", LongType, nullable = false),
      StructField("samples_digest", StringType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (rate, _, smp) = decodeWavPcm16(r.getAs[Array[Byte]](bytesIdx))
        md.reset()
        val hex = md.digest(smp.mkString(",").getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        Row(r.getLong(idIdx), rate, smp.length.toLong, smp.map(_.toLong).sum, hex)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL audio features: JDK WAV decode → `dim`-bin amplitude
    * histogram (signed 16-bit samples shifted to [0, 65536)), each bin
    * an exact integer count divided once by the sample count — the
    * audio twin of [[imageHistogramFeatures]]'s exactness contract. */
  def audioHistogramFeatures(bytes: Array[Byte], dim: Int): Array[Double] = {
    val (_, _, smp) = decodeWavPcm16(bytes)
    val counts = new Array[Long](dim)
    var i = 0
    while (i < smp.length) {
      counts(((smp(i) + 32768) * dim / 65536)) += 1L; i += 1
    }
    val n = smp.length.toDouble
    counts.map(_.toDouble / n)
  }

  /** Canonical media schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  /** Deterministic synthetic media table derived from a text corpus —
    * the fixture stand-in for binary payloads. `kind = image` rows
    * carry REAL PNG bytes (encoded from the [[synthPixel]] generator,
    * dims [[synthDims]]) with truthful metadata, so the decode path
    * exercises a genuine codec; audio/video rows keep opaque
    * text-derived bytes for the stub kernels. */
  def syntheticMedia(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    // pmod: negative ids under % would hit index 0 (error) or wrap to a
    // wrong element via element_at's from-the-end negative indexing
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      (pmod(col(idCol), lit(3)) + 1).cast("int"))
    val pngUdf = udf { (id: Long) =>
      val (w, h) = synthDims(id)
      encodePng(w, h, Array.tabulate(w * h)(i => synthPixel(id, i % w, i / w)))
    }
    val isImage = pmod(col(idCol), lit(3)) === 0
    docs.select(
      col(idCol).as("media_id"),
      kind.as("kind"),
      when(isImage, pngUdf(col(idCol)))
        .otherwise(col(textCol).cast("binary")).as("bytes"),
      struct(
        when(isImage, lit("png")).otherwise(lit("synthetic")).as("format"),
        when(isImage, (lit(8) + pmod(col(idCol), lit(5))).cast("int"))
          .otherwise((length(col(textCol)) % 640).cast("int")).as("width"),
        when(isImage, (lit(8) + pmod(col(idCol), lit(3))).cast("int"))
          .otherwise((length(col(textCol)) % 480).cast("int")).as("height"),
        (length(col(textCol)) * 10L).as("duration_ms")).as("meta"))
  }

  /** STUB decode: a real implementation decodes the payload with an
    * image/audio codec inside this same mapPartitions loop (init codec
    * once per partition, stream rows through). The deterministic fake
    * derives a feature vector from the bytes so the pipeline shape —
    * binary in, fixed-width float features out, batched — is fully
    * exercised and testable. */
  def decodeFeaturesStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    var h = 0x811c9dc5
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xff; h *= 0x01000193
      v(math.floorMod(h, dim)) += (if ((h & 0x80000000) == 0) 1.0f else -1.0f)
      i += 1
    }
    var norm = 0.0
    i = 0
    while (i < dim) { norm += v(i).toDouble * v(i); i += 1 }
    if (norm > 0) { val inv = (1.0 / math.sqrt(norm)).toFloat; i = 0; while (i < dim) { v(i) *= inv; i += 1 } }
    v
  }

  /** REAL image features: decode the payload with ImageIO and compute
    * the `dim`-bin gray-level histogram, each bin an exact integer
    * count divided once by the pixel count (double — so an independent
    * SQL engine reproduces every bin bit-for-bit from the pixels). */
  def imageHistogramFeatures(bytes: Array[Byte], dim: Int): Array[Double] = {
    val (w, h, px, depth) = decodeGrayDepth(bytes)
    // DEPTH-based guard, not value-based: a dark 16-bit image whose
    // samples all happen to fall under 256 would otherwise bin as if
    // they were 8-bit mid-tones — silently wrong, no error
    require(depth <= 8,
      s"imageHistogramFeatures: $depth-bit samples — binning assumes " +
        "8-bit; rescale or re-bin for deeper images")
    val counts = new Array[Long](dim)
    var i = 0
    while (i < px.length) { counts(px(i) * dim / 256) += 1L; i += 1 }
    val n = (w * h).toDouble
    counts.map(_.toDouble / n)
  }

  /** Feature extraction over media rows: mapPartitions so per-partition
    * codec/model init happens once (an ONNX session or ffmpeg context
    * goes exactly here). `kind = image` rows run the REAL ImageIO
    * decode → histogram kernel; `kind = audio` rows sniff the
    * container — RIFF payloads run the REAL JDK WAV decode →
    * amplitude-histogram kernel, anything else (the synthetic text
    * payloads, compressed formats) falls back to the deterministic
    * stub; video stays stubbed (no video codec in the JRE). Output
    * keeps (media_id, kind) and appends `features` (array<double> —
    * the stub's f32 values widen exactly). */
  def extractFeatures(media: DataFrame, dim: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      // per-partition init goes here (codec/model session)
      rows.map { r =>
        val kind = r.getString(kindIdx)
        val bytes = r.getAs[Array[Byte]](bytesIdx)
        val feats: Seq[Double] =
          if (kind == "image") imageHistogramFeatures(bytes, dim).toSeq
          else if (kind == "audio" && isRiff(bytes))
            audioHistogramFeatures(bytes, dim).toSeq
          else decodeFeaturesStub(bytes, dim).map(_.toDouble).toSeq
        Row(r.getLong(idIdx), kind, feats)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Decode-fidelity report for image rows: true (width, height), the
    * exact pixel sum, and an md5 digest of the row-major sample string
    * — the gate artifact an independent engine checks against the
    * generator formula (PNG is lossless, so decode(encode(gen)) must
    * reproduce the generated raster bit-for-bit). */
  def imageDecodeReport(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("px_sum", LongType, nullable = false),
      StructField("px_digest", StringType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (w, h, px) = decodeGray(r.getAs[Array[Byte]](bytesIdx))
        md.reset()
        val hex = md.digest(px.mkString(",").getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
        Row(r.getLong(idIdx), w, h, px.map(_.toLong).sum, hex)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** STUB resize: metadata-level resize (real impl: decode → scale →
    * re-encode in the same partition loop). Clamps dimensions, keeps
    * payload untouched. */
  def resize(media: DataFrame, maxW: Int, maxH: Int): DataFrame =
    media.withColumn("meta", struct(
      col("meta.format").as("format"),
      least(col("meta.width"), lit(maxW)).as("width"),
      least(col("meta.height"), lit(maxH)).as("height"),
      col("meta.duration_ms").as("duration_ms")))

  /** Frame sampling for video rows: one output row per sampled frame
    * timestamp (every `everyMs` ms of duration) — posexplode of a
    * generated timestamp sequence; non-video rows pass through with a
    * single frame at t=0. A real impl decodes the frame bytes at each
    * timestamp inside a mapPartitions loop. */
  def sampleFrames(media: DataFrame, everyMs: Long = 1000L): DataFrame = {
    // coalesce: a video row with null duration still yields one frame at
    // t=0 (a bare when/explode would silently drop the row)
    val dur = coalesce(col("meta.duration_ms"), lit(1L))
    val ts = when(col("kind") === "video",
      sequence(lit(0L), greatest(dur - 1, lit(0L)), lit(everyMs)))
      .otherwise(array(lit(0L)))
    media
      .withColumn("frame_ts", explode(ts))
      .select(col("media_id"), col("kind"), col("frame_ts"))
  }
}
