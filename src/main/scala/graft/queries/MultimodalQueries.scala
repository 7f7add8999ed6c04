package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal
import graft.sources.ZipIngest

/** Multimodal-plumbing + binary-ingest queries. The metadata/frame-
  * sampling shapes are pure arithmetic → oracle-checked. Image rows
  * carry REAL PNG payloads: `mm_image_decode`/`mm_features` run a
  * genuine javax.imageio decode and are oracle-checked against the
  * integer pixel generator (PNG losslessness closes the loop). Audio
  * rows get the same treatment through the JDK's RIFF/WAVE codec
  * (`mm_audio_decode`/`mm_audio_features` — javax.sound.sampled ships
  * with the JRE, so PCM WAV decode is real, not environmental); only
  * video and compressed audio formats remain honest stubs. Zip
  * explode stays rows-only (binary in-memory inputs), verified in
  * scalatest.
  */
object MultimodalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // media metadata derivation + resize clamp (arithmetic — oracled)
    "mm_resize_meta" -> { (s, dir) =>
      val media = Multimodal.syntheticMedia(Tables.documents(s, dir))
      Multimodal.resize(media, maxW = 512, maxH = 256)
        .select(col("media_id"), col("kind"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy(col("media_id"))
    },
    // video frame sampling: one row per 1000ms of duration (oracled)
    "mm_frame_sample" -> { (s, dir) =>
      val media = Multimodal.syntheticMedia(Tables.documents(s, dir))
      Multimodal.sampleFrames(media, everyMs = 1000L)
        .orderBy(col("media_id"), col("frame_ts"))
    },
    // REAL feature extraction over the image rows: PNG payloads decode
    // through javax.imageio inside the mapPartitions loop, features are
    // the 64-bin gray histogram (exact integer counts / pixel count).
    // ORACLE-CHECKED: the pixel generator is pure integer math, PNG is
    // lossless, so DuckDB regenerates the rasters from the formula,
    // re-derives every histogram bin, and must match the md5 digest of
    // the %.6f-formatted vector (the driver's pandas comparator cannot
    // sort ndarray cells, hence the scalar digest). Audio/video rows
    // run the deterministic stub kernel — no codecs in this container —
    // and stay scalatest-gated (IngestSourcesSpec).
    "mm_features" -> { (s, dir) =>
      val media = Multimodal.syntheticMedia(Tables.documents(s, dir))
        .filter(col("kind") === "image")
      Multimodal.extractFeatures(media, dim = 64)
        .select(col("media_id"),
          md5(array_join(transform(col("features"),
            f => format_string("%.6f", f)), ",").cast("binary"))
            .as("features_digest"),
          size(col("features")).cast("long").as("dim"))
        .orderBy(col("media_id"))
    },
    // decode fidelity: true dims, exact pixel sum, md5 of the raw
    // row-major samples — decode(encode(generator)) must reproduce the
    // generator bit-for-bit (PNG lossless round-trip through a REAL
    // codec), and DuckDB checks it from the formula alone.
    "mm_image_decode" -> { (s, dir) =>
      val media = Multimodal.syntheticMedia(Tables.documents(s, dir))
        .filter(col("kind") === "image")
      Multimodal.imageDecodeReport(media)
        .orderBy(col("media_id"))
    },
    // AUDIO decode fidelity — the WAV twin of mm_image_decode: real
    // RIFF/WAVE payloads (PCM16, encoded and decoded through the JDK's
    // javax.sound.sampled codec), exact integer sample sum + md5 of
    // the raw samples, oracle-replayed by DuckDB from the sample
    // formula alone (WAV PCM is lossless). Audio kind rows are
    // doc_id % 3 == 1, mirroring syntheticMedia's kind assignment.
    "mm_audio_decode" -> { (s, dir) =>
      val audio = Multimodal.syntheticAudio(
        Tables.documents(s, dir).where(pmod(col("doc_id"), lit(3)) === 1))
      Multimodal.audioDecodeReport(audio)
        .orderBy(col("media_id"))
    },
    // REAL audio features over the WAV rows: container-sniffed decode
    // (RIFF -> JDK codec) + 64-bin amplitude histogram, digest-compared
    // exactly like mm_features' image histograms.
    "mm_audio_features" -> { (s, dir) =>
      val audio = Multimodal.syntheticAudio(
          Tables.documents(s, dir).where(pmod(col("doc_id"), lit(3)) === 1))
        .withColumn("kind", lit("audio"))
      Multimodal.extractFeatures(audio, dim = 64)
        .select(col("media_id"),
          md5(array_join(transform(col("features"),
            f => format_string("%.6f", f)), ",").cast("binary"))
            .as("features_digest"),
          size(col("features")).cast("long").as("dim"))
        .orderBy(col("media_id"))
    },
    // JSONL round-trip with corrupt-line quarantine — ORACLE-CHECKED:
    // docs are written to JSONL, two corrupt lines are injected, and
    // the read must recover every doc BYTE-EXACTLY (the content
    // signature below is computable by both engines: bit_xor over the
    // top 60 md5 bits of doc_id||'|'||text — the [[Sharding.shardId]]
    // hex-parse parity trick, 15 hex chars so BIGINT holds it in both)
    // and quarantine exactly the injected bad lines. Schema fidelity
    // beyond these columns stays JsonlSpec-gated.
    "jsonl_roundtrip" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      HybridQueries.withTempDir("jsonl") { tmp =>
        val path = s"${tmp.getAbsolutePath}/docs"
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("text"))
        graft.sources.JsonlDocs.write(docs, path)
        // inject malformed lines alongside the valid part files
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$path/part-corrupt.json"),
          "{\"doc_id\": broken\nnot json at all\n")
        val schema = StructType(Seq(StructField("doc_id", LongType),
          StructField("lang", StringType), StructField("text", StringType)))
        // ONE pass over the files for both streams; materialized eagerly
        // so the temp dir can be deleted before returning
        val r = graft.sources.JsonlDocs.readWithStatus(s, path, schema)
          .withColumn("__sig",
            conv(substring(md5(concat(col("doc_id").cast("string"), lit("|"),
              col("text")).cast("binary")), 1, 15), 16, 10).cast("bigint"))
          .agg(sum(when(col("is_good"), 1L).otherwise(0L)).as("n_good"),
            expr("bit_xor(CASE WHEN is_good THEN __sig END)").as("content_sig"),
            sum(when(!col("is_good"), 1L).otherwise(0L)).as("n_quarantined"))
          .head()
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("n_good", "content_sig", "n_quarantined")
      }
    },
    // CSV round-trip with quarantine — the [[jsonl_roundtrip]] matrix
    // on the positional-format twin: byte-exact recovery (the writer's
    // default whitespace trim is disabled), same content signature,
    // three injected corrupt lines (type mismatch, overflow, short row
    // — CSV quarantines short rows where JSONL null-fills, fields
    // being positional). Texts are newline-free in this corpus (CSV's
    // documented line-split contract; scrub upstream otherwise).
    "csv_roundtrip" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      HybridQueries.withTempDir("csvrt") { tmp =>
        val path = s"${tmp.getAbsolutePath}/docs"
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("text"))
        graft.sources.CsvDocs.write(docs, path)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$path/part-corrupt.csv"),
          "notanumber,en,type mismatch\n1,en,too,many,fields\n2,en\n")
        val schema = StructType(Seq(StructField("doc_id", LongType),
          StructField("lang", StringType), StructField("text", StringType)))
        val r = graft.sources.CsvDocs.readWithStatus(s, path, schema)
          .withColumn("__sig",
            conv(substring(md5(concat(col("doc_id").cast("string"), lit("|"),
              col("text")).cast("binary")), 1, 15), 16, 10).cast("bigint"))
          .agg(sum(when(col("is_good"), 1L).otherwise(0L)).as("n_good"),
            expr("bit_xor(CASE WHEN is_good THEN __sig END)").as("content_sig"),
            sum(when(!col("is_good"), 1L).otherwise(0L)).as("n_quarantined"))
          .head()
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("n_good", "content_sig", "n_quarantined")
      }
    },
    // zip explode + parse, HASH-GATED against the source table (the
    // jsonl_roundtrip recovery contract): the zip is built driver-side
    // from the top-20 documents plus one composite-font (Identity-H +
    // ToUnicode CMap) PDF member, so byte-exact extraction means the
    // (member_name | text) signature over the ingested rows equals the
    // same signature the oracle computes from documents directly (the
    // PDF member's decoded text is the fixture's pinned literal). The
    // zip/PDF PARSE stays engine-side — a wrong member name, a lost
    // byte, or a broken CMap decode all break the signature. The
    // binary plumbing itself (CP437 names, corrupt-zip quarantine,
    // the B13 status lattice) stays spec-land (IngestSourcesSpec).
    "b2_zip_ingest" -> { (s, dir) =>
      import java.util.zip.{ZipEntry, ZipOutputStream}
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).limit(20).collect()
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new ZipOutputStream(bos)
      docs.foreach { r =>
        zos.putNextEntry(new ZipEntry(s"doc_${r.getLong(0)}.txt"))
        zos.write(r.getString(1).getBytes("UTF-8"))
        zos.closeEntry()
      }
      zos.putNextEntry(new ZipEntry("doc_korean.pdf"))
      zos.write(graft.sources.PdfSamples.koreanIdentityH)
      zos.closeEntry()
      zos.close()
      import s.implicits._
      val bin = Seq(("mem://batch.zip", bos.toByteArray)).toDF("path", "content")
      ZipIngest.ingestZips(bin)
        .select(col("ok"), conv(substring(md5(
            concat(col("member_name"), lit("|"),
              coalesce(col("text"), lit(""))).cast("binary")),
            1, 15), 16, 10).cast("long").as("__sig"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
          coalesce(expr("bit_xor(__sig)"), lit(0L)).as("members_sig"))
    }
  )

  val oracle: Map[String, String] = Map(
    // independent recovery check: expected members re-derived from the
    // SOURCE documents table (top-20 by doc_id, the gate's zip build
    // order) plus the pinned decode of the fixture PDF; every member
    // must extract ok with byte-exact text
    "b2_zip_ingest" ->
      """WITH m AS (
        |  SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS member_name,
        |         text
        |  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20)
        |  UNION ALL
        |  SELECT 'doc_korean.pdf', '한국어 PDF 문서의 텍스트 추출 검증'
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_members,
        |       CAST(count(*) AS BIGINT) AS n_ok,
        |       coalesce(bit_xor(CAST(CAST('0x' || substr(md5(
        |         member_name || '|' || text), 1, 15) AS UBIGINT) AS BIGINT)),
        |         0) AS members_sig
        |FROM m""".stripMargin,
    // the JSONL round-trip is content-verified against the SOURCE
    // table: recovering every doc byte-exactly means the good-row
    // signature over the round-tripped rows equals the same signature
    // computed directly on documents, and the quarantine count is
    // exactly the two injected lines
    // same source-table verification as jsonl_roundtrip: byte-exact
    // recovery <=> signature parity; quarantine = the 3 injected lines
    "csv_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_good,
        |       bit_xor(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS UBIGINT) AS BIGINT)) AS content_sig,
        |       CAST(3 AS BIGINT) AS n_quarantined
        |FROM documents""".stripMargin,
    "jsonl_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_good,
        |       bit_xor(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS UBIGINT) AS BIGINT)) AS content_sig,
        |       CAST(2 AS BIGINT) AS n_quarantined
        |FROM documents""".stripMargin,
    "mm_resize_meta" ->
      """SELECT doc_id AS media_id,
        |       (['image','audio','video'])[((doc_id % 3) + 3) % 3 + 1] AS kind,
        |       CASE WHEN doc_id % 3 = 0 THEN least(8 + ((doc_id % 5) + 5) % 5, 512)
        |            ELSE least(length(text) % 640, 512) END AS width,
        |       CASE WHEN doc_id % 3 = 0 THEN least(8 + ((doc_id % 3) + 3) % 3, 256)
        |            ELSE least(length(text) % 480, 256) END AS height,
        |       length(text) * 10 AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_features" ->
      s"""WITH img AS (
         |  SELECT doc_id AS media_id,
         |         8 + ((doc_id % 5) + 5) % 5 AS w,
         |         8 + ((doc_id % 3) + 3) % 3 AS h
         |  FROM documents WHERE doc_id % 3 = 0
         |),
         |px AS (
         |  SELECT media_id, w, h,
         |         unnest(generate_series(0, w * h - 1)) AS i
         |  FROM img
         |),
         |pv AS (
         |  SELECT media_id, w * h AS n_px,
         |         (((media_id * 2654435761 + (i % w) * 40503 + (i // w) * 65027)
         |           % 256) + 256) % 256 AS p
         |  FROM px
         |),
         |hist AS (
         |  SELECT media_id, n_px, (p * 64) // 256 AS b, count(*) AS c
         |  FROM pv GROUP BY media_id, n_px, (p * 64) // 256
         |),
         |bins AS (
         |  SELECT i.media_id, i.w * i.h AS n_px, t.b, coalesce(hist.c, 0) AS c
         |  FROM img i
         |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) t
         |  LEFT JOIN hist ON hist.media_id = i.media_id AND hist.b = t.b
         |)
         |SELECT media_id,
         |       md5(string_agg(printf('%.6f', CAST(c AS DOUBLE) / CAST(n_px AS DOUBLE)),
         |                      ',' ORDER BY b)) AS features_digest,
         |       CAST(64 AS BIGINT) AS dim
         |FROM bins GROUP BY media_id
         |ORDER BY media_id""".stripMargin,
    "mm_image_decode" ->
      s"""WITH img AS (
         |  SELECT doc_id AS media_id,
         |         CAST(8 + ((doc_id % 5) + 5) % 5 AS INTEGER) AS width,
         |         CAST(8 + ((doc_id % 3) + 3) % 3 AS INTEGER) AS height
         |  FROM documents WHERE doc_id % 3 = 0
         |),
         |px AS (
         |  SELECT media_id, width, height,
         |         unnest(generate_series(0, width * height - 1)) AS i
         |  FROM img
         |),
         |pv AS (
         |  SELECT media_id, width, height, i,
         |         (((media_id * 2654435761 + (i % width) * 40503
         |          + (i // width) * 65027) % 256) + 256) % 256 AS p
         |  FROM px
         |)
         |SELECT media_id, width, height,
         |       CAST(sum(p) AS BIGINT) AS px_sum,
         |       md5(string_agg(CAST(p AS VARCHAR), ',' ORDER BY i)) AS px_digest
         |FROM pv GROUP BY media_id, width, height
         |ORDER BY media_id""".stripMargin,
    // audio decode replay: regenerate the PCM16 samples from the
    // integer formula (floored mods) and check sum + digest — the
    // decode side ran a REAL RIFF/WAVE codec, so a hash match proves
    // the lossless round trip, exactly like mm_image_decode's PNG loop
    "mm_audio_decode" ->
      """WITH a AS (
        |  SELECT doc_id AS media_id,
        |         400 + (((doc_id % 7) + 7) % 7) * 100 AS n
        |  FROM documents WHERE ((doc_id % 3) + 3) % 3 = 1
        |),
        |s AS (SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i FROM a),
        |v AS (
        |  SELECT media_id, n, i,
        |         (((media_id * 48271 + i * 16807) % 65536) + 65536) % 65536
        |           - 32768 AS smp
        |  FROM s
        |)
        |SELECT media_id, CAST(8000 AS INTEGER) AS sample_rate,
        |       CAST(n AS BIGINT) AS n_samples,
        |       CAST(sum(smp) AS BIGINT) AS amp_sum,
        |       md5(string_agg(CAST(smp AS VARCHAR), ',' ORDER BY i)) AS samples_digest
        |FROM v GROUP BY media_id, n ORDER BY media_id""".stripMargin,
    "mm_audio_features" ->
      """WITH a AS (
        |  SELECT doc_id AS media_id,
        |         400 + (((doc_id % 7) + 7) % 7) * 100 AS n
        |  FROM documents WHERE ((doc_id % 3) + 3) % 3 = 1
        |),
        |s AS (SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i FROM a),
        |v AS (
        |  SELECT media_id, n,
        |         (((media_id * 48271 + i * 16807) % 65536) + 65536) % 65536 AS u
        |  FROM s
        |),
        |hist AS (
        |  SELECT media_id, n, (u * 64) // 65536 AS b, count(*) AS c
        |  FROM v GROUP BY media_id, n, (u * 64) // 65536
        |),
        |bins AS (
        |  SELECT a.media_id, a.n, t.b, coalesce(hist.c, 0) AS c
        |  FROM a
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) t
        |  LEFT JOIN hist ON hist.media_id = a.media_id AND hist.b = t.b
        |)
        |SELECT media_id,
        |       md5(string_agg(printf('%.6f', CAST(c AS DOUBLE) / CAST(n AS DOUBLE)),
        |                      ',' ORDER BY b)) AS features_digest,
        |       CAST(64 AS BIGINT) AS dim
        |FROM bins GROUP BY media_id
        |ORDER BY media_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[((doc_id % 3) + 3) % 3 + 1] AS kind,
        |         length(text) * 10 AS duration_ms
        |  FROM documents
        |), f AS (
        |  SELECT media_id, kind,
        |         unnest(CASE WHEN kind = 'video'
        |                     THEN range(0, greatest(duration_ms, 1), 1000)
        |                     ELSE [0] END) AS frame_ts
        |  FROM m
        |)
        |SELECT media_id, kind, frame_ts FROM f
        |ORDER BY media_id, frame_ts""".stripMargin
  )
}
