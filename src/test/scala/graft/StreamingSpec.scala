package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingIngest

/** Structured-Streaming spec: watermarked window agg and the shared
  * batch==stream document transform, driven through MemoryStream. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  case class Ev(ts: Timestamp, event_type: String, value: Double)

  test("windowed event counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamingIngest.windowedEventCounts(input.toDF(), "2 minutes", "1 minute")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append).start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        Ev(t("2024-01-01 00:00:10"), "click", 1.0),
        Ev(t("2024-01-01 00:00:40"), "click", 2.0),
        Ev(t("2024-01-01 00:01:10"), "view", 5.0))
      q.processAllAvailable()
      // advance watermark past the first window (00:00-00:01)
      input.addData(Ev(t("2024-01-01 00:05:00"), "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("win_counts")
        .select($"window_start", $"event_type", $"n_events", $"total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(out.contains((t("2024-01-01 00:00:00"), "click", 2L, 3.0)))
      assert(out.contains((t("2024-01-01 00:01:00"), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming document ingest via foreachBatch upsert (shared transform)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "lang")
    val transformed = StreamingIngest.transformDocuments(docs, "strategy_documents")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = transformed.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= batch.groupBy($"collection").count().as[(String, Long)].collect()
        (): Unit
      }
      .start()
    try {
      input.addData((1L, "alpha beta gamma delta", "en"), (2L, "uno dos tres", "es"))
      q.processAllAvailable()
      val byColl = seen.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      // dual-write: same row count in target and master
      assert(byColl("master") === byColl("strategy_documents"))
      assert(byColl("master") >= 2)
    } finally q.stop()
  }

  test("sessionize (flatMapGroupsWithState): event-time gaps split sessions") {
    // batch execution = one trigger; gap splitting must match the batch
    // twin (EventQueries ev_sessionize): events > gapMs apart start a
    // new session; the final open session emits with closed=false
    import graft.streaming.StreamingIngest.SessionEvent
    def t(s: String) = Timestamp.valueOf(s)
    val ds = Seq(
      SessionEvent(1L, t("2024-01-01 00:00:00"), "click"),
      SessionEvent(1L, t("2024-01-01 00:00:10"), "view"),
      SessionEvent(1L, t("2024-01-01 00:00:20"), "purchase"),
      SessionEvent(1L, t("2024-01-01 00:05:00"), "click"), // >60s gap
      SessionEvent(2L, t("2024-01-01 00:00:05"), "click")).toDS()
    val out = graft.streaming.StreamingIngest.sessionize(ds, gapMs = 60000).collect()
    val u1 = out.filter(_.user_id == 1L)
    assert(u1.count(_.closed) === 1)
    val closedSession = u1.find(_.closed).get
    assert(closedSession.n_events === 3 && closedSession.duration_ms === 20000)
    val openSession = u1.find(!_.closed).get
    assert(openSession.n_events === 1 && openSession.duration_ms === 0)
    val u2 = out.filter(_.user_id == 2L)
    assert(u2.length === 1 && !u2.head.closed && u2.head.n_events === 1)
  }

  test("file-source ingest stream: new parquet files flow through the transform") {
    val inDir = java.nio.file.Files.createTempDirectory("stream-in").toString
    val docs = Seq((1L, "alpha beta gamma", "en"), (2L, "uno dos tres", "es"))
      .toDF("doc_id", "text", "lang")
    val schema = docs.schema
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val writer = graft.streaming.StreamingIngest.documentIngestStream(
      spark, inDir, schema, "operation_documents") { (batch, _) =>
      seen += batch.count()
      (): Unit
    }
    val q = writer.start()
    try {
      docs.coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assert(seen.sum > 0, "first batch must deliver chunk rows")
      val before = seen.sum
      Seq((3L, "drei vier funf", "de")).toDF("doc_id", "text", "lang")
        .coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assert(seen.sum > before, "late-arriving file must produce a new batch")
    } finally q.stop()
  }

  test("file-source round-trip: cross-batch dup guard + dual-write land in a parquet store") {
    import graft.operators.ChunkStore
    val inDir = java.nio.file.Files.createTempDirectory("stream-in-rt").toString
    val storeDir = java.nio.file.Files.createTempDirectory("stream-store").toString + "/chunks"
    val schema = Seq((0L, "x", "en")).toDF("doc_id", "text", "lang").schema
    val writer = graft.streaming.StreamingIngest.documentIngestStream(
      spark, inDir, schema, "strategy_documents") { (batch, _) =>
      // the B9 guard against the store AS WRITTEN SO FAR — re-arriving
      // docs in later micro-batches must not append twice
      val fresh = scala.util.Try(spark.read.parquet(storeDir)).toOption match {
        case Some(corpus) => ChunkStore.dropExistingGlobal(batch, corpus, "doc_id", "doc_id")
        case None         => batch // first batch: store not created yet
      }
      fresh.write.mode("append").partitionBy("collection").parquet(storeDir)
      (): Unit
    }
    val q = writer.start()
    try {
      Seq((1L, "alpha beta gamma", "en"), (2L, "uno dos tres", "es"))
        .toDF("doc_id", "text", "lang").coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      // doc 2 re-arrives in a LATER file (cross-batch duplicate); doc 3 is new
      Seq((2L, "uno dos tres", "es"), (3L, "drei vier funf", "de"))
        .toDF("doc_id", "text", "lang").coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val store = spark.read.parquet(storeDir)
      assert(store.select($"doc_id").distinct().as[Long].collect().toSet === Set(1L, 2L, 3L))
      // no chunk landed twice despite doc 2's re-arrival
      assert(store.groupBy($"doc_id", $"chunk_index", $"collection")
        .count().filter($"count" > 1).isEmpty)
      // dual-write held through the real file source + partitioned write
      val counts = store.groupBy($"collection").count().as[(String, Long)].collect().toMap
      assert(counts("master") === counts("strategy_documents"))
      assert(counts("master") > 0)
    } finally q.stop()
  }

  test("dedupDocStream: duplicate text within the watermark is dropped across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    def t(s: String) = Timestamp.valueOf(s)
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val deduped = StreamingIngest.dedupDocStream(docs)
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, "alpha beta", t("2024-01-01 00:00:00")),
                    (2L, "gamma delta", t("2024-01-01 00:00:05")))
      q.processAllAvailable()
      // same text again in a LATER batch, still inside the watermark
      input.addData((3L, "alpha beta", t("2024-01-01 00:01:00")),
                    (4L, "epsilon zeta", t("2024-01-01 00:01:05")))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select($"doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 4L), s"doc 3 duplicates doc 1's text; got $ids")
    } finally q.stop()
  }

  test("stream-stream interval join: clicks attribute to purchases within the window") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, Long, Timestamp)]    // event_id, user_id, ts
    val purchases = MemoryStream[(Long, Timestamp, Double)] // user_id, ts, value
    val out = StreamingIngest.attributionStream(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("user_id", "ts", "value"),
      attributionWindow = "1 hour")
    val q = out.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      purchases.addData((1L, t("2024-01-01 00:00:00"), 10.0),
                        (2L, t("2024-01-01 00:00:00"), 20.0))
      // clicks arrive in a LATER batch — the purchase side must be
      // buffered in join state across triggers
      clicks.addData(
        (100L, 1L, t("2024-01-01 00:30:00")), // within 1h of u1's purchase
        (101L, 1L, t("2024-01-01 02:00:00")), // outside the window
        (102L, 3L, t("2024-01-01 00:30:00"))) // user with no purchase
      q.processAllAvailable()
      // advance both watermarks so Append-mode results emit
      clicks.addData((999L, 9L, t("2024-01-01 09:00:00")))
      purchases.addData((9L, t("2024-01-01 09:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select($"event_id", $"purchase_value").as[(Long, Double)].collect()
        .filter(_._1 < 999L).toMap
      assert(rows === Map(100L -> 10.0))
    } finally q.stop()
  }

  test("enrichEventsStream: stream-static join is broadcast and enriches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val events = input.toDF().toDF("event_id", "doc_id", "value")
    val dims = Seq((1L, "en", "web"), (2L, "ko", "pdf")).toDF("doc_id", "lang", "source")
    val enriched = StreamingIngest.enrichEventsStream(events, dims)
    val q = enriched.writeStream.format("memory").queryName("enriched_ev")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((100L, 1L, 0.5), (101L, 2L, 1.5), (102L, 99L, 2.5))
      q.processAllAvailable()
      val rows = spark.table("enriched_ev")
        .select($"event_id", $"lang").as[(Long, Option[String])].collect().toMap
      assert(rows(100L) === Some("en"))
      assert(rows(101L) === Some("ko"))
      assert(rows(102L) === None) // unmatched key survives (left outer)
    } finally q.stop()
    // broadcast shape: the identical transform in batch execution must
    // plan a BroadcastHashJoin, never a shuffle join on the stream side
    val batchTwin = StreamingIngest.enrichEventsStream(
      Seq((100L, 1L, 0.5)).toDF("event_id", "doc_id", "value"), dims)
    val plan = batchTwin.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("GraftExtensions injection point applies cleanly") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext) // must not throw
    // the suite session is built by GraftSession, whose
    // spark.sql.extensions conf injects all six functions: a fresh
    // session on the same context (no temp functions from any earlier
    // Graft.init call) resolves each name through spark.sql
    val fresh = spark.newSession()
    val zip = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      zos.putNextEntry(new java.util.zip.ZipEntry("a.txt"))
      zos.write("hi".getBytes("UTF-8")); zos.closeEntry(); zos.close()
      bos.toByteArray.map(b => f"$b%02X").mkString
    }
    val a = "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))"
    val b = "array(CAST(1.0 AS FLOAT), CAST(4.0 AS FLOAT))"
    val q = s"""SELECT dot_f32($a, $b) AS dot, l2_dist_f32($a, $b) AS l2,
               |  l2sq_f32($a, $b) AS l2sq, cos_sim_f32($a, $b) AS cos,
               |  sorted_intersect_size(array('a','b'), array('b','c')) AS i,
               |  z.member_name AS m
               |FROM (SELECT 1) LATERAL VIEW explode_zip(X'$zip') z
               |  AS member_name, member_bytes""".stripMargin
    def run(s: org.apache.spark.sql.SparkSession) = s.sql(q).collect().toSeq
    val viaConf = run(fresh)
    assert(viaConf.length === 1)
    val r = viaConf.head
    assert(r.getFloat(0) === 9.0f && r.getFloat(1) === 2.0f &&
      r.getFloat(2) === 4.0f && r.getInt(4) === 1 && r.getString(5) === "a.txt")
    assert(math.abs(r.getFloat(3) - 9.0f / math.sqrt(5.0 * 17.0).toFloat) < 1e-6)
    // programmatic init registers from the same table: idempotent
    graft.Graft.init(fresh)
    graft.Graft.init(fresh)
    assert(run(fresh) === viaConf)
  }

  test("batch==stream parity of the document transform") {
    val docs = Seq((1L, "one two three four five six", "en"))
      .toDF("doc_id", "text", "lang")
    val out = StreamingIngest.transformDocuments(docs, "compliance_documents")
    assert(out.columns.contains("embedding"))
    assert(out.filter($"collection" === "master").count() ===
      out.filter($"collection" === "compliance_documents").count())
  }

  test("streaming JSONL ingest: one epoch feeds corpus and quarantine") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    withTempDir("jsonl-stream") { root =>
      val in = new java.io.File(root, "in"); in.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${in.getAbsolutePath}/a.jsonl"),
        "{\"doc_id\": 1, \"text\": \"one\"}\nbroken line\n{\"doc_id\": 2, \"text\": \"two\"}\n")
      val goodOut = new java.io.File(root, "good").getAbsolutePath
      val badOut = new java.io.File(root, "bad").getAbsolutePath
      val stream = StreamingIngest.jsonlIngestStream(spark, in.getAbsolutePath, schema)
      val q = stream.writeStream
        .option("checkpointLocation", new java.io.File(root, "ckpt").getAbsolutePath)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.persist()
          try {
            batch.filter($"is_good").select($"doc_id", $"text")
              .write.mode("append").parquet(goodOut)
            batch.filter(!$"is_good").select($"raw_line")
              .write.mode("append").parquet(badOut)
          } finally batch.unpersist()
        }.start()
      try q.processAllAvailable() finally q.stop()
      val good = spark.read.parquet(goodOut).as[(Long, String)].collect().sortBy(_._1)
      assert(good.toSeq === Seq((1L, "one"), (2L, "two")))
      val bad = spark.read.parquet(badOut).as[String].collect()
      assert(bad.toSeq === Seq("broken line"))
      // stream parse == batch parse of the same files
      val batchStatus = graft.sources.JsonlDocs
        .readWithStatus(spark, in.getAbsolutePath, schema)
        .select($"is_good", $"doc_id").as[(Boolean, Option[Long])]
        .collect().sortBy(_._2)
      assert(batchStatus.count(_._1) === 2 && batchStatus.count(!_._1) === 1)
    }
  }

  test("streaming CSV ingest: good/quarantine split, stream parse == batch parse") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("csv-stream") { root =>
      val in = new java.io.File(root, "in"); in.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${in.getAbsolutePath}/a.csv"),
        "1,one\nnotanumber,broken\n2,two\n3\n")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val goodOut = new java.io.File(root, "good").getAbsolutePath
      val badOut = new java.io.File(root, "bad").getAbsolutePath
      val stream = StreamingIngest.csvIngestStream(spark, in.getAbsolutePath, schema)
      val q = stream.writeStream
        .option("checkpointLocation", new java.io.File(root, "ckpt").getAbsolutePath)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.persist()
          try {
            batch.filter($"is_good").select($"doc_id", $"text")
              .write.mode("append").parquet(goodOut)
            batch.filter(!$"is_good").select($"raw_line")
              .write.mode("append").parquet(badOut)
          } finally batch.unpersist()
        }.start()
      try q.processAllAvailable() finally q.stop()
      val good = spark.read.parquet(goodOut).as[(Long, String)].collect().sortBy(_._1)
      assert(good.toSeq === Seq((1L, "one"), (2L, "two")))
      // the short positional row quarantines too (unlike JSONL)
      val bad = spark.read.parquet(badOut).as[String].collect().sorted
      assert(bad.toSeq === Seq("3", "notanumber,broken"))
      // stream parse == batch parse of the same files
      val batchStatus = graft.sources.CsvDocs
        .readWithStatus(spark, in.getAbsolutePath, schema)
        .select($"is_good", $"doc_id").as[(Boolean, Option[Long])]
        .collect()
      assert(batchStatus.count(_._1) === 2 && batchStatus.count(!_._1) === 2)
    }
  }

  test("streaming sharded export matches batch shard assignment") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("shard-stream") { root =>
      val out = new java.io.File(root, "lake").getAbsolutePath
      val input = MemoryStream[(Long, String)]
      val q = StreamingIngest.exportShardedStream(
          input.toDF().toDF("doc_id", "text"), "doc_id", 4, out)
        .option("checkpointLocation", new java.io.File(root, "ckpt").getAbsolutePath)
        .start()
      try {
        input.addData((1L, "a"), (2L, "b"), (3L, "c"))
        q.processAllAvailable()
        input.addData((4L, "d"), (5L, "e")) // second epoch appends
        q.processAllAvailable()
      } finally q.stop()
      val back = spark.read.parquet(out)
        .select($"doc_id", $"shard".cast("long").as("shard"))
      assert(back.count() === 5)
      val expected = graft.operators.Sharding.assignShards(
          back.select($"doc_id"), "doc_id", 4)
        .as[(Long, Long)].collect().toMap
      val actual = back.as[(Long, Long)].collect().toMap
      assert(actual === expected)
    }
  }

  test("streaming curation twin: stateless scrub+gate, batch==stream") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near jane.doe@mail.example.org today"),
      (2L, "spam spam"), // passes quality but fails the length gate
      (3L, "the server at 10.1.2.3 handles a steady load of varied requests daily"))
    val input = MemoryStream[(Long, String)]
    val curated = StreamingIngest.curateDocStream(input.toDF().toDF("doc_id", "text"))
    val q = curated.writeStream.format("memory").queryName("curated")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val stream = spark.table("curated")
        .select($"doc_id", $"text", $"has_pii")
        .as[(Long, String, Boolean)].collect().sortBy(_._1)
      val batch = StreamingIngest.curateDocStream(rows.toDF("doc_id", "text"))
        .select($"doc_id", $"text", $"has_pii")
        .as[(Long, String, Boolean)].collect().sortBy(_._1)
      // the twin is literally the same function -> identical output
      assert(stream.toSeq === batch.toSeq)
      assert(stream.map(_._1).toSeq === Seq(1L, 3L)) // doc 2 gated out
      assert(stream.forall(_._3), "kept docs carry has_pii from original text")
      assert(stream(0)._2.contains("<EMAIL>") && !stream(0)._2.contains("@"))
      assert(stream(1)._2.contains("<IP>") && !stream(1)._2.contains("10.1.2.3"))
    } finally q.stop()
  }

  test("streaming crawl front-door twin: normalize + robots + head " +
    "signals, batch==stream") {
    implicit val sqlCtx = spark.sqlContext
    val robotsBody = "User-agent: graftbot\nDisallow: /private/\n"
    val robots = Seq(("ex.org", robotsBody)).toDF("host", "body")
    val pages = Seq(
      // needs normalization (default port + dot segment), self-canonical
      ("https://EX.org:443/a/./p1", "<p>alpha</p>"),
      // alias declaring a canonical target
      ("https://ex.org/alias1", "<link rel=canonical href=/a/p1><p>alpha</p>"),
      // robots-disallowed: dropped by the policy stage
      ("https://ex.org/private/x", "<p>secret</p>"),
      // noindex: dropped by the head-signal stage
      ("https://ex.org/noidx", "<meta name=robots content=noindex><p>x</p>"),
      // host with no robots row: kept (fail-open)
      ("https://other.net/q", "<p>beta</p>"),
      (null.asInstanceOf[String], "<p>urlless</p>"))
    val input = MemoryStream[(String, String)]
    val out = StreamingIngest.crawlPageStream(
      input.toDF().toDF("url", "html"), robots, "graftbot")
    val q = out.writeStream.format("memory").queryName("crawlfd")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(pages: _*)
      q.processAllAvailable()
      val stream = spark.table("crawlfd")
        .select($"url", $"canonical").as[(String, String)]
        .collect().sortBy(_._1)
      val batch = StreamingIngest.crawlPageStream(
          pages.toDF("url", "html"), robots, "graftbot")
        .select($"url", $"canonical").as[(String, String)]
        .collect().sortBy(_._1)
      // the twin is literally the same function -> identical output
      assert(stream.toSeq === batch.toSeq)
      assert(stream.toSeq === Seq(
        // normalized frontier key; self-canonical
        ("https://ex.org/a/p1", "https://ex.org/a/p1"),
        // alias resolves its declared canonical against its own url
        ("https://ex.org/alias1", "https://ex.org/a/p1"),
        ("https://other.net/q", "https://other.net/q")))
      // the emitted `canonical` is exactly the batch collapse's group
      // key: grouping the stream output reproduces applyCanonical-
      // Collapse's group sizes over the same pages
      val groups = spark.table("crawlfd").groupBy($"canonical").count()
        .as[(String, Long)].collect().toMap
      assert(groups === Map("https://ex.org/a/p1" -> 2L,
        "https://other.net/q" -> 1L))
    } finally q.stop()
  }

  test("streaming link discovery twin: production extractLinks per " +
    "arriving page, batch==stream") {
    implicit val sqlCtx = spark.sqlContext
    val pages = Seq(
      ("https://ex.org/dir/p", "<a href=\"/abs\">a</a><a href=\"rel\">r</a>" +
        "<a rel=\"nofollow\" href=\"/spam\">n</a><a href=\"#top\">s</a>"),
      ("https://other.net/q", "<a href=\"https://t.org/x#f\">t</a>"),
      (null.asInstanceOf[String], "<a href=\"/never\">x</a>"))
    val input = MemoryStream[(String, String)]
    val out = StreamingIngest.linkDiscoveryStream(
      input.toDF().toDF("url", "html"))
    val q = out.writeStream.format("memory").queryName("linkdisc")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(pages: _*)
      q.processAllAvailable()
      val stream = spark.table("linkdisc").select($"url", $"link")
        .as[(String, String)].collect().sorted
      val batch = graft.operators.LinkGraph.extractLinks(
          pages.toDF("url", "html"))
        .select($"url", $"link").as[(String, String)].collect().sorted
      assert(stream.toSeq === batch.toSeq)
      assert(stream.map(_._2).toSeq === Seq(
        "https://ex.org/abs", "https://ex.org/dir/rel", "https://t.org/x"))
    } finally q.stop()
  }

  test("streaming NB scoring twin: stateless, batch==stream integer parity") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.CorpusModels
    // train on a batch corpus (train is a batch job by design)
    val corpus = Seq(
      (0L, "good good fine", true), (1L, "good bad", true),
      (2L, "bad bad awful", false), (3L, "mixed good bad", false))
      .toDF("doc_id", "text", "keep")
    val (model, prior) = CorpusModels.nbTrain(corpus, "text", "keep", 1024)
    val mm = CorpusModels.nbModelMap(model)
    val pf = prior.collect()(0).getAs[Long]("prior_fp")
    // batch scores over fresh docs (incl. unknown tokens, empty, NULL)
    val fresh = Seq((10L, "good fine fine"), (11L, "awful zz"), (12L, ""),
        (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = CorpusModels.nbScore(fresh, "doc_id", "text", model, prior)
      .select($"doc_id", $"score_fp", $"keep_pred")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // the same docs through the stream twin
    val input = MemoryStream[(Long, String)]
    val scored = StreamingIngest.scoreDocStream(
      input.toDF().toDF("doc_id", "text"), mm, pf)
    val q = scored.writeStream.format("memory").queryName("nb_scored")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((10L, "good fine fine"), (11L, "awful zz"))
      q.processAllAvailable()
      // second epoch: stateless — still scores; null text scores the prior
      input.addData((12L, ""), (13L, null.asInstanceOf[String]))
      q.processAllAvailable()
      val stream = spark.table("nb_scored")
        .select($"doc_id", $"score_fp", $"keep_pred")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(stream === batch)
      // and the plan is stateless: no state store operators
      assert(!q.lastProgress.toString().contains("stateOperators\" : [ {"))
    } finally q.stop()
  }

  test("streaming vector-ingest twin: cluster routing + int8 codes, batch==stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Ann, Sq}
    val emb = Tables.embeddings(spark, sfDir)
    val index = Ann.buildIvf(emb, numClusters = 8)
    // the "nightly append" slice, re-keyed like ann_ivf_append
    val fresh = emb.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding")
    val batch = Sq.quantize(Ann.assignToIvf(index, fresh))
      .select($"vec_id", $"ivf_cluster".cast("int"), $"sq_code")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).toSeq)).toSet
    val rows = fresh.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    val out = StreamingIngest.vectorIngestStream(
      input.toDF().toDF("vec_id", "embedding"), index)
    val q = out.writeStream.format("memory").queryName("vec_ingest")
      .outputMode(OutputMode.Append).start()
    try {
      val (a, b) = rows.splitAt(rows.size / 2)
      input.addData(a: _*)
      q.processAllAvailable()
      // a poison record (null embedding) must be dropped, not kill the
      // long-running query — batch assignToIvf fails loud by design,
      // the stream twin quarantines-by-filter instead
      input.addData((9999999L, null.asInstanceOf[Seq[Float]]))
      input.addData(b: _*) // second epoch: stateless, no cross-batch state
      q.processAllAvailable()
      val stream = spark.table("vec_ingest")
        .select($"vec_id", $"ivf_cluster".cast("int"), $"sq_code")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getAs[Array[Byte]](2).toSeq)).toSet
      assert(stream === batch)
      assert(!q.lastProgress.toString().contains("stateOperators\" : [ {"))
    } finally q.stop()
  }

  test("streaming LM perplexity twin: stateless, batch==stream integer parity") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.CorpusModels
    // train on a batch corpus; cap 3 of 4 distinct tokens so the OOV
    // closure path is live ('d' capped out)
    val corpus = Seq((0L, "a a b"), (1L, "b c"), (2L, "a b c d"))
      .toDF("doc_id", "text")
    val (vocab, stats) = CorpusModels.unigramLm(corpus, "text", 3)
    val vm = CorpusModels.lmModelMap(vocab)
    val oov = CorpusModels.lmOovFp(stats)
    // fresh docs: unknown token, empty text, NULL text
    val fresh = Seq((10L, "a b zz"), (11L, ""), (12L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = CorpusModels.perplexity(fresh, "doc_id", "text", vocab, stats)
      .select($"doc_id", $"n_tokens", $"nll_fp", $"cross_entropy")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val input = MemoryStream[(Long, String)]
    val scored = StreamingIngest.scoreDocStreamPpl(
      input.toDF().toDF("doc_id", "text"), vm, oov)
    val q = scored.writeStream.format("memory").queryName("ppl_scored")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((10L, "a b zz"), (11L, ""))
      q.processAllAvailable()
      // second epoch: stateless — null text scores the zero row
      input.addData((12L, null.asInstanceOf[String]))
      q.processAllAvailable()
      val stream = spark.table("ppl_scored")
        .select($"doc_id", $"n_tokens", $"nll_fp", $"cross_entropy")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(stream === batch)
      assert(!q.lastProgress.toString().contains("stateOperators\" : [ {"))
    } finally q.stop()
  }

  test("streaming bigram-LM twin: stateless, batch==stream, unknown-context drop parity") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.CorpusModels
    val corpus = Seq((0L, "a a b"), (1L, "b c"), (2L, "a b c d"))
      .toDF("doc_id", "text")
    // bigramCap caps out rare transitions; contextCap=2 caps out a
    // context → both fallback paths live in the parity check
    val (bi, ctx) = CorpusModels.bigramLm(corpus, "text", 4, 2)
    val (bm, cm) = CorpusModels.bigramModelMaps(bi, ctx)
    // fresh docs: capped-out target, UNKNOWN context ("zz"), 1-token, NULL
    val fresh = Seq((10L, "a b c"), (11L, "zz a b"), (12L, "a"),
        (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = CorpusModels.bigramPerplexity(fresh, "doc_id", "text", bi, ctx)
      .select($"doc_id", $"n_transitions", $"nll_fp", $"cross_entropy")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val input = MemoryStream[(Long, String)]
    val scored = StreamingIngest.scoreDocStreamBigramPpl(
      input.toDF().toDF("doc_id", "text"), bm, cm)
    val q = scored.writeStream.format("memory").queryName("bippl_scored")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((10L, "a b c"), (11L, "zz a b"))
      q.processAllAvailable()
      input.addData((12L, "a"), (13L, null.asInstanceOf[String]))
      q.processAllAvailable()
      val stream = spark.table("bippl_scored")
        .select($"doc_id", $"n_transitions", $"nll_fp", $"cross_entropy")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(stream === batch)
      assert(!q.lastProgress.toString().contains("stateOperators\" : [ {"))
    } finally q.stop()
  }

  test("streaming stupid-backoff twin: stateless, batch==stream, nothing drops") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.CorpusModels
    val corpus = Seq((0L, "a a b"), (1L, "b c"), (2L, "a b c d"))
      .toDF("doc_id", "text")
    val (bi, ctx) = CorpusModels.bigramLm(corpus, "text", 4, 2)
    val (vocab, stats) = CorpusModels.unigramLm(corpus, "text", 3)
    val (bm, _) = CorpusModels.bigramModelMaps(bi, ctx)
    val vm = CorpusModels.lmModelMap(vocab)
    val oov = CorpusModels.lmOovFp(stats)
    // capped-out transition, unknown context, OOV token, 1-token, NULL
    val fresh = Seq((10L, "a b c"), (11L, "zz a b"), (12L, "a"),
        (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = CorpusModels.backoffPerplexity(fresh, "doc_id", "text", bi, vocab, stats)
      .select($"doc_id", $"n_transitions", $"nll_fp", $"cross_entropy")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val input = MemoryStream[(Long, String)]
    val scored = StreamingIngest.scoreDocStreamBackoffPpl(
      input.toDF().toDF("doc_id", "text"), bm, vm, oov)
    val q = scored.writeStream.format("memory").queryName("bko_scored")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((10L, "a b c"), (11L, "zz a b"))
      q.processAllAvailable()
      input.addData((12L, "a"), (13L, null.asInstanceOf[String]))
      q.processAllAvailable()
      val stream = spark.table("bko_scored")
        .select($"doc_id", $"n_transitions", $"nll_fp", $"cross_entropy")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(stream === batch)
      // NOTHING drops under backoff: "zz a b" has BOTH transitions
      assert(spark.table("bko_scored").filter($"doc_id" === 11L)
        .collect()(0).getAs[Long]("n_transitions") === 2L)
      assert(!q.lastProgress.toString().contains("stateOperators\" : [ {"))
    } finally q.stop()
  }

  test("streaming multiclass-NB twin: stateless, batch==stream prediction parity") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.CorpusModels
    // two separable classes + one shared token; cap 2 < 3 distinct
    // tokens in class x so the per-class OOV path is live
    val corpus = Seq(
      (0L, "a a b s", "x"), (1L, "a b c", "x"),
      (2L, "z z s", "y"), (3L, "z q", "y"))
      .toDF("doc_id", "text", "cls")
    val (vocab, stats) = CorpusModels.groupedUnigramLm(corpus, "cls", "text", 2)
    val priors = CorpusModels.multiclassNbPriors(corpus, "cls")
    val (vm, cls) = CorpusModels.mcNbModelMaps(vocab, stats, priors)
    // fresh docs: clear x, clear y, all-unknown, empty, NULL
    val fresh = Seq((10L, "a a b"), (11L, "z z"), (12L, "qq ww"), (13L, ""),
        (14L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = CorpusModels.multiclassNbPredict(fresh, "doc_id", "text",
        vocab, stats, priors)
      .select($"doc_id", $"pred_class", $"score_fp")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val input = MemoryStream[(Long, String)]
    val scored = StreamingIngest.scoreDocStreamMcNb(
      input.toDF().toDF("doc_id", "text"), vm, cls)
    val q = scored.writeStream.format("memory").queryName("mc_scored")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((10L, "a a b"), (11L, "z z"), (12L, "qq ww"))
      q.processAllAvailable()
      // second epoch: stateless — empty and null text predict the
      // prior argmax like the batch left joins
      input.addData((13L, ""), (14L, null.asInstanceOf[String]))
      q.processAllAvailable()
      val stream = spark.table("mc_scored")
        .select($"doc_id", $"pred_class", $"score_fp")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(stream === batch)
      assert(!q.lastProgress.toString().contains("stateOperators\" : [ {"))
    } finally q.stop()
  }

  test("hnsw ingest stream: versioned append, servable per version, batch==stream graph") {
    val Hnsw = graft.operators.Hnsw
    val Ann = graft.operators.Ann
    withTempDir("hnsw-stream") { dir =>
      val root = dir.getPath
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val P = Hnsw.HnswParams()
      val graph0 = Hnsw.buildShards(index.assigned, P)
      graft.operators.CorpusModels.publishModelVersion(spark, root) { d =>
        Hnsw.saveHnsw(graph0, index.centroids, P, d)
      }
      val v1 = graft.serving.Serving.currentModelDir(root)
      val src = Tables.embeddings(spark, sfDir).filter($"vec_id" < 4)
        .select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0) + 3000000L, r.getSeq[Float](1))).sortBy(_._1)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, Seq[Float])]
      val q = StreamingIngest.hnswIngestStream(
          input.toDF().toDF("vec_id", "embedding"), root)
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try {
        input.addData(src.take(2).toIndexedSeq: _*)
        q.processAllAvailable()
        val v2 = graft.serving.Serving.currentModelDir(root)
        assert(v2 !== v1, "epoch 0 must publish a new version")
        // the appended exact twin of corpus vec 0 is immediately
        // servable from the freshly-resolved version (no torn reads:
        // the prober only ever sees the atomic pointer flip)
        val q0 = Tables.embeddings(spark, sfDir).filter($"vec_id" === 0)
          .select($"embedding").head().getSeq[Float](0).toArray
        val hits = graft.serving.Serving
          .searchHnsw(v2, q0, k = 2, ef = 32, nprobe = 4).map(_.vecId)
        assert(hits === Seq(0L, 3000000L))
        input.addData(src.drop(2).toIndexedSeq: _*)
        q.processAllAvailable()
        val v3 = graft.serving.Serving.currentModelDir(root)
        assert(v3 !== v2, "epoch 1 must publish another version")
        // the replay guard rode the published version
        val fs = new org.apache.hadoop.fs.Path(v3)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$v3/_epoch_*")).nonEmpty)
        // stream == batch: the two micro-batch appends must equal the
        // same two nightly appendToShards calls run sequentially
        def slice(rows: Seq[(Long, Seq[Float])]) =
          rows.toDF("vec_id", "embedding")
        val batchG = Hnsw.appendToShards(
          Hnsw.appendToShards(graph0,
            Ann.assignToIvf(index, slice(src.take(2))), P),
          Ann.assignToIvf(index, slice(src.drop(2))), P)
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .select($"shard", $"vec_id", $"level", $"layer",
            concat_ws(",", $"neighbors").as("nbrs"))
          .as[(Int, Long, Int, Int, String)].collect().toSeq.sorted
        assert(rows(Hnsw.loadHnsw(spark, v3).graph) === rows(batchG))
      } finally q.stop()
    }
  }

  test("interleaved publishers carry each other's epoch markers forward") {
    // the poison-replay hazard: insert stream publishes epoch E's
    // marker into vN; a delete publish then builds vN+1 FRESH — if it
    // dropped the insert marker, a checkpoint replay of E would
    // re-insert live ids and crash the stream on the dup guard
    val Hnsw = graft.operators.Hnsw
    withTempDir("hnsw-marker-carry") { dir =>
      val root = dir.getPath
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val P = Hnsw.HnswParams()
      val graph0 = Hnsw.buildShards(index.assigned, P)
      graft.operators.CorpusModels.publishModelVersion(spark, root) { d =>
        Hnsw.saveHnsw(graph0, index.centroids, P, d)
      }
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      // insert epoch 0
      val ins = MemoryStream[(Long, Seq[Float])]
      val q1 = StreamingIngest.hnswIngestStream(
          ins.toDF().toDF("vec_id", "embedding"), root)
        .option("checkpointLocation", s"$root/ckpt-ins").start()
      val v0 = Tables.embeddings(spark, sfDir).filter($"vec_id" === 7)
        .select($"embedding").head().getSeq[Float](0)
      try { ins.addData((900001L, v0)); q1.processAllAvailable() }
      finally q1.stop()
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def markers(v: String) = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$v/_epoch_*")).map(_.getPath.getName).toSet
      val v2 = graft.serving.Serving.currentModelDir(root)
      val insertMarkers = markers(v2).filterNot(_.startsWith("_epoch_del_"))
      assert(insertMarkers.nonEmpty, "insert epoch must leave its marker")
      // delete epoch 0 on the same root
      val del = MemoryStream[Long]
      val q2 = StreamingIngest.hnswDeleteStream(
          del.toDF().toDF("vec_id"), root)
        .option("checkpointLocation", s"$root/ckpt-del").start()
      try { del.addData(900001L); q2.processAllAvailable() }
      finally q2.stop()
      val v3 = graft.serving.Serving.currentModelDir(root)
      assert(v3 !== v2)
      val m3 = markers(v3)
      assert(insertMarkers.subsetOf(m3),
        s"delete publish dropped the insert stream's markers: $m3")
      assert(m3.exists(_.startsWith("_epoch_del_")))
    }
  }

  test("hnsw delete stream: versioned tombstones, servable, batch==stream") {
    val Hnsw = graft.operators.Hnsw
    withTempDir("hnsw-del-stream") { dir =>
      val root = dir.getPath
      val index = graft.queries.AnnQueries.persistedIvf(spark, sfDir)
      val P = Hnsw.HnswParams()
      val graph0 = Hnsw.buildShards(index.assigned, P)
      graft.operators.CorpusModels.publishModelVersion(spark, root) { d =>
        Hnsw.saveHnsw(graph0, index.centroids, P, d)
      }
      val v1 = graft.serving.Serving.currentModelDir(root)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[Long]
      val q = StreamingIngest.hnswDeleteStream(
          input.toDF().toDF("vec_id"), root)
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try {
        // epoch 0: tombstone vec 0 — the self-query's own top-1 hit
        input.addData(0L)
        q.processAllAvailable()
        val v2 = graft.serving.Serving.currentModelDir(root)
        assert(v2 !== v1, "delete epoch 0 must publish a new version")
        val q0 = Tables.embeddings(spark, sfDir).filter($"vec_id" === 0)
          .select($"embedding").head().getSeq[Float](0).toArray
        val hits = graft.serving.Serving
          .searchHnsw(v2, q0, k = 5, ef = 32, nprobe = 4).map(_.vecId)
        assert(hits.nonEmpty && !hits.contains(0L),
          "tombstoned id served from the fresh version")
        // epoch 1: a second delete batch, incl. an id the graph has
        // never seen (ignored by contract, still publishes)
        input.addData(5L, 424242L)
        q.processAllAvailable()
        val v3 = graft.serving.Serving.currentModelDir(root)
        assert(v3 !== v2, "delete epoch 1 must publish another version")
        // the delete marker rode the published version, under its own
        // prefix — an insert-epoch marker can never satisfy it
        val fs = new org.apache.hadoop.fs.Path(v3)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$v3/_epoch_del_*")).nonEmpty)
        // stream == batch: two micro-batch deletes equal the same two
        // deleteFromShards calls run sequentially, flags included
        val batchG = Hnsw.deleteFromShards(
          Hnsw.deleteFromShards(graph0, Seq(0L).toDF("vec_id")),
          Seq(5L, 424242L).toDF("vec_id"))
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .select($"shard", $"vec_id", $"level", $"layer",
            concat_ws(",", $"neighbors").as("nbrs"), $"deleted")
          .as[(Int, Long, Int, Int, String, Boolean)].collect().toSeq.sorted
        assert(rows(Hnsw.loadHnsw(spark, v3).graph) === rows(batchG))
      } finally q.stop()
    }
  }

  test("streaming WARC ingest: stream parse+extract == batch, stateless") {
    withTempDir("warc-stream") { root =>
      val in = new java.io.File(root, "in"); in.mkdirs()
      def rec(recType: String, uri: String, ct: String,
              block: Array[Byte]): Array[Byte] =
        (s"WARC/1.0\r\nWARC-Type: $recType\r\nWARC-Target-URI: $uri\r\n" +
          s"Content-Type: $ct\r\nContent-Length: ${block.length}\r\n\r\n")
          .getBytes("UTF-8") ++ block ++ "\r\n\r\n".getBytes("UTF-8")
      val html = "<p>hello stream</p>".getBytes("UTF-8")
      val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        .getBytes("UTF-8") ++ html
      val warc = rec("response", "http://s/a", "application/http; msgtype=response", http) ++
        rec("conversion", "http://s/w", "text/plain", "wet body".getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"${in.getAbsolutePath}/a.warc"), warc)
      val out = new java.io.File(root, "out").getAbsolutePath
      val q = StreamingIngest.warcIngestStream(spark, in.getAbsolutePath)
        .writeStream
        .option("checkpointLocation", new java.io.File(root, "ckpt").getAbsolutePath)
        .outputMode(OutputMode.Append)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select($"target_uri", $"ok", $"text")
            .write.mode("append").parquet(out)
        }.start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.read.parquet(out)
        .as[(String, Boolean, Option[String])].collect().toSet
      assert(streamed === Set(("http://s/a", true, Some("hello stream")),
        ("http://s/w", true, Some("wet body"))))
      // stream == batch over the same files
      val batch = graft.sources.WarcIngest.ingestWarcs(
          spark.read.format("binaryFile").load(in.getAbsolutePath))
        .select($"target_uri", $"ok", $"text")
        .as[(String, Boolean, Option[String])].collect().toSet
      assert(batch === streamed)
    }
  }
}
