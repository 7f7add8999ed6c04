package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, Packing, Refresh}

/** BM25 ranking semantics, RRF fusion math, token windowing boundaries,
  * and deterministic stratified sampling — hand-computed fixtures plus
  * the plan-shape contracts the Scaladocs promise. */
class HybridSearchSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- BM25

  private def tinyCorpus = Seq(
    (1L, "spark vector search vector index vector"), // tf(vector)=3, dl=6
    (2L, "vector database basics"),                  // tf(vector)=1, dl=3
    (3L, "join planning and hash join strategies"),  // common terms only
    (4L, "completely unrelated text about cooking"),
    (5L, "join join join join join join join join")  // tf(join)=8
  ).toDF("doc_id", "text")

  test("bm25: rare-term density wins; docs without query terms never appear") {
    // 'vector' appears in 2/5 docs, 'join' in 2/5; doc 1 has the
    // highest tf of a query term at moderate length
    val top = Bm25.topK(tinyCorpus, "doc_id", "text",
      Seq("vector"), k = 5).as[(Long, Long, Long)].collect()
    assert(top.map(_._1).toSeq === Seq(1L, 2L), "only docs containing the term, densest first")
    assert(top(0)._2 > top(1)._2, "fixed-point scores strictly ordered")
  }

  test("bm25: ln idf (default) and rational idf (oracle path) agree on the obvious winner") {
    for (rational <- Seq(true, false)) {
      val top = Bm25.topK(tinyCorpus, "doc_id", "text",
        Seq("join"), k = 5, rationalIdf = rational).as[(Long, Long, Long)].collect()
      assert(top.head._1 === 5L, s"rationalIdf=$rational: tf=8 doc must rank first")
      assert(top.map(_._1).contains(3L))
    }
  }

  test("bm25: tf saturation — k1 bounds the advantage of repeated terms") {
    // doc 5 repeats 'join' 8x but BM25's tf/(tf+k1·norm) saturates:
    // its per-term score must stay below (k1+1)·idf_fp
    val scored = Bm25.topK(tinyCorpus, "doc_id", "text", Seq("join"), k = 5,
      rationalIdf = true).as[(Long, Long, Long)].collect()
    val n = 5.0; val df = 2.0
    val idf = (n - df + 0.5) / (df + 0.5)
    val cap = (idf * (1.2 + 1.0) * 1e9).toLong
    assert(scored.forall(_._2 < cap), s"scores must stay under the (k1+1)*idf asymptote $cap")
  }

  test("bm25: multi-term scores are the integer sum of per-term scores") {
    val both = Bm25.topK(tinyCorpus, "doc_id", "text",
      Seq("vector", "join"), k = 5, rationalIdf = true)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val vOnly = Bm25.topK(tinyCorpus, "doc_id", "text", Seq("vector"), k = 5,
      rationalIdf = true).as[(Long, Long, Long)].collect().map(t => t._1 -> t._2).toMap
    val jOnly = Bm25.topK(tinyCorpus, "doc_id", "text", Seq("join"), k = 5,
      rationalIdf = true).as[(Long, Long, Long)].collect().map(t => t._1 -> t._2).toMap
    // df/idf of each term is identical in the single- and multi-term
    // runs (df is per-term), so per-doc totals must add exactly
    for ((id, (fp, nTerms)) <- both) {
      assert(fp === vOnly.getOrElse(id, 0L) + jOnly.getOrElse(id, 0L), s"doc $id")
      assert(nTerms === (if (vOnly.contains(id)) 1 else 0) + (if (jOnly.contains(id)) 1 else 0))
    }
  }

  test("bm25: top-k is TakeOrdered (no global sort shuffle)") {
    val plan = Bm25.topK(tinyCorpus, "doc_id", "text", Seq("vector"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
  }

  // ----------------------------------------------------------------- RRF

  test("persisted index: search == on-the-fly topK; per-term reads prune dirs") {
    withTempDir("bm25idx") { dir =>
      val docs = Tables.documents(spark, sfDir).limit(300)
        .select($"doc_id", $"text")
      Bm25.buildPersistedIndex(docs, "doc_id", "text", nRanges = 8,
        path = dir.getAbsolutePath)
      for (terms <- Seq(Seq("vector", "hash", "join"), Seq("the"),
          Seq("nonexistentterm", "vector"))) {
        val live = Bm25.topK(docs, "doc_id", "text", terms, k = 15,
          rationalIdf = true).as[(Long, Long, Long)].collect().toSeq
        val indexed = Bm25.searchPersistedIndex(spark, dir.getAbsolutePath,
          terms, k = 15, rationalIdf = true).as[(Long, Long, Long)].collect().toSeq
        assert(indexed === live, s"index-backed search diverged for $terms")
      }
      // pruning: a single term touches a strict subset of range dirs
      val manifest = spark.read.parquet(s"${dir.getAbsolutePath}/manifest")
      val one = graft.operators.Sharding.readRange(manifest,
        s"${dir.getAbsolutePath}/postings", "term", "vector", "vector")
      val touched = one.inputFiles
        .map(f => f.replaceAll("/[^/]*$", "").replaceAll(".*/", "")).distinct
      val total = manifest.count()
      assert(touched.length < total,
        s"single-term read touched all $total ranges")
    }
  }

  test("persisted index: empty corpus and out-of-range terms return empty, not a crash") {
    withTempDir("bm25idx-empty") { dir =>
      val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
      Bm25.buildPersistedIndex(none, "doc_id", "text", nRanges = 4,
        path = dir.getAbsolutePath)
      assert(Bm25.searchPersistedIndex(spark, dir.getAbsolutePath,
        Seq("anything"), k = 5).count() === 0L)
    }
    withTempDir("bm25idx-oor") { dir =>
      Bm25.buildPersistedIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"),
        "doc_id", "text", nRanges = 2, path = dir.getAbsolutePath)
      // every query term lexicographically outside the posting ranges
      assert(Bm25.searchPersistedIndex(spark, dir.getAbsolutePath,
        Seq("zzzz"), k = 5).count() === 0L)
    }
    // a layout without schema/ (no current build writes one) fails
    // loudly on the no-range path instead of guessing a schema
    withTempDir("bm25idx-legacy") { dir =>
      Bm25.buildPersistedIndex(Seq((1L, "alpha beta")).toDF("doc_id", "text"),
        "doc_id", "text", nRanges = 2, path = dir.getAbsolutePath)
      val fs = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"${dir.getAbsolutePath}/schema"), true)
      intercept[org.apache.spark.sql.AnalysisException](
        Bm25.searchPersistedIndex(spark, dir.getAbsolutePath, Seq("zzzz"), k = 5))
    }
    // the no-range path must return the SAME schema as a populated read
    // — including a non-long id type
    withTempDir("bm25idx-strid") { dir =>
      Bm25.buildPersistedIndex(
        Seq(("doc_x", "alpha beta"), ("doc_y", "alpha gamma"))
          .toDF("doc_id", "text"),
        "doc_id", "text", nRanges = 2, path = dir.getAbsolutePath)
      val hit = Bm25.searchPersistedIndex(spark, dir.getAbsolutePath,
        Seq("alpha"), k = 5)
      val miss = Bm25.searchPersistedIndex(spark, dir.getAbsolutePath,
        Seq("zzzz"), k = 5)
      assert(hit.count() === 2L && miss.count() === 0L)
      assert(miss.schema === hit.schema,
        s"empty path schema ${miss.schema} != populated ${hit.schema}")
      assert(hit.schema("id").dataType ===
        org.apache.spark.sql.types.StringType)
    }
  }

  test("appendToPersistedIndex: append == rebuild; untouched ranges not rewritten") {
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir).limit(200).select($"doc_id", $"text")
    val base = docs.filter($"doc_id" % 10 =!= 0)
    val delta = docs.filter($"doc_id" % 10 === 0)
    val appendDir = java.nio.file.Files.createTempDirectory("bm25-append").toFile
    val rebuildDir = java.nio.file.Files.createTempDirectory("bm25-rebuild").toFile
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    val synth = Seq((999999L, "zzzq zzzq zzzr")).toDF("doc_id", "text")
    try {
      Bm25.buildPersistedIndex(base, "doc_id", "text", 8, appendDir.getAbsolutePath)
      Bm25.buildPersistedIndex(docs.unionByName(synth), "doc_id", "text", 8,
        rebuildDir.getAbsolutePath)
      // snapshot postings files before the appends
      def files(dir: java.io.File): Map[String, Seq[(String, Long)]] =
        Option(new java.io.File(dir, "postings").listFiles()).getOrElse(Array())
          .filter(d => d.isDirectory && d.getName.startsWith("range_id="))
          .map(d => d.getName -> Option(d.listFiles()).getOrElse(Array())
            .filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified())).sorted.toSeq).toMap
      val before = files(appendDir)
      // a NARROW append (two adjacent high terms) must touch one range
      // and leave every other dir's file set (names AND mtimes) intact
      val touchedSynth = Bm25.appendToPersistedIndex(synth, "doc_id", "text",
        appendDir.getAbsolutePath)
      val after = files(appendDir)
      assert(touchedSynth.size === 1,
        s"narrow append should touch exactly one range (touched $touchedSynth)")
      val untouchedDirs = before.keySet.filterNot(d =>
        touchedSynth.contains(d.stripPrefix("range_id=").toLong))
      assert(untouchedDirs.nonEmpty)
      untouchedDirs.foreach(d => assert(after(d) === before(d), s"$d rewritten"))
      // then the broad real delta — append-after-append must still
      // equal a single fresh rebuild over the full corpus
      Bm25.appendToPersistedIndex(delta, "doc_id", "text",
        appendDir.getAbsolutePath)
      // append == rebuild: identical postings multiset, stats, and search
      def postings(dir: java.io.File) =
        spark.read.option("basePath", s"${dir.getAbsolutePath}/postings")
          .parquet(s"${dir.getAbsolutePath}/postings")
          .select($"id", $"term", $"dl", $"tf")
          .as[(Long, String, Long, Long)].collect().sorted.toSeq
      assert(postings(appendDir) === postings(rebuildDir))
      assert(spark.read.parquet(s"$appendDir/stats")
        .as[(Long, Double, Long)].head() ===
        spark.read.parquet(s"$rebuildDir/stats").as[(Long, Double, Long)].head())
      val viaAppend = Bm25.searchPersistedIndex(spark, appendDir.getAbsolutePath,
        Seq("vector", "hash", "join"), 20, rationalIdf = true)
        .as[(Long, Long, Long)].collect().toSeq
      val viaRebuild = Bm25.searchPersistedIndex(spark, rebuildDir.getAbsolutePath,
        Seq("vector", "hash", "join"), 20, rationalIdf = true)
        .as[(Long, Long, Long)].collect().toSeq
      assert(viaAppend === viaRebuild)
      // guard: pre-sum_dl index refuses append with an actionable message
      val legacy = java.nio.file.Files.createTempDirectory("bm25-legacy").toFile
      try {
        Bm25.buildPersistedIndex(base, "doc_id", "text", 4, legacy.getAbsolutePath)
        spark.read.parquet(s"$legacy/stats").drop("sum_dl")
          .write.mode("overwrite").parquet(s"$legacy/stats2")
        // swap stats with the legacy (sum_dl-less) shape
        rm(new java.io.File(legacy, "stats"))
        new java.io.File(legacy, "stats2").renameTo(new java.io.File(legacy, "stats"))
        val e = intercept[IllegalArgumentException](
          Bm25.appendToPersistedIndex(delta, "doc_id", "text", legacy.getAbsolutePath))
        assert(e.getMessage.contains("rebuild"))
      } finally rm(legacy)
      // guard: leftover crash-recovery dirs make the append REFUSE
      // (restoring them is the operator's job, not this run's) — and
      // the refusal leaves the dirs untouched for that restore
      val park = new java.io.File(appendDir, "postings/.old_r0")
      park.mkdirs()
      try {
        val e2 = intercept[IllegalArgumentException](
          Bm25.appendToPersistedIndex(synth
              .withColumn("doc_id", $"doc_id" + 1), "doc_id", "text",
            appendDir.getAbsolutePath))
        assert(e2.getMessage.contains(".old_r0"), e2.getMessage)
        assert(park.exists(), "fail-fast must not delete recovery state")
      } finally rm(park)
    } finally { rm(appendDir); rm(rebuildDir) }
  }

  test("range-sharded layouts write every range file in (term, id) order: " +
    "BM25 and positional builds, a BM25 append and a delete") {
    import graft.operators.Positional
    val docs = Tables.documents(spark, sfDir).limit(200).select($"doc_id", $"text")
    val conf = spark.sparkContext.hadoopConfiguration
    /** Check every range part file of `dir` in file order; returns the
      * rows checked. */
    def assertTermIdOrder(dir: String): Long = {
      import graft.serving.Serving
      var rows = 0L
      for (range <- new java.io.File(s"$dir/postings").listFiles()
           if range.getName.startsWith("range_id=");
           st <- Serving.partFiles(conf, range.getPath)) {
        val (reader, schema) = Serving.openPart(conf, st, Seq("term", "id"))
        try {
          var last: (String, Long) = null
          var pages = reader.readNextRowGroup()
          while (pages != null) {
            val rg = new Serving.RowGroup(st.getPath.toString, schema, pages,
              reader.getFooter.getFileMetaData.getCreatedBy)
            val terms = rg.strings("term"); val ids = rg.longs("id")
            for (i <- 0 until rg.rows) {
              val cur = (terms(i), ids(i))
              assert(last == null || Ordering[(String, Long)].lteq(last, cur),
                s"${st.getPath}: $last before $cur")
              last = cur
            }
            rows += rg.rows
            pages = reader.readNextRowGroup()
          }
        } finally reader.close()
      }
      rows
    }
    withTempDir("term-id-order") { tmp =>
      val bm = s"${tmp.getPath}/bm25"; val pos = s"${tmp.getPath}/pos"
      Bm25.buildPersistedIndex(docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text", 4, bm)
      Positional.buildPersistedIndex(docs, "doc_id", "text", 4, pos)
      def postings(dir: String) = spark.read.parquet(s"$dir/postings").count()
      assert(assertTermIdOrder(bm) === postings(bm))
      assert(assertTermIdOrder(pos) === postings(pos))
      Bm25.appendToPersistedIndex(docs.filter($"doc_id" % 10 === 0), "doc_id", "text", bm)
      assert(assertTermIdOrder(bm) === postings(bm))
      Bm25.deleteFromPersistedIndex(docs.filter($"doc_id" % 7 === 0), "doc_id", "text", bm)
      assert(assertTermIdOrder(bm) === postings(bm))
    }
  }

  test("deleteFromPersistedIndex: delete == rebuild over survivors; " +
    "untouched ranges not rewritten; emptied range and full-delete safe") {
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir).limit(200).select($"doc_id", $"text")
    val victims = docs.filter($"doc_id" % 10 === 0)
    val survivors = docs.filter($"doc_id" % 10 =!= 0)
    val synth = Seq((999999L, "zzzq zzzq zzzr")).toDF("doc_id", "text")
    val delDir = java.nio.file.Files.createTempDirectory("bm25-del").toFile
    val rebuildDir = java.nio.file.Files.createTempDirectory("bm25-delreb").toFile
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    try {
      // index over full corpus + synth; rebuild baseline over survivors
      Bm25.buildPersistedIndex(docs.unionByName(synth), "doc_id", "text", 8,
        delDir.getAbsolutePath)
      Bm25.buildPersistedIndex(survivors, "doc_id", "text", 8,
        rebuildDir.getAbsolutePath)
      def files(dir: java.io.File): Map[String, Seq[(String, Long)]] =
        Option(new java.io.File(dir, "postings").listFiles()).getOrElse(Array())
          .filter(d => d.isDirectory && d.getName.startsWith("range_id="))
          .map(d => d.getName -> Option(d.listFiles()).getOrElse(Array())
            .filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified())).sorted.toSeq).toMap
      val before = files(delDir)
      // NARROW delete: synth's unique high terms route to ONE range;
      // every other dir's file set (names AND mtimes) stays intact,
      // and since synth's terms were that range's whole tail, its
      // manifest max must TIGHTEN back
      val touchedSynth = Bm25.deleteFromPersistedIndex(synth, "doc_id", "text",
        delDir.getAbsolutePath)
      assert(touchedSynth.size === 1,
        s"narrow delete should touch exactly one range (touched $touchedSynth)")
      val after = files(delDir)
      val untouchedDirs = before.keySet.filterNot(d =>
        touchedSynth.contains(d.stripPrefix("range_id=").toLong))
      assert(untouchedDirs.nonEmpty)
      untouchedDirs.foreach(d => assert(after(d) === before(d), s"$d rewritten"))
      val manAfter = spark.read.parquet(s"$delDir/manifest")
        .select($"range_id".cast("long"), $"max_key")
        .as[(Long, String)].collect().toMap
      assert(manAfter(touchedSynth.head) < "zzzq",
        "delete must tighten the touched range's max_key")
      // then the broad victim batch — delete-after-delete must equal a
      // fresh rebuild over the survivors: postings, stats, search
      val touchedVic = Bm25.deleteFromPersistedIndex(victims, "doc_id", "text",
        delDir.getAbsolutePath)
      assert(touchedVic.nonEmpty)
      def postings(dir: java.io.File) =
        spark.read.option("basePath", s"${dir.getAbsolutePath}/postings")
          .parquet(s"${dir.getAbsolutePath}/postings")
          .select($"id", $"term", $"dl", $"tf")
          .as[(Long, String, Long, Long)].collect().sorted.toSeq
      assert(postings(delDir) === postings(rebuildDir))
      assert(spark.read.parquet(s"$delDir/stats")
        .as[(Long, Double, Long)].head() ===
        spark.read.parquet(s"$rebuildDir/stats").as[(Long, Double, Long)].head())
      val viaDelete = Bm25.searchPersistedIndex(spark, delDir.getAbsolutePath,
        Seq("vector", "hash", "join"), 20, rationalIdf = true)
        .as[(Long, Long, Long)].collect().toSeq
      val viaRebuild = Bm25.searchPersistedIndex(spark, rebuildDir.getAbsolutePath,
        Seq("vector", "hash", "join"), 20, rationalIdf = true)
        .as[(Long, Long, Long)].collect().toSeq
      assert(viaDelete === viaRebuild && viaDelete.nonEmpty)
      // manifest n_rows stays EXACT after the deletes (== live rows per range)
      val liveByRange = spark.read
        .option("basePath", s"$delDir/postings").parquet(s"$delDir/postings")
        .groupBy($"range_id").count()
        .as[(Int, Long)].collect().toMap
      spark.read.parquet(s"$delDir/manifest")
        .select($"range_id", $"n_rows").as[(Int, Long)].collect()
        .foreach { case (rid, n) =>
          assert(n === liveByRange.getOrElse(rid, 0L), s"n_rows drift in range $rid")
        }
      // an INDEXED victim with no terms (empty text) exists only in
      // the corpus stats: its delete touches 0 ranges, decrements n
      // only, and leaves every postings dir byte-untouched
      locally {
        val tiny = java.nio.file.Files.createTempDirectory("bm25-notok").toFile
        try {
          val corpus = Seq((1L, "alpha beta"), (2L, "")).toDF("doc_id", "text")
          Bm25.buildPersistedIndex(corpus, "doc_id", "text", 2,
            tiny.getAbsolutePath)
          val s0 = spark.read.parquet(s"$tiny/stats")
            .as[(Long, Double, Long)].head()
          assert(Bm25.deleteFromPersistedIndex(
            corpus.filter($"doc_id" === 2L), "doc_id", "text",
            tiny.getAbsolutePath) === Seq.empty)
          val s1 = spark.read.parquet(s"$tiny/stats")
            .as[(Long, Double, Long)].head()
          assert(s1._1 === s0._1 - 1 && s1._3 === s0._3,
            "empty-text victim decrements n only")
          assert(Bm25.searchPersistedIndex(spark, tiny.getAbsolutePath,
            Seq("alpha"), k = 5).count() === 1L)
        } finally rm(tiny)
      }
      // FULL delete: every remaining doc dies; search over any term is
      // empty (emptied ranges keep null manifest keys, zone-map read
      // skips them — never a schema crash), stats row is the exact
      // empty-rebuild shape (n=0, null avgdl/sum_dl)
      Bm25.deleteFromPersistedIndex(survivors, "doc_id", "text",
        delDir.getAbsolutePath)
      assert(Bm25.searchPersistedIndex(spark, delDir.getAbsolutePath,
        Seq("vector", "hash"), 20).count() === 0L)
      val sEmpty = spark.read.parquet(s"$delDir/stats")
        .select($"n", $"avgdl", $"sum_dl")
        .as[(Long, Option[Double], Option[Long])].head()
      assert(sEmpty === ((0L, None, None)))
      // guard: over-deleting (victims exceed the indexed corpus) refuses
      val e = intercept[IllegalArgumentException](
        Bm25.deleteFromPersistedIndex(survivors, "doc_id", "text",
          delDir.getAbsolutePath))
      assert(e.getMessage.contains("currently-indexed"), e.getMessage)
      // guard: leftover crash-recovery dirs make the delete REFUSE and
      // leave them untouched for the operator's restore
      val park = new java.io.File(delDir, "postings/.old_r0")
      park.mkdirs()
      try {
        val e2 = intercept[IllegalArgumentException](
          Bm25.deleteFromPersistedIndex(victims, "doc_id", "text",
            delDir.getAbsolutePath))
        assert(e2.getMessage.contains(".old_r0"), e2.getMessage)
        assert(park.exists(), "fail-fast must not delete recovery state")
      } finally rm(park)
    } finally { rm(delDir); rm(rebuildDir) }
  }

  test("copyTree hard-link clone: mutating the clone (delete + append) " +
    "leaves every source file byte-identical") {
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir).limit(120).select($"doc_id", $"text")
    val srcDir = java.nio.file.Files.createTempDirectory("bm25-lnk-src").toFile
    val cloneDir = java.nio.file.Files.createTempDirectory("bm25-lnk-cl").toFile
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    def digest(root: java.io.File): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array()).toSeq.flatMap(walk)
        else Seq(f)
      walk(root).map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        root.toPath.relativize(f.toPath).toString ->
          md.map(b => f"${b & 0xff}%02x").mkString
      }.toMap
    }
    try {
      Bm25.buildPersistedIndex(docs, "doc_id", "text", 4, srcDir.getAbsolutePath)
      val before = digest(srcDir)
      graft.queries.HybridQueries.copyTree(srcDir, cloneDir)
      // the clone really links (same inode ⇒ same file key) on this FS
      val srcStats = new java.io.File(srcDir, "stats")
      val firstParquet = Option(srcStats.listFiles())
        .getOrElse(Array()).find(_.getName.endsWith(".parquet")).get
      val linked = new java.io.File(cloneDir,
        srcDir.toPath.relativize(firstParquet.toPath.getParent).toString +
          "/" + firstParquet.getName)
      def key(f: java.io.File) = java.nio.file.Files.readAttributes(
        f.toPath, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey
      assert(key(firstParquet) === key(linked),
        "clone must hard-link, not copy, on the same filesystem")
      // mutate the CLONE through both maintenance protocols
      Bm25.deleteFromPersistedIndex(docs.filter($"doc_id" % 10 === 0),
        "doc_id", "text", cloneDir.getAbsolutePath)
      Bm25.appendToPersistedIndex(
        Seq((777777L, "linked clone append probe")).toDF("doc_id", "text"),
        "doc_id", "text", cloneDir.getAbsolutePath)
      assert(digest(srcDir) === before,
        "mutating a linked clone must never alter the source index")
      // and the clone is live: the appended doc is searchable
      assert(Bm25.searchPersistedIndex(spark, cloneDir.getAbsolutePath,
        Seq("probe"), k = 5).count() === 1L)
    } finally { rm(cloneDir); rm(srcDir) }
  }

  test("link-clone byte-identity for the positional and IVF delete " +
    "protocols, and in-place writes to linked sources fail loudly") {
    import graft.operators.{Ann, Positional}
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.setWritable(true, false); f.delete()
    }
    def digest(root: java.io.File): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array()).toSeq.flatMap(walk)
        else Seq(f)
      walk(root).map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        root.toPath.relativize(f.toPath).toString ->
          md.map(b => f"${b & 0xff}%02x").mkString
      }.toMap
    }
    val docs = Tables.documents(spark, sfDir).limit(100).select($"doc_id", $"text")
    // --- positional layout
    val pSrc = java.nio.file.Files.createTempDirectory("pos-lnk-src").toFile
    val pCl = java.nio.file.Files.createTempDirectory("pos-lnk-cl").toFile
    try {
      Positional.buildPersistedIndex(docs, "doc_id", "text", 4,
        pSrc.getAbsolutePath)
      val before = digest(pSrc)
      graft.queries.HybridQueries.copyTree(pSrc, pCl)
      Positional.deleteFromPersistedIndex(docs.filter($"doc_id" % 7 === 0),
        "doc_id", "text", pCl.getAbsolutePath)
      assert(digest(pSrc) === before,
        "positional delete on a linked clone must not alter the source")
      // the enforcement teeth: every linked source file drops its
      // write bits, so an in-place writer errors loudly instead of
      // silently corrupting the shared baseline. Assert the BITS (not
      // an actual failed open — this suite runs as root, and root
      // bypasses permission checks; ordinary service users do not).
      before.keys.foreach { rel =>
        val perms = java.nio.file.Files.getPosixFilePermissions(
          new java.io.File(pSrc, rel).toPath)
        import java.nio.file.attribute.PosixFilePermission._
        assert(!perms.contains(OWNER_WRITE) && !perms.contains(GROUP_WRITE) &&
          !perms.contains(OTHERS_WRITE),
          s"linked source $rel still writable: $perms")
      }
    } finally { rm(pCl); rm(pSrc) }
    // --- IVF layout
    val emb = Tables.embeddings(spark, sfDir).limit(400)
      .select($"vec_id", $"embedding")
    val iSrc = java.nio.file.Files.createTempDirectory("ivf-lnk-src").toFile
    val iCl = java.nio.file.Files.createTempDirectory("ivf-lnk-cl").toFile
    try {
      Ann.saveIvf(Ann.buildIvf(emb, 4), iSrc.getAbsolutePath)
      val before = digest(iSrc)
      graft.queries.HybridQueries.copyTree(iSrc, iCl)
      Ann.deleteFromPersistedIvf(spark, iCl.getAbsolutePath,
        emb.filter($"vec_id" % 5 === 0))
      assert(digest(iSrc) === before,
        "IVF delete on a linked clone must not alter the source")
    } finally { rm(iCl); rm(iSrc) }
  }

  test("rrf: hand-computed fusion incl. a one-list-only candidate") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val out = Bm25.rrfFuse(a, b, k = 10, kRrf = 60)
      .as[(Long, Long)].collect().toSeq
    def c(r: Int) = 1000000000L / (60L + r)
    val expected = Seq(
      20L -> (c(2) + c(1)), // in both lists → highest fused
      10L -> c(1),
      40L -> c(2),
      30L -> c(3))
    assert(out === expected.sortBy { case (id, fp) => (-fp, id) })
  }

  test("rrf: deterministic tie-break on id when fused scores tie") {
    val a = Seq((7L, 1), (3L, 2)).toDF("id", "rank")
    val b = Seq((3L, 1), (7L, 2)).toDF("id", "rank")
    val out = Bm25.rrfFuse(a, b, k = 10).as[(Long, Long)].collect().toSeq
    assert(out.map(_._1) === Seq(3L, 7L), "equal fused scores order by id")
    assert(out(0)._2 === out(1)._2)
  }

  // ------------------------------------------------------- token windows

  test("prfTopK: fbTerms=0 with unit weight IS plain topK") {
    val docs = Tables.documents(spark, sfDir)
    val q = Seq("vector", "hash", "join")
    val plain = Bm25.topK(docs, "doc_id", "text", q, k = 20, rationalIdf = true)
      .as[(Long, Long, Long)].collect().toSeq
    val prf = Bm25.prfTopK(docs, "doc_id", "text", q, k = 20,
        fbDocs = 10, fbTerms = 0, wOrig = 1L, wExp = 1L, rationalIdf = true)
      .as[(Long, Long, Long)].collect().toSeq
    assert(prf === plain)
  }

  test("prfTopK: weighted score decomposes as wOrig*orig + wExp*expansion parts") {
    val docs = Tables.documents(spark, sfDir)
    val q = Seq("vector", "hash", "join")
    val n = docs.count().toInt
    // re-derive the expansion terms exactly as the operator does
    val fb = Bm25.topK(docs, "doc_id", "text", q, k = 10, rationalIdf = true)
      .select($"id").as[Long].collect()
    val exp = docs.filter($"doc_id".isin(fb: _*))
      .select(explode(Bm25.terms($"text")).as("term"))
      .filter(!$"term".isin(q: _*))
      .groupBy($"term").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"term").limit(8)
      .select($"term").as[String].collect().toSeq
    assert(exp.size === 8 && exp.intersect(q).isEmpty)
    // per-term BM25 parts are independent (df per term, shared stats),
    // so the weighted score must equal 2*origPart + 1*expPart
    def scores(ts: Seq[String]): Map[Long, Long] =
      Bm25.topK(docs, "doc_id", "text", ts, k = n, rationalIdf = true)
        .select($"id", $"bm25_fp").as[(Long, Long)].collect().toMap
    val (orig, expanded) = (scores(q), scores(exp))
    val got = Bm25.prfTopK(docs, "doc_id", "text", q, k = 20,
        fbDocs = 10, fbTerms = 8, wOrig = 2L, wExp = 1L, rationalIdf = true)
      .select($"id", $"bm25_fp").as[(Long, Long)].collect().toSeq
    got.foreach { case (id, s) =>
      val want = 2L * orig.getOrElse(id, 0L) + expanded.getOrElse(id, 0L)
      assert(s === want, s"doc $id")
    }
    // and the run is deterministic
    val again = Bm25.prfTopK(docs, "doc_id", "text", q, k = 20,
        fbDocs = 10, fbTerms = 8, wOrig = 2L, wExp = 1L, rationalIdf = true)
      .select($"id", $"bm25_fp").as[(Long, Long)].collect().toSeq
    assert(again === got)
  }

  test("prfTopK guards: positive k/fbDocs/weights") {
    val docs = Tables.documents(spark, sfDir)
    intercept[IllegalArgumentException](
      Bm25.prfTopK(docs, "doc_id", "text", Seq("a"), k = 0))
    intercept[IllegalArgumentException](
      Bm25.prfTopK(docs, "doc_id", "text", Seq("a"), k = 1, fbDocs = 0))
    intercept[IllegalArgumentException](
      Bm25.prfTopK(docs, "doc_id", "text", Seq("a"), k = 1, wOrig = 0L))
  }

  test("windowDocs: boundary math — exact window counts and coverage") {
    val docs = Seq(
      (1L, ""),                                   // empty → 1 empty window
      (2L, (1 to 4).map(i => s"t$i").mkString(" ")),  // n=4 <= W → 1 window
      (3L, (1 to 5).map(i => s"t$i").mkString(" ")),  // n=5, W=4, S=2 → 2 windows
      (4L, (1 to 9).map(i => s"t$i").mkString(" ")),  // n=9 → 1+ceil(5/2)=4 windows
      (5L, null.asInstanceOf[String])             // NULL → 1 empty window, not dropped
    ).toDF("doc_id", "text")
    val out = Packing.windowDocs(docs, "doc_id", "text", 4, 2)
      .orderBy("doc_id", "window_id")
      .as[(Long, Long, Long, String)].collect()
    val byDoc = out.groupBy(_._1).view.mapValues(_.toSeq).toMap
    assert(byDoc(1L) === Seq((1L, 0L, 0L, "")))
    assert(byDoc(5L) === Seq((5L, 0L, 0L, "")),
      "null-text doc must keep corpus membership as one empty window")
    assert(byDoc(2L) === Seq((2L, 0L, 4L, "t1 t2 t3 t4")))
    assert(byDoc(3L) === Seq(
      (3L, 0L, 4L, "t1 t2 t3 t4"), (3L, 1L, 3L, "t3 t4 t5")))
    assert(byDoc(4L).size === 4)
    assert(byDoc(4L).last === ((4L, 3L, 3L, "t7 t8 t9")))
    // every token of doc 4 appears in at least one window
    val covered = byDoc(4L).flatMap(_._4.split(" ")).toSet
    assert(covered === (1 to 9).map(i => s"t$i").toSet)
  }

  test("windowDocs: stride == window → exact partition, no overlap, no shuffle") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = Packing.windowDocs(docs, "doc_id", "text", 3, 3)
      .orderBy("window_id").as[(Long, Long, Long, String)].collect()
    assert(out.map(_._4).mkString(" ") === (1 to 10).map(i => s"t$i").mkString(" "))
    assert(out.map(_._3).sum === 10L)
    val plan = Packing.windowDocs(docs, "doc_id", "text", 3, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"windowing must be shuffle-free:\n$plan")
  }

  test("windowDocs: rejects invalid window/stride") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Packing.windowDocs(docs, "doc_id", "text", 0, 1))
    intercept[IllegalArgumentException](Packing.windowDocs(docs, "doc_id", "text", 4, 5))
    intercept[IllegalArgumentException](Packing.windowDocs(docs, "doc_id", "text", 4, 0))
  }

  // ------------------------------------------- deterministic stratified

  test("stratifiedSampleDet: partitioning-independent, salt-sensitive, fraction-exact at the edges") {
    val docs = spark.range(0, 2000)
      .select(col("id").as("doc_id"),
        (when(col("id") % 2 === 0, "en").otherwise("de")).as("lang"))
    val fr = Map("en" -> 0.5, "de" -> 1.0)
    val s1 = Refresh.stratifiedSampleDet(docs, "lang", fr, "doc_id", "s")
      .as[(Long, String)].collect().toSet
    val s2 = Refresh.stratifiedSampleDet(docs.repartition(13), "lang", fr, "doc_id", "s")
      .as[(Long, String)].collect().toSet
    assert(s1 === s2, "survival must not depend on partitioning")
    assert(s1.count(_._2 == "de") === 1000, "fraction 1.0 keeps the whole stratum")
    val en = s1.count(_._2 == "en")
    // md5 uniformity: |en - 500| within 5·sqrt(250) ≈ 79
    assert(math.abs(en - 500) < 80, s"en stratum kept $en of 1000 at fraction 0.5")
    val s3 = Refresh.stratifiedSampleDet(docs, "lang", fr, "doc_id", "other-salt")
      .as[(Long, String)].collect().toSet
    assert(s3 != s1, "different salt must draw a different sample")
    // stratum not in the fraction map → dropped
    val s4 = Refresh.stratifiedSampleDet(docs, "lang", Map("en" -> 1.0), "doc_id", "s")
      .as[(Long, String)].collect()
    assert(s4.forall(_._2 == "en") && s4.length === 1000)
    // zero fraction → empty stratum
    val s5 = Refresh.stratifiedSampleDet(docs, "lang", Map("en" -> 0.0), "doc_id", "s")
    assert(s5.count() === 0)
  }

  test("stratifiedSampleDet: narrow plan — no shuffle, and rejects bad fractions") {
    val docs = Seq((1L, "en")).toDF("doc_id", "lang")
    val plan = Refresh.stratifiedSampleDet(docs, "lang", Map("en" -> 0.5), "doc_id", "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must be a narrow filter:\n$plan")
    intercept[IllegalArgumentException](
      Refresh.stratifiedSampleDet(docs, "lang", Map("en" -> 1.5), "doc_id", "s"))
    intercept[IllegalArgumentException](
      Refresh.stratifiedSampleDet(docs, "lang", Map.empty[String, Double], "doc_id", "s"))
  }
}
