package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Dedup-suite spec: unit semantics on planted duplicates + recall of
  * the approximate paths (MinHash LSH, SimHash) against exact answers. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearDup = "the quick brown fox jumps over the lazy dog again and again tonight"
  private val unrelated = "completely different words describing an unrelated topic entirely here now"

  test("jaccard: identical=1, disjoint=0") {
    assert(Dedup.jaccard(base, base, 3) === 1.0)
    assert(Dedup.jaccard(base, unrelated, 3) === 0.0)
  }

  test("minhash signature similarity tracks jaccard") {
    val s1 = Dedup.minHashSignature(base, 128, 3)
    val s2 = Dedup.minHashSignature(nearDup, 128, 3)
    val s3 = Dedup.minHashSignature(unrelated, 128, 3)
    val est12 = s1.zip(s2).count { case (a, b) => a == b } / 128.0
    val est13 = s1.zip(s3).count { case (a, b) => a == b } / 128.0
    val trueJac = Dedup.jaccard(base, nearDup, 3)
    assert(math.abs(est12 - trueJac) < 0.25) // minhash concentration
    assert(est13 === 0.0)
  }

  test("minhash LSH finds planted near-dups, skips unrelated") {
    val docs = Seq(
      (1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base + " extra"), (5L, "some other totally distinct text goes right here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupMinHash(docs, "doc_id", "text",
      numHashes = 128, bands = 32, shingle = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash: hamming small for near-dups, large for unrelated") {
    val h1 = Dedup.simHash64(base)
    val h2 = Dedup.simHash64(nearDup)
    val h3 = Dedup.simHash64(unrelated)
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 12)
    assert(java.lang.Long.bitCount(h1 ^ h3) > 12)
  }

  test("simhash near-dup pairs on planted corpus") {
    // simhash is a token-multiset signature: reordering is Hamming 0,
    // which is exactly the near-dup class it exists to catch (the 4x16
    // blocking guarantees recall only to Hamming 3 — guarded)
    val reordered = base.split(" ").reverse.mkString(" ")
    val docs = Seq((1L, base), (2L, reordered), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupSimHash(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
    intercept[IllegalArgumentException] {
      Dedup.nearDupSimHash(docs, "doc_id", "text", maxHamming = 6)
    }
  }

  test("minhash LSH recall >= 0.8 vs exact jaccard on fixture corpus") {
    val docs = Tables.documents(spark, sfDir)
    // exact pairs at shingle-level jaccard >= 0.7 (same shingle defn as LSH)
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val exact = (for {
      i <- texts.indices.iterator
      j <- (i + 1) until texts.length
      jac = Dedup.jaccard(texts(i)._2, texts(j)._2, 3)
      if jac >= 0.7
    } yield (math.min(texts(i)._1, texts(j)._1), math.max(texts(i)._1, texts(j)._1))).toSet

    val lsh = Dedup.nearDupMinHash(docs, "doc_id", "text",
      numHashes = 128, bands = 32, shingle = 3, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    // LSH verifies with exact jaccard → no false positives
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.8, s"recall $recall over ${exact.size} exact pairs")
    }
  }

  test("robustness: empty corpus and single-doc corpus yield no pairs") {
    val empty = spark.emptyDataFrame
      .withColumn("doc_id", lit(0L)).withColumn("text", lit("x")).limit(0)
    assert(Dedup.nearDupMinHash(empty, "doc_id", "text").isEmpty)
    val single = Seq((1L, base)).toDF("doc_id", "text")
    assert(Dedup.nearDupMinHash(single, "doc_id", "text").isEmpty)
    assert(Dedup.nearDupSimHash(single, "doc_id", "text").isEmpty)
    assert(Dedup.jaccardPairs(single.withColumn("lang", lit("en")),
      "doc_id", "text", "lang", 0.5).isEmpty)
  }

  test("robustness: empty/blank text shingles don't crash") {
    assert(Dedup.shingleSet("", 3) === Set(""))
    assert(Dedup.jaccard("", "", 3) === 1.0)
    assert(Dedup.simHash64("") === 0L)
    val docs = Seq((1L, ""), (2L, "   "), (3L, base)).toDF("doc_id", "text")
    // blank docs form their own (trivially identical) pair; base stays out
    val pairs = Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("hashed jaccardPairs == exact string-set jaccard on the fixture corpus") {
    val docs = Tables.documents(spark, sfDir)
    val viaOp = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    // driver-side exact string-set computation, same blocking
    val rows = docs.select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    def wset(t: String) = t.split(" ").filter(_.nonEmpty).toSet
    val exact = (for {
      i <- rows.indices.iterator
      j <- (i + 1) until rows.length
      if rows(i)._2 == rows(j)._2
      (a, b) = if (rows(i)._1 < rows(j)._1) (rows(i), rows(j)) else (rows(j), rows(i))
      sa = wset(a._3); sb = wset(b._3)
      inter = (sa intersect sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= 0.8
    } yield (a._1, b._1, jac)).toSet
    assert(viaOp === exact)
  }

  test("jaccardPairsPrefix == jaccardPairs on the fixture corpus (exactness of the scale path)") {
    val docs = Tables.documents(spark, sfDir)
    val prefix = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val pairJoin = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(prefix === pairJoin)
    assert(prefix.nonEmpty, "fixture should contain near-dup pairs")
  }

  test("jaccardPairsPrefix keeps its projection cached to the boundary") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.jaccardPairsPrefix(Tables.documents(spark, sfDir),
      "doc_id", "text", "lang", 0.8)
    assert(out.collect().nonEmpty)
    // a second action before the boundary still reads the cache
    val again = out.select($"id_a", $"id_b")
    assert(again.collect().length === out.count())
    assert(again.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      again.queryExecution.executedPlan.toString)
    assert(Dedup.releasePending() >= 1)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cached RDDs left after the boundary: $leaked")
  }

  test("jaccardPairsPrefix: threshold boundaries and degenerate docs") {
    val docs = Seq(
      (1L, "a b c d e", "en"),  // vs 2: jac = 4/6
      (2L, "a b c d x", "en"),
      (3L, "a b c d e", "en"),  // exact dup of 1: jac = 1.0
      (4L, "", "en"),           // empty token set: never a candidate
      (5L, "a b c d e", "de")   // other block: never paired with 1/3
    ).toDF("doc_id", "text", "lang")
    val at1 = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 1.0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(at1 === Set((1L, 3L)))
    val at066 = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.66)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(at066 === Set((1L, 3L), (1L, 2L), (2L, 3L)))
    // prefix path produces no broadcast of the corpus and no cross join
    val plan = Dedup.jaccardPairsPrefix(Tables.documents(spark, sfDir),
      "doc_id", "text", "lang", 0.8).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("jaccardClassPairCounts == id-level jaccardPairsPrefix aggregated to class pairs") {
    val docs = Tables.documents(spark, sfDir)
    // independent class derivation: word set -> class, rep = min doc_id
    val byId = docs.select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect()
    def wset(t: String) = t.split(" ").filter(_.nonEmpty).toSet
    val repOf: Map[Long, Long] = byId.groupBy(r => wset(r._3))
      .values.flatMap { ms => val rep = ms.map(_._1).min; ms.map(r => r._1 -> rep) }
      .toMap
    val idPairs = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    // aggregate the id-level multiset to (rep_a, rep_b) -> (jaccard, count)
    val expected = idPairs.groupBy { case (a, b, _) =>
      val (ra, rb) = (repOf(a), repOf(b)); if (ra < rb) (ra, rb) else (rb, ra)
    }.map { case (k, vs) =>
      assert(vs.map(_._3).distinct.length === 1,
        s"class pair $k carries distinct jaccards")
      (k._1, k._2, vs.head._3, vs.length.toLong)
    }.toSet
    val viaCounts = Dedup.jaccardClassPairCounts(docs, "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b", $"jaccard", $"n_pairs")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaCounts === expected)
    assert(viaCounts.toSeq.map(_._4).sum === idPairs.length.toLong,
      "multiplicities must cover the exact id-level pair count")
    assert(viaCounts.nonEmpty)
  }

  test("jaccardClassPairCounts: degenerate docs (empty set, blocks, twins)") {
    val docs = Seq(
      (1L, "a b c d e", "en"),  // class {1,3,6}: 6 is a twin in 'de'
      (2L, "a b c d x", "en"),
      (3L, "a b c d e", "en"),
      (4L, "", "en"),           // empty token set: contributes nothing
      (5L, "a b c d e", "de"),  // other block twin of class(1)
      (6L, "a b c d e", "de")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.jaccardClassPairCounts(docs, "doc_id", "text", "lang", 1.0)
      .select($"id_a", $"id_b", $"jaccard", $"n_pairs")
      .as[(Long, Long, Double, Long)].collect().toSet
    // one class {1,3,5,6} (same word set): en pair (1,3) + de pair (5,6)
    assert(out === Set((1L, 1L, 1.0, 2L)))
  }

  test("sorted_intersect_size (bigint): merge-scan == array_intersect, dup/collision-safe") {
    import graft.functions.ArrayFunctions.sortedIntersectSize
    import org.apache.spark.sql.functions.{array_intersect, array_sort, size => asize}
    // randomized parity against the built-in (interpreted + codegen both
    // exercised by the 200-row DataFrame)
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200)((
      Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted,
      Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted))
    val df = rows.toDF("a", "b")
      .withColumn("via_expr", sortedIntersectSize($"a", $"b"))
      .withColumn("via_builtin", asize(array_intersect($"a", $"b")))
    assert(df.filter($"via_expr" =!= $"via_builtin").isEmpty)
    // duplicate runs count once (set semantics)
    val dup = Seq((Seq(1L, 2L, 2L, 3L), Seq(2L, 2L, 4L))).toDF("a", "b")
    assert(dup.select(sortedIntersectSize($"a", $"b")).head().getInt(0) === 1)
    // mixed types rejected at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1L), Seq("x"))).toDF("a", "b")
        .select(sortedIntersectSize($"a", $"b")).head()
    }
  }

  test("cross-gate: minhash at shingle=1 against the prefix-join word-set pairs") {
    // shingle=1 makes MinHash's similarity definition IDENTICAL to the
    // word-set jaccard the prefix join computes, so the two dedup
    // families gate each other: every same-block verified MinHash pair
    // must be an exact prefix-join pair, and recall must hold.
    val docs = Tables.documents(spark, sfDir)
    val exact = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val mh = Dedup.nearDupMinHash(docs, "doc_id", "text",
        numHashes = 128, bands = 32, shingle = 1, threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // minhash runs unblocked — restrict to same-lang pairs before the
    // subset check (the prefix join is lang-blocked by construction)
    val lang = docs.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val mhSameLang = mh.filter { case (a, b) => lang(a) == lang(b) }
    assert(mhSameLang.subsetOf(exact))
    val recall = (mhSameLang intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall over ${exact.size} exact pairs")
  }

  test("incremental prefix join == full pairs restricted to the increment") {
    val docs = Tables.documents(spark, sfDir)
    val newDocs = docs.where($"doc_id" % 10 === 0)
    val corpus = docs.where($"doc_id" % 10 =!= 0)
    val inc = Dedup.jaccardPairsPrefixIncremental(newDocs, corpus,
        "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = full.filter { case (a, b) => a % 10 == 0 || b % 10 == 0 }
    assert(inc === expected)
    assert(inc.nonEmpty, "fixture should produce increment-touching pairs")
    // no corpus x corpus pair leaks into the incremental result
    assert(inc.forall { case (a, b) => a % 10 == 0 || b % 10 == 0 })
    // the skew salt is a pure parallelism knob: salted == unsalted
    val salted = Dedup.jaccardPairsPrefixIncremental(newDocs, corpus,
        "doc_id", "text", "lang", 0.8, saltBuckets = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(salted === inc)
  }

  test("duplicateGroups + dropDuplicates consistency") {
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("doc_id", "text")
    val groups = Dedup.duplicateGroups(docs, Dedup.fingerprint($"text"), "doc_id").collect()
    assert(groups.length === 1 && groups(0).getAs[Long]("n_docs") === 2)
    val kept = Dedup.dropDuplicates(docs, Dedup.fingerprint($"text"), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
  }

  test("duplicatedSpanProfile: hand-computed counts; canonical is global-first") {
    val docs = Seq(
      (1L, "a b c d e"),      // 3 windows, all canonical (first by id)
      (2L, "x a b c d y"),    // shares "a b c" and "b c d" -> 2 dup of 4
      (3L, "a b"),            // shorter than the window: 0 spans
      (4L, "a b c d e")       // verbatim copy of doc 1: all 3 spans dup
    ).toDF("doc_id", "text")
    val p = Dedup.duplicatedSpanProfile(docs, "doc_id", "text", window = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(p(1L) === ((3L, 0L, 0.0)))
    assert(p(2L) === ((4L, 2L, 0.5)))
    assert(p(3L) === ((0L, 0L, 0.0)))
    assert(p(4L) === ((3L, 3L, 1.0)))
  }

  test("trimDuplicatedSpans: covered unions trim, canonical copy survives verbatim") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"),
      (3L, "a b"),
      (4L, "a b c d e")
    ).toDF("doc_id", "text")
    val t = Dedup.trimDuplicatedSpans(docs, "doc_id", "text", window = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 is the canonical home of every repeated span: untouched
    assert(t(1L) === ((5L, 0L, "a b c d e")))
    // doc 2's dup spans at pos 1 and 2 cover tokens 1..4 -> "x y"
    assert(t(2L) === ((6L, 4L, "x y")))
    // short doc: untouched
    assert(t(3L) === ((2L, 0L, "a b")))
    // doc 4 is fully covered by spans canonical in doc 1
    assert(t(4L) === ((5L, 5L, "")))
  }

  test("span gates' persisted-flags route == direct route (parquet round-trip)") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "x a b c d y"), (3L, "a b"), (4L, "a b c d e")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("spanflags").toFile
    try {
      val p = s"${tmp.getAbsolutePath}/flags.parquet"
      Dedup.duplicatedSpanFlags(docs, "doc_id", "text", window = 3)
        .write.mode("overwrite").parquet(p)
      val flags = spark.read.parquet(p)
      val profDirect = Dedup.duplicatedSpanProfile(docs, "doc_id", "text", 3)
        .as[(Long, Long, Long, Double)].collect().toSet
      val profFrom = Dedup.duplicatedSpanProfileFrom(docs, flags, "doc_id")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(profFrom === profDirect)
      val trimDirect = Dedup.trimDuplicatedSpans(docs, "doc_id", "text", 3)
        .as[(Long, Long, Long, String)].collect().toSet
      val trimFrom = Dedup.trimDuplicatedSpansFrom(docs, flags,
          "doc_id", "text", 3)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(trimFrom === trimDirect)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(tmp)
    }
  }

  test("duplicated spans: no corpus without repeats is ever modified") {
    val docs = Seq((1L, "one two three four"), (2L, "five six seven eight"))
      .toDF("doc_id", "text")
    val t = Dedup.trimDuplicatedSpans(docs, "doc_id", "text", window = 2)
      .as[(Long, Long, Long, String)].collect()
    assert(t.forall(_._3 == 0L), "nothing to trim")
    assert(t.map(_._4).toSet === Set("one two three four", "five six seven eight"))
    intercept[IllegalArgumentException](
      Dedup.duplicatedSpanProfile(docs, "doc_id", "text", 0))
    // null text: profile and trim agree on (0, 0, "") — not null counts
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("a b c")))
      .toDF("doc_id", "text")
    val tn = Dedup.trimDuplicatedSpans(withNull, "doc_id", "text", window = 2)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(tn(1L) === ((1L, 0L, 0L, "")))
    val pn = Dedup.duplicatedSpanProfile(withNull, "doc_id", "text", window = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(pn(1L) === ((1L, 0L, 0L, 0.0)))
  }

  /** Twin-replicated embedding corpus (the ScaleUp shape: payloads
    * verbatim, ids shifted) — classes of size `factor`. */
  private def twinEmbeddings(factor: Int) = {
    val base = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    (0 until factor).map(i =>
        base.select(($"vec_id" + i * 1000000L).as("vec_id"), $"embedding"))
      .reduce(_ unionByName _)
  }

  test("cosine class family == id-level path under twin replication") {
    val twins = twinEmbeddings(3)
    val t = 0.45
    val idPairs = Dedup.cosineNearDup(twins, "vec_id", "embedding", t)
      .persist()
    try {
      // digest multiplicities cover the exact id-level pair count
      val counts = Dedup.cosineClassPairCounts(twins, "vec_id", "embedding", t)
        .select($"id_a", $"id_b", $"cos_sim", $"n_pairs")
        .as[(Long, Long, Double, Long)].collect()
      assert(counts.map(_._4).sum === idPairs.count())
      // cross rows are exactly the rep-level subset of the id emitter
      val repSet = counts.filter(c => c._1 != c._2).map(c => (c._1, c._2, c._3)).toSet
      val repIds = counts.flatMap(c => Seq(c._1, c._2)).toSet
      val idSubset = idPairs.as[(Long, Long, Double)].collect()
        .filter(p => repIds.contains(p._1) && repIds.contains(p._2))
        .filter(p => p._1 != p._2).toSet
      assert(repSet.subsetOf(idSubset))
      // component labeling: class-collapsed == id-level
      val viaClass = Dedup.cosineComponents(twins, "vec_id", "embedding", t)
        .as[(Long, Long)].collect().toSet
      val viaId = Dedup.connectedComponents(idPairs)
        .as[(Long, Long)].collect().toSet
      assert(viaClass === viaId)
      assert(viaClass.nonEmpty)
      // apply: keepCanonical over the quadratic pair set == the
      // class-collapsed components path
      val docs = twins.select($"vec_id")
      val exactKeep = Dedup.keepCanonical(docs, idPairs, "vec_id")
        .as[Long].collect().toSet
      val classKeep = Dedup.keepCanonicalFromComponents(docs,
          Dedup.cosineComponents(twins, "vec_id", "embedding", t), "vec_id")
        .as[Long].collect().toSet
      assert(classKeep === exactKeep)
      // apply_best: quality-chosen canonical agrees too
      val scored = twins.select($"vec_id", ($"vec_id" * 37 % 101).as("q"))
      val exactBest = Dedup.keepCanonicalBy(scored, idPairs, "vec_id", "q")
        .select($"vec_id").as[Long].collect().toSet
      val classBest = Dedup.keepCanonicalByFromComponents(scored,
          Dedup.cosineComponents(twins, "vec_id", "embedding", t), "vec_id", "q")
        .select($"vec_id").as[Long].collect().toSet
      assert(classBest === exactBest)
    } finally idPairs.unpersist()
  }

  test("cosine class family: zero-vector twins never qualify; real twins do") {
    val df = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(0f, 0f)),   // zero class: excluded
      (3L, Seq(1f, 0f)), (4L, Seq(1f, 0f)),   // real twins
      (5L, Seq(0.9f, 0.1f))                   // near-dup of the twins
    ).toDF("vec_id", "embedding")
    val counts = Dedup.cosineClassPairCounts(df, "vec_id", "embedding", 0.45)
      .select($"id_a", $"id_b", $"cos_sim", $"n_pairs")
      .as[(Long, Long, Double, Long)].collect().toSet
    // same-class (3,4) at the DEFINED 1.0; cross class (3,5) with
    // multiplicity 2 (both twins pair with 5); zero class absent
    assert(counts.map(c => (c._1, c._2, c._4)) === Set((3L, 3L, 1L), (3L, 5L, 2L)))
    assert(counts.find(c => c._1 == 3L && c._2 == 3L).get._3 === 1.0)
    val comps = Dedup.cosineComponents(df, "vec_id", "embedding", 0.45)
      .as[(Long, Long)].collect().toSet
    assert(comps === Set((3L, 3L), (4L, 3L), (5L, 3L)))
    val kept = Dedup.keepCanonicalFromComponents(df.select($"vec_id"),
        Dedup.cosineComponents(df, "vec_id", "embedding", 0.45), "vec_id")
      .as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L))
  }

  test("simhash class-pair digest == id-level pairs under twin replication") {
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val twins = (0 until 2).map(i =>
        base.select(($"doc_id" + i * 1000000L).as("doc_id"), $"text"))
      .reduce(_ unionByName _)
    // id-level route: twins share the signature, so every member pair
    // of a qualifying class pair is co-chunked
    val nId = Dedup.simHashPairs(
      Dedup.simHashSignatures(twins, "doc_id", "text"), "doc_id", 3).count()
    val cls = twins.groupBy($"text")
      .agg(min($"doc_id").as("__rep"), count(lit(1)).as("__k")).persist()
    try {
      val reps = cls.select($"__rep".as("doc_id"), $"text")
      val repPairs = Dedup.simHashPairs(
          Dedup.simHashSignatures(reps, "doc_id", "text"), "doc_id", 3)
        .select($"id_a", $"id_b", $"hamming".cast("double").as("hamming"))
      val counts = Dedup.classPairCountsFromReps(
        cls.select($"__rep", $"__k"), repPairs, "hamming",
        sameClassValue = 0.0)
      assert(counts.agg(coalesce(sum($"n_pairs"), lit(0L)))
        .as[Long].head() === nId)
      // same-class rows carry the DEFINED Hamming 0
      assert(counts.filter($"id_a" === $"id_b" && $"hamming" =!= 0.0).isEmpty)
      assert(nId > 0)
    } finally cls.unpersist()
  }

  test("cosineClassPairs broadcast guard: cartesian fallback == broadcast route") {
    val (classes, _) = Dedup.cosineClasses(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding")
    try {
      val viaBroadcast = Dedup.cosineClassPairs(classes, 0.45)
        .as[(Long, Long, Double)].collect().toSet
      // maxBroadcastClasses=1 forces the non-broadcast CartesianProduct
      // path on every corpus — the guard must change the PLAN only
      val viaCartesian = Dedup.cosineClassPairs(classes, 0.45,
          maxBroadcastClasses = 1L)
        .as[(Long, Long, Double)].collect().toSet
      assert(viaCartesian === viaBroadcast)
      assert(viaBroadcast.nonEmpty)
    } finally classes.unpersist()
  }

  test("cosineDedupAuto: route choice pinned both sides of the crossover, " +
    "kept sets agree across routes on both fixture shapes") {
    assert(Dedup.chooseCosineRoute(100000L) === "exact")
    assert(Dedup.chooseCosineRoute(100001L) === "lsh")
    assert(Dedup.chooseCosineRoute(10L, crossoverClasses = 5L) === "lsh")
    def kept(df: org.apache.spark.sql.DataFrame, crossover: Long): Set[Long] =
      Dedup.cosineDedupAuto(df, "vec_id", "embedding", 0.98,
        crossoverClasses = crossover).as[Long].collect().toSet
    // distinct-heavy shape: jittered replicas — every row its own
    // class, each base group mutual near-dups at cos ≈ 1−ε
    val base = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
      .orderBy($"vec_id").limit(100)
    val jit = (0 until 3).map { r =>
      val emb =
        if (r == 0) $"embedding"
        else transform($"embedding", (x, i) =>
          when(i === pmod($"vec_id" * 7919L + r, lit(64L)).cast("int"),
            (x + lit(r * 1e-5)).cast("float")).otherwise(x))
      base.select(($"vec_id" + r * 1000000L).as("vec_id"), emb.as("embedding"))
    }.reduce(_ unionByName _)
    // crossover = MaxValue forces the exact route, 1 forces LSH — the
    // kept sets must agree, and each jitter group keeps ONE canonical
    val exactKept = kept(jit, Long.MaxValue)
    assert(exactKept === kept(jit, 1L))
    assert(exactKept.size === 100)
    // twin shape: identical copies collapse via same-class semantics
    // on either route
    val twins = twinEmbeddings(2)
    val twinKept = kept(twins, Long.MaxValue)
    assert(twinKept === kept(twins, 1L))
    assert(twinKept.nonEmpty)
  }

  test("incremental class-pair counts == id-level incremental aggregated") {
    // twin-replicate documents 2x (shift a multiple of 10 keeps the
    // %10 newness of every twin aligned with its original)
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text", $"lang")
    val twins = (0 until 2).map(i =>
        base.select(($"doc_id" + i * 1000000L).as("doc_id"), $"text", $"lang"))
      .reduce(_ unionByName _)
    val newD = twins.where($"doc_id" % 10 === 0)
    val corp = twins.where($"doc_id" % 10 =!= 0)
    // the documented PRECONDITION of jaccardClassPairCountsIncremental:
    // increment and corpus are id-disjoint (overlap would silently
    // double-count memberships and pair multiplicities)
    assert(newD.join(corp, Seq("doc_id"), "inner").isEmpty)
    val idPairs = Dedup.jaccardPairsPrefixIncremental(newD, corp,
        "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    // independent class derivation (word set -> rep), as in the full
    // jaccardClassPairCounts spec
    val byId = twins.select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect()
    def wset(t: String) = t.split(" ").filter(_.nonEmpty).toSet
    val repOf: Map[Long, Long] = byId.groupBy(r => wset(r._3))
      .values.flatMap { ms => val rep = ms.map(_._1).min; ms.map(r => r._1 -> rep) }
      .toMap
    val expected = idPairs.groupBy { case (a, b, _) =>
      val (ra, rb) = (repOf(a), repOf(b)); if (ra < rb) (ra, rb) else (rb, ra)
    }.map { case (k, vs) => (k._1, k._2, vs.head._3, vs.length.toLong) }.toSet
    val viaCounts = Dedup.jaccardClassPairCountsIncremental(newD, corp,
        "doc_id", "text", "lang", 0.8)
      .select($"id_a", $"id_b", $"jaccard", $"n_pairs")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaCounts === expected)
    assert(viaCounts.toSeq.map(_._4).sum === idPairs.length.toLong)
    assert(viaCounts.nonEmpty)
  }

  test("minhash class-pair digest == id-level LSH pairs under twin replication (uncapped)") {
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val twins = (0 until 2).map(i =>
        base.select(($"doc_id" + i * 1000000L).as("doc_id"), $"text"))
      .reduce(_ unionByName _)
    // id-level route: twins share every band signature, so every
    // member pair of a qualifying class pair is co-bucketed (and no
    // fixture bucket approaches the cap)
    val idPairs = Dedup.minHashVerifyPairs(
      Dedup.minHashBandRows(twins, "doc_id", "text", 128, 32, 3),
      twins, "doc_id", "text", shingle = 3, threshold = 0.7)
    val nId = idPairs.count()
    // class route — the GATE shape: distinct-reps fast path through
    // the signatures + the shared class-pair multiplicity builder
    val cls = twins.groupBy($"text")
      .agg(min($"doc_id").as("__rep"), count(lit(1)).as("__k"))
      .persist()
    try {
      val reps = cls.select($"__rep".as("doc_id"), $"text")
      val repPairs = Dedup.minHashVerifyPairs(
        Dedup.minHashBandRows(reps, "doc_id", "text", 128, 32, 3),
        reps, "doc_id", "text", shingle = 3, threshold = 0.7,
        textsAreDistinct = true)
      // the fast path must equal the classed path on distinct texts
      val viaClassed = Dedup.minHashVerifyPairs(
          Dedup.minHashBandRows(reps, "doc_id", "text", 128, 32, 3),
          reps, "doc_id", "text", shingle = 3, threshold = 0.7)
        .as[(Long, Long, Double)].collect().toSet
      assert(repPairs.as[(Long, Long, Double)].collect().toSet === viaClassed)
      val total = Dedup.classPairCountsFromReps(
          cls.select($"__rep", $"__k"), repPairs, "jaccard",
          sameClassQualifies = 1.0 >= 0.7)
        .agg(coalesce(sum($"n_pairs"), lit(0L))).as[Long].head()
      assert(total === nId,
        s"class multiplicities ($total) must cover the id-level pair " +
          s"count ($nId)")
      assert(nId > 0)
    } finally cls.unpersist()
  }

  test("cosine LSH class-pair digest == id-level LSH pairs under twin replication (uncapped)") {
    val twins = twinEmbeddings(2)
    val bits = Dedup.lshBitsFor(twins.count())
    val idPairs = Dedup.cosinePairsFromBuckets(
      Dedup.signLshBandBuckets(twins, "vec_id", "embedding", bands = 8, bits),
      twins, "vec_id", "embedding", threshold = 0.45)
    val nId = idPairs.count()
    val (classes, _) = Dedup.cosineClasses(twins, "vec_id", "embedding")
    try {
      val reps = classes.select($"__rep".as("vec_id"), $"__emb".as("embedding"))
      val repPairs = Dedup.cosinePairsFromBuckets(
          Dedup.signLshBandBuckets(reps, "vec_id", "embedding", bands = 8, bits),
          reps, "vec_id", "embedding", threshold = 0.45)
        .select($"id_a".as("__ra"), $"id_b".as("__rb"), $"cos_sim")
      val total = Dedup.cosineClassPairCountsFrom(classes, repPairs, 0.45)
        .agg(coalesce(sum($"n_pairs"), lit(0L))).as[Long].head()
      assert(total === nId)
      assert(nId > 0)
    } finally classes.unpersist()
  }

  test("LSH-routed apply composition: deletion-safe, victim recall >= 0.9 on clustered data") {
    val rnd = new scala.util.Random(11)
    def normed(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(10)(normed(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val rows = for { c <- centers.indices; m <- 0 until 10 } yield {
      val v = normed(centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat))
      (c.toLong * 100 + m, v.toSeq)
    }
    // plant exact twins of the first member of each cluster
    val twins = centers.indices.map { c =>
      (c.toLong * 100 + 50, rows(c * 10)._2)
    }
    val df = (rows ++ twins).toDF("vec_id", "embedding")
    val t = 0.9
    val exactKeep = Dedup.keepCanonical(df.select($"vec_id"),
        Dedup.cosineNearDup(df, "vec_id", "embedding", t), "vec_id")
      .as[Long].collect().toSet
    val (classes, members) = Dedup.cosineClasses(df, "vec_id", "embedding")
    val reps = classes.select($"__rep".as("vec_id"), $"__emb".as("embedding"))
    val repPairs = Dedup.cosinePairsFromBuckets(
        Dedup.signLshBandBuckets(reps, "vec_id", "embedding",
          bands = Dedup.signLshBands(t, 8), bits = 8),
        reps, "vec_id", "embedding", t)
      .select($"id_a".as("__ra"), $"id_b".as("__rb"), $"cos_sim")
    val comps = Dedup.cosineExpandComponents(classes, members, repPairs, t)
    val lshKeep = Dedup.keepCanonicalFromComponents(df.select($"vec_id"),
        comps, "vec_id").as[Long].collect().toSet
    classes.unpersist()
    // missed LSH edges only SPLIT components: every exact survivor
    // remains a survivor (the composition never deletes a doc the
    // exact path keeps)
    assert(exactKeep.subsetOf(lshKeep))
    val all = df.select($"vec_id").as[Long].collect().toSet
    val exactVictims = all -- exactKeep
    val lshVictims = all -- lshKeep
    assert(exactVictims.nonEmpty)
    val recall = (lshVictims & exactVictims).size.toDouble / exactVictims.size
    assert(recall >= 0.9, s"victim recall $recall over ${exactVictims.size}")
  }

  test("releasePending releases run and never-run frames at once") {
    // the registry is process-wide: start from an empty one
    Dedup.releasePending()
    val ran = spark.range(100).toDF("id").persist()
    Dedup.releaseAfterUse(ran)
    assert(ran.count() === 100)
    assert(ran.count() === 100) // a second action does not release it
    val neverRun = spark.range(50).toDF("id").persist()
    Dedup.releaseAfterUse(neverRun)
    assert(ran.storageLevel.useMemory && neverRun.storageLevel.useMemory)
    assert(Dedup.releasePending() === 2)
    assert(ran.storageLevel === StorageLevel.NONE)
    assert(neverRun.storageLevel === StorageLevel.NONE)
    assert(Dedup.releasePending() === 0)
  }

  test("releasePending releases a frame whose action threw") {
    val df = spark.range(10).toDF("id").persist()
    Dedup.releaseAfterUse(df)
    intercept[Exception](df.select(assert_true($"id" < 5)).collect())
    assert(df.storageLevel.useMemory)
    Dedup.releasePending()
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("connectedComponents checkpoints are released at the boundary") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a 64-node path is far from a star forest: several rounds, each
    // ending in a local checkpoint
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(path)
    assert(labels.select($"component").distinct().as[Long].collect().toSeq === Seq(1L))
    val held = sc.getPersistentRDDs.keySet -- before
    assert(held.size >= 2, s"expected one checkpoint RDD per round, got $held")
    assert(Dedup.releasePending() >= held.size)
    // no System.gc(): the boundary alone brings the count back
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"checkpoint RDDs left after the boundary: $left")
    // a frame kept past its query fails loudly, never reads stale rows
    val e = intercept[Exception](labels.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("Checkpoint block")), e.toString)
  }
}
