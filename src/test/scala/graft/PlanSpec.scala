package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashingEmbedder
import graft.operators.{ChunkStore, Dedup, TextChunker, VectorSearch}

/** Physical-plan audit (SURVEY §4): the optimizations the engine claims
  * must be visible in `explain` — pushdown, pruning, TakeOrdered top-k,
  * broadcasts, and shuffle counts. These assertions are what keeps the
  * 100 TB story honest: a plan regression (extra shuffle, lost pushdown)
  * fails the suite, not just the benchmark.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def shuffles(df: DataFrame): Int =
    "ShuffleExchange|Exchange hashpartitioning|Exchange rangepartitioning".r
      .findAllIn(plan(df)).length

  private def qv: Seq[Float] =
    Tables.embeddings(spark, sfDir).filter($"vec_id" === 0)
      .select("embedding").head().getSeq[Float](0)

  test("KNN top-k plans as TakeOrderedAndProject with zero shuffles") {
    val p = plan(VectorSearch.topKWithScore(Tables.embeddings(spark, sfDir), qv, 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), "KNN must be shuffle-free:\n" + p)
  }

  test("metadata pre-filter (A7) is pushed into the parquet scan") {
    val p = plan(VectorSearch.topKWithScore(Tables.embeddings(spark, sfDir), qv, 5,
      VectorSearch.Euclidean, filter = Some($"label" === 3)))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,3)"),
      "label filter must reach the scan:\n" + p)
  }

  test("catalog projection prunes unread columns from the scan") {
    val df = Tables.documents(spark, sfDir).select($"doc_id", $"lang")
    val p = plan(df)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      "scan must not read the wide text column:\n" + readSchema)
  }

  test("batchMmr: broadcast query side + partial WindowGroupLimit before the candidate exchange") {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val df = graft.operators.Rerank.batchMmr(emb, qs, k = 4, fetchK = 16,
      candFilter = Some($"vec_id" =!= $"query_id"))
    val p = plan(df)
    // the corpus never shuffles for the join, and each map task keeps
    // only its local top-fetchK per query before the window exchange —
    // the property that makes the greedy stage's input q*fetchK rows
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
  }

  test("batch top-k broadcasts the query side (corpus never shuffles for the join)") {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val df = VectorSearch.batchTopK(emb, qs, 5)
    val p = plan(df)
    assert(p.contains("BroadcastExchange"), p)
    // map-side top-k BEFORE the shuffle: Spark plans the row_number<=k
    // filter as a partial WindowGroupLimit, so the window shuffle carries
    // only partitions*q*k rows, not |corpus|*|q|
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    // two shuffles total: the window hash partitioning + the final
    // presentation sort of the tiny q*k result
    assert(shuffles(df) === 2, "expected window + result-sort shuffles only:\n" + p)
  }

  test("blocked jaccard uses a broadcast hash join, not a 5-key shuffle join") {
    val p = plan(Dedup.jaccardPairs(Tables.documents(spark, sfDir),
      "doc_id", "text", "lang", 0.8))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "5-key SMJ caps parallelism at 5:\n" + p)
  }

  test("dup guard (B9) anti-join broadcasts the probe set") {
    val docs = Tables.documents(spark, sfDir)
    val p = plan(ChunkStore.dropExistingGlobal(
      docs.select($"doc_id", $"source"), docs.filter($"doc_id" % 3 === 0),
      "doc_id", "doc_id"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("ingest chain (chunk->embed->dual-write) is a shuffle-free narrow pipeline") {
    val docs = Tables.documents(spark, sfDir)
    val out = ChunkStore.dualWrite(
      HashingEmbedder.withEmbedding(
        TextChunker.chunkDocuments(docs), "content"), "strategy_documents")
    assert(shuffles(out) === 0, "ingest must not shuffle:\n" + plan(out))
  }

  test("custom expressions stay inside whole-stage codegen") {
    val df = Tables.embeddings(spark, sfDir)
      .select(graft.functions.VectorFunctions.cosSimF32($"embedding",
        typedLit(qv)).as("c"))
    // whole-stage codegen renders as a "*(n)" stage prefix in toString
    val p = plan(df)
    assert(p.contains("*(1)"), "expected a codegen stage:\n" + p)
  }

  test("SQL registration: kernels callable from spark.sql") {
    Graft.init(spark)
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("emb_sql")
    val r = spark.sql(
      """SELECT vec_id, cos_sim_f32(embedding, embedding) AS c,
        |       sorted_intersect_size(array('a','b'), array('b','c')) AS i
        |FROM emb_sql ORDER BY vec_id LIMIT 1""".stripMargin).head()
    assert(math.abs(r.getFloat(1) - 1.0f) < 1e-6)
    assert(r.getInt(2) === 1)
  }

  test("the suite session runs the GraftSession profile") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") === "false")
    assert(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") === "256m")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum") === "1")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(GraftSession.builder(4).getOrCreate() eq spark)
  }

  test("the AQE partition floor key still sets the coalesced partition count") {
    // GraftSession's cpus/4 floor rides a key Spark marks deprecated:
    // if a later Spark ignores it, the floor vanishes without a word
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    val s = spark.newSession()
    // a groupBy whose shuffle outgrows the 1 MB minimum coalesced
    // partition size several times, so only the floor keeps partitions
    // apart; the final RDD's partitions are the coalesced ones read
    def partitionsRead(): Int = s.range(0L, 1000000L, 1L, 4)
      .groupBy((col("id") * 7919L % 1000000L).as("k")).count()
      .queryExecution.toRdd.getNumPartitions
    s.conf.set(key, "3")
    assert(partitionsRead() >= 3)
    s.conf.unset(key)
    assert(partitionsRead() === 1)
  }

  test("temperatureMix: counts broadcast, no shuffle join, one window exchange") {
    import graft.operators.Refresh
    val plan = Refresh.temperatureMix(Tables.documents(spark, sfDir),
      "lang", "doc_id", 200, alpha = 0.5).queryExecution.executedPlan.toString
    // both the per-domain counts and the weight sum attach via broadcast
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("repetition filters stay inside whole-stage codegen") {
    import graft.operators.TextAnalysis
    val plan = Tables.documents(spark, sfDir)
      .select($"doc_id", TextAnalysis.topBigramFraction($"text"),
        TextAnalysis.dupBigramFraction($"text"))
      .queryExecution.executedPlan.toString
    // codegen'd span shows as *(n); no exchange anywhere in the plan
    assert(plan.contains("*("), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("incremental prefix join: no cartesian product, no corpus broadcast") {
    val docs = Tables.documents(spark, sfDir)
    val p = plan(Dedup.jaccardPairsPrefixIncremental(
      docs.where($"doc_id" % 10 === 0), docs.where($"doc_id" % 10 =!= 0),
      "doc_id", "text", "lang", 0.8))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("shard stats aggregate map-side (partial HashAggregate before the exchange)") {
    val p = plan(graft.operators.Sharding.shardStats(
      Tables.documents(spark, sfDir), "doc_id", "text", 16))
    // partial_count/partial_sum markers show the map-side combine ran
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("sequence packing shuffles exactly once (on the shard id)") {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("n_tok", graft.operators.TextAnalysis.tokenCount($"text").cast("long"))
    val df = graft.operators.Packing.packDocs(docs, "doc_id", "n_tok", 8, 512)
    assert(shuffles(df) === 1, plan(df))
  }

  test("corpus diff ships fingerprints only — no text column past the scan") {
    val docs = Tables.documents(spark, sfDir)
    val exec = graft.operators.Maintenance.corpusDiff(
      docs, docs.where($"doc_id" % 2 === 0), "doc_id", "text")
      .queryExecution.executedPlan
    // inspect each Exchange node's OUTPUT attributes (its simpleString
    // only prints partitioning expressions, which would make a
    // substring check vacuous): the raw text column must be projected
    // away before any shuffle — only (id, md5, marker) may cross.
    val unwrapped = exec match {
      // AQE wraps the tree and hides its child from collect()
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // current physical tree (post-EnsureRequirements)
      case p => p
    }
    val exchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"expected a shuffle in:\n$exec")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text crosses a shuffle: ${e.output.map(_.name).mkString(",")}")
    }
  }

  test("class-pair jaccard: id-level pair rows never cross an exchange") {
    // THE scale property of the class-collapsed engine (SCALEBENCH.md):
    // the inherently-quadratic member-level pair set is produced by the
    // final expansion joins and streamed to the consumer — if a future
    // refactor shuffles (or broadcasts) rows that already carry BOTH
    // member ids, the 100× twin case regresses to disk exhaustion.
    // Class-level pairs (rep ids) may shuffle freely; member pair rows
    // are identified by the engine's __xid/__yid expansion columns.
    val docs = Tables.documents(spark, sfDir)
    val exec = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", "lang", 0.8)
      .queryExecution.executedPlan
    val unwrapped = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty, s"expected shuffles in:\n$exec")
    exchanges.foreach { e =>
      val names = e.output.map(_.name).toSet
      assert(!(names.contains("__xid") && names.contains("__yid")),
        s"member-level pair crossed an exchange: ${names.mkString(",")}\n$exec")
    }
  }

  test("prfTopK pass 2 reads the one persisted tokenize, never re-splits the corpus") {
    // the PRF loop used to regex-split the corpus four times (pass-1
    // index + stats, pass-2 index + stats); all phases now share one
    // cached (id, __terms) frame — a re-split in the returned plan
    // means the fold regressed
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 397)
    val exec = graft.operators.Bm25.prfTopK(docs, "doc_id", "text",
        Seq("spark", "table"), k = 5, fbDocs = 3, fbTerms = 2)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val cacheScans = exec.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i
    }
    // tree traversal stops at the cache boundary: the InMemoryRelation's
    // cached BUILD plan (which rightly contains the one split) is not
    // part of the executed tree, so any StringSplit found here is a
    // fresh corpus re-split
    assert(cacheScans.nonEmpty,
      s"pass 2 must read the persisted tokenize:\n$exec")
    val resplits = exec.collect { case p => p }.flatMap(_.expressions)
      .flatMap(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.StringSplit => s
      })
    assert(resplits.isEmpty, s"pass 2 must not re-split the corpus:\n$exec")
  }

  test("model scoring plans: model rides a broadcast join, corpus never shuffles for it") {
    import graft.operators.CorpusModels
    val docs = Tables.documents(spark, sfDir)
    val (vocab, stats) = CorpusModels.unigramLm(docs, "text", 24)
    val ppl = CorpusModels.perplexity(docs, "doc_id", "text", vocab, stats)
    val pPpl = plan(ppl)
    assert(pPpl.contains("BroadcastExchange"), pPpl)
    // the model join itself must never sort-merge the corpus: walk the
    // plan TREE and reject any SortMergeJoin whose inputs carry the
    // model column (a flat string check can be fooled by an unrelated
    // SMJ printing first)
    val modelSmj = ppl.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if (j.left.output ++ j.right.output).exists(_.name == "logp_fp") => j
    }
    assert(modelSmj.isEmpty, "model join must not sort-merge:\n" + pPpl)
    val lbl = docs.select($"doc_id", ($"doc_id" % 3 === 0).as("t"))
    val labeled = docs.join(lbl, Seq("doc_id"))
    val w = CorpusModels.dsirPipeline(labeled, "doc_id", "text", "t", 256)
    val pW = plan(w)
    assert(pW.contains("BroadcastExchange"), pW)
    // multiclass tagger: the K·cap model and the K-row class table ride
    // broadcasts; the token stream must never sort-merge the model
    val (gv, gs) = CorpusModels.groupedUnigramLm(docs, "lang", "text", 24)
    val pr = CorpusModels.multiclassNbPriors(docs, "lang")
    val mc = CorpusModels.multiclassNbPredict(docs, "doc_id", "text", gv, gs, pr)
    val pMc = plan(mc)
    assert(pMc.contains("BroadcastExchange"), pMc)
    val mcSmj = mc.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if (j.left.output ++ j.right.output).exists(_.name == "logp_fp") => j
    }
    assert(mcSmj.isEmpty, "multiclass model join must not sort-merge:\n" + pMc)
  }

  test("batchMmr candidate fetch pre-limits map-side (partial WindowGroupLimit before the exchange)") {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val df = graft.operators.Rerank.batchMmr(emb, qs, k = 4, fetchK = 12,
      candFilter = Some($"vec_id" =!= $"query_id"))
    // Catalyst plans the row_number<=fetchK filter as WindowGroupLimit
    // in Partial mode — and Partial is, by construction of the rule,
    // the copy BELOW the window's hash exchange (the map side), so the
    // shuffle carries <= partitions*Q*fetchK rows, never |corpus|*Q —
    // the heap pre-aggregation, for free from the declarative plan.
    val p = plan(df)
    assert("WindowGroupLimit .*row_number\\(\\), 12, Partial".r.findFirstIn(p).isDefined,
      "candidate fetch must keep a map-side (Partial) WindowGroupLimit at fetchK:\n" + p)
    assert("WindowGroupLimit .*row_number\\(\\), 12, Final".r.findFirstIn(p).isDefined,
      "and the reduce-side Final copy:\n" + p)
  }

  test("thresholdCalibration ranks over the heap-reduced set, not the Q x corpus sim stream") {
    val emb = Tables.embeddings(spark, sfDir)
    val qs = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_embedding"))
    val df = VectorSearch.thresholdCalibration(emb, qs, k = 10)
    val p = plan(df)
    // the SQL plan's window consumes the per-partition heap output (an
    // ExistingRDD scan of <= partitions*Q*max(k,m) rows); the corpus
    // crossjoin lives inside the RDD lineage, upstream of the shuffle
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the corpus-sized crossjoin must not sit above the rank shuffle:\n" + p)
    // shuffles: the window's hash exchange + the final orderBy range
    // exchange only (the per-query m-table joins as a broadcast)
    assert(shuffles(df) <= 2, "expected window + result-sort shuffles only:\n" + p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("minhash gate verify: distinct-reps fast path leaves no re-classing in the plan") {
    // the r12 deferred finding: the gate fed already-distinct rep
    // texts into minHashVerifyPairs' internal text-classing — an
    // identity transform costing ~4 exchanges (class groupBy, id→rep
    // join pair, rep-pair distinct). The fast path must keep the
    // classing's private columns (__ctext / __tid / __pra) out of the
    // physical plan entirely; the gate's ONE legitimate text groupBy
    // (its own class collapse) uses different names.
    sys.props("graft.bench.mode") = "true" // skip the handoff write
    try {
      val p = graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
        .queryExecution.executedPlan.toString
      Seq("__ctext", "__tid", "__pra").foreach { c =>
        assert(!p.contains(c),
          s"internal classing column $c found in the fast-path plan:\n$p")
      }
    } finally sys.props.remove("graft.bench.mode")
  }

  test("BM25 append tokenizes the delta once: every delta tokenize reads the shared cache") {
    // the r14 deferred debt: appendToPersistedIndex used to re-run the
    // corpus-text regex split a second time for the stats delta. The
    // pin: during an append, EVERY executed plan that tokenizes the
    // delta's text column must read it through the shared cached
    // (id, __terms) frame — i.e. the split only ever appears under an
    // InMemoryTableScan. A reintroduced direct tokenize (plan with the
    // split over the delta column but no cache scan) fails here.
    // The delta text column gets a UNIQUE name so stragglers from
    // other tests' (legitimately uncached) tokenizes never match.
    withTempDir("plan-append-once") { dir =>
      val base = Seq((1L, "alpha beta gamma"), (2L, "beta delta"))
        .toDF("doc_id", "text")
      graft.operators.Bm25.buildPersistedIndex(base, "doc_id", "text",
        nRanges = 2, dir.getAbsolutePath)
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               d: Long): Unit =
          plans.add(scala.util.Try(qe.executedPlan.toString).getOrElse(""))
        override def onFailure(f: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               e: Exception): Unit = ()
      }
      // the delta must come from a FILE source: a literal Seq is a
      // foldable LocalRelation whose tokenize Catalyst evaluates at
      // plan time (ConvertToLocalRelation), leaving no split in any
      // executed plan to pin
      val deltaDir = new java.io.File(dir, "delta-src")
      Seq((10L, "epsilon beta zeta"), (11L, "eta theta"))
        .toDF("doc_id", "txt_appendpin")
        .write.parquet(deltaDir.getAbsolutePath)
      spark.listenerManager.register(l)
      try {
        val delta = spark.read.parquet(deltaDir.getAbsolutePath)
        graft.operators.Bm25.appendToPersistedIndex(delta, "doc_id",
          "txt_appendpin", dir.getAbsolutePath)
        // the execution-listener bus is async: run a sentinel query and
        // poll until it lands — FIFO delivery means every append event
        // arrived before it
        spark.range(1).select(lit("sentinel_appendpin_done").as("s")).collect()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        import scala.jdk.CollectionConverters._
        while (!plans.asScala.exists(_.contains("sentinel_appendpin_done")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
        val tokenizing = plans.asScala
          .filter(p => p.contains("appendpin") && p.contains("split(lower("))
          .toSeq
        assert(tokenizing.nonEmpty,
          "expected at least one captured plan tokenizing the delta")
        val offenders = tokenizing.filterNot(_.contains("InMemoryTableScan"))
        assert(offenders.isEmpty,
          "delta tokenize executed outside the shared cache:\n" +
            offenders.mkString("\n---\n"))
      } finally spark.listenerManager.unregister(l)
    }
  }

  test("retriever factory (E1) returns a curried query function") {
    val docs = Tables.documents(spark, sfDir).orderBy("doc_id").limit(50)
    val store = ChunkStore.dualWrite(
      HashingEmbedder.withEmbedding(
        TextChunker.chunkDocuments(docs), "content"), "strategy_documents")
      .withColumn("chunk_id", concat($"doc_id", lit("_"), $"chunk_index"))
    val retrieve = ChunkStore.retriever(store, "master", 3,
      q => HashingEmbedder.embed(q, 64).toSeq)
    val probe = store.filter($"collection" === "master").select($"content").head().getString(0)
    assert(retrieve(probe).count() === 3)
    // wire-level form: the same retriever built from a Chroma where-dict
    val retrieveEn = ChunkStore.retrieverWithWhere(store, "master", 3,
      q => HashingEmbedder.embed(q, 64).toSeq,
      """{"lang": {"$eq": "en"}}""")
    val hits = retrieveEn(probe)
    assert(hits.count() <= 3)
    assert(hits.select($"lang").distinct().as[String].collect().toSeq === Seq("en"))
  }
}
