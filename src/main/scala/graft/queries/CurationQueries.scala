package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Decontam, LineDedup, Pii, Urls}

/** Training-data curation queries: PII scrubbing, URL/domain
  * provenance, benchmark decontamination, C4-style line dedup.
  *
  * The fixture documents are flat word streams with no natural PII or
  * URLs, so the PII/URL gate queries deterministically SYNTHESIZE the
  * sensitive spans from (doc_id, source) with expressions evaluated
  * identically by Spark and the DuckDB oracle (the same derivation
  * trick `mm_resize_meta` uses for media metadata). The scrub /
  * extract operators under test are the real ones — only the input
  * text is synthetic.
  */
object CurationQueries {

  /** Hosts blocked in the URL queries (the doc_id%4 injected tracker
    * hosts below land in this set). */
  val BlockedHosts: Seq[String] =
    (0 until 5).map(i => s"ads.tracker$i.example")

  /** Deterministic PII injection: email on doc_id%2==0, phone on
    * doc_id%3==0, IPv4 on doc_id%5==0 (overlapping moduli exercise
    * multi-kind docs; doc_id%30==1 etc. yield PII-free docs). */
  private def withPii(text: Column): Column = concat(
    text,
    when(col("doc_id") % 2 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"), lit("@"),
        col("source"), lit(".example.com"))).otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
      concat(lit(" call +82-10-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-"),
        lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 3) % 256).cast("string"),
        lit("."), ((col("doc_id") * 5) % 256).cast("string")))
      .otherwise(lit(""))
  )

  private val piiTextSql =
    """text
      | || CASE WHEN doc_id % 2 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@'
      |              || source || '.example.com' ELSE '' END
      | || CASE WHEN doc_id % 3 = 0
      |         THEN ' call +82-10-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |              || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
      |         ELSE '' END
      | || CASE WHEN doc_id % 5 = 0
      |         THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
      |              || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
      |              || '.' || CAST((doc_id * 5) % 256 AS VARCHAR)
      |         ELSE '' END""".stripMargin.replace("\n", "")

  /** Deterministic URL injection: one content URL per doc, plus a
    * blocklisted tracker URL on doc_id%4==0. */
  private def withUrls(text: Column): Column = concat(
    text,
    lit(" see https://www."), col("source"),
    element_at(array(lit(".org"), lit(".com"), lit(".net")),
      (col("doc_id") % 3).cast("int") + 1),
    lit("/p/"), col("doc_id").cast("string"),
    when(col("doc_id") % 4 === 0,
      concat(lit(" img http://ads.tracker"),
        (col("doc_id") % 5).cast("string"),
        lit(".example/click?id="), col("doc_id").cast("string")))
      .otherwise(lit(""))
  )

  private val urlTextSql =
    """text || ' see https://www.' || source
      | || (['.org', '.com', '.net'])[(doc_id % 3) + 1]
      | || '/p/' || CAST(doc_id AS VARCHAR)
      | || CASE WHEN doc_id % 4 = 0
      |         THEN ' img http://ads.tracker' || CAST(doc_id % 5 AS VARCHAR)
      |              || '.example/click?id=' || CAST(doc_id AS VARCHAR)
      |         ELSE '' END""".stripMargin.replace("\n", "")

  private def sqlQuote(pat: String): String = pat.replace("'", "''")
  private val blockedSql = BlockedHosts.map(h => s"'$h'").mkString(", ")

  /** Build-once persisted `Decontam.overlapReport(corpus, benchmark,
    * n=4)` over the %29 split — ONE n-gram pass shared by
    * `decontam_overlap` (the whole report) and `curation_pipeline`
    * (its n_shared/contaminated columns): at 100× each gate re-paid
    * the same ~28–33 s pass (VERDICT r13 Next #4; the span-flags
    * shared-build recipe, `DedupQueries.spanFlagsPath`). Bench warms
    * it like every persisted artifact. The key carries the n-gram
    * width and the split rule; [[BuildOnce.cached]]'s code digest
    * covers the operator. */
  private[graft] def overlapReportPath(s: SparkSession, dir: String): String =
    BuildOnce.cached("decontam-overlap-n4-split29",
        new java.io.File(s"$dir/documents.parquet"))(
        p => s"$p/overlap.parquet/_SUCCESS") { p =>
      val docs = Tables.documents(s, dir)
      Decontam.overlapReport(docs.where(col("doc_id") % 29 =!= 0),
          docs.where(col("doc_id") % 29 === 0), n = 4)
        .write.mode("overwrite").parquet(s"$p/overlap.parquet")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PII detect + redact: counts per kind, full redacted text
    // dictionary term scan (the blocklist/bad-word primitive): ONE
    // Aho–Corasick pass per document instead of |dict| contains
    // passes or a |dict|-way regex alternation. Substring semantics —
    // DuckDB replays position(term IN text) per literal term, so the
    // automaton's failure-link machinery is checked against plain SQL
    // with zero shared code. Terms include a cross-word phrase and an
    // absent decoy.
    "term_scan" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      graft.operators.TermMatch.scanTerms(docs, TermScanDict)
        .select(col("doc_id"), col("n_terms"),
          concat_ws(" ", col("terms_found")).as("terms_digest"))
        .orderBy(col("doc_id"))
    },
    "t_pii_scrub" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), withPii(col("text")).as("text"))
      Pii.scrub(docs)
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ips"), col("has_pii"), col("redacted"))
        .orderBy(col("doc_id"))
    },
    // per-doc URL extraction + exact-host blocklist flag
    "url_extract" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), withUrls(col("text")).as("text"))
      Urls.extract(docs, BlockedHosts)
        .select(col("doc_id"), col("n_urls"),
          concat_ws(",", col("hosts")).as("hosts_joined"), col("blocked"))
        .orderBy(col("doc_id"))
    },
    // corpus-wide registered-domain frequency, blocklist removed
    "url_domain_stats" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), withUrls(col("text")).as("text"))
      Urls.domainStats(docs, BlockedHosts)
        .orderBy(col("n").desc, col("domain"))
    },
    // benchmark decontamination: distinct shared 4-grams per corpus doc
    // against the doc_id%29==0 "benchmark" slice (read through the
    // shared build-once report — see overlapReportPath)
    "decontam_overlap" -> { (s, dir) =>
      s.read.parquet(s"${overlapReportPath(s, dir)}/overlap.parquet")
        .orderBy(col("doc_id"))
    },
    // C4-style line dedup over 4-word chunks, keep-first, minCount=2
    "dedup_lines" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      LineDedup.dedup(docs, LineDedup.wordChunks(col("text"), 4),
          minCount = 2L, keepFirst = true)
        .orderBy(col("doc_id"))
    },
    // intra-document dedup over the same 4-word chunks: keep each
    // unit's FIRST occurrence within its own doc — the zero-shuffle
    // boilerplate cleaner that precedes corpus-level dedup_lines
    "dedup_lines_intra" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      LineDedup.dedupWithinDoc(docs, LineDedup.wordChunks(col("text"), 4))
        .orderBy(col("doc_id"))
    },
    // the COMPOSED curation decision a training pipeline actually ships:
    // PII scrub -> quality score -> benchmark decontamination -> one
    // keep/drop verdict per doc, with the redacted payload as the
    // surviving text. Every stage is individually oracle-gated above;
    // this query pins their composition.
    "curation_pipeline" -> { (s, dir) =>
      import graft.operators.TextAnalysis.{qualityScore, tokenCount}
      val docs = Tables.documents(s, dir)
      val corpus = docs.where(col("doc_id") % 29 =!= 0)
      val contam = s.read
        .parquet(s"${overlapReportPath(s, dir)}/overlap.parquet")
        .select(col("doc_id"), col("n_shared"), col("contaminated"))
      val t = col("text")
      Pii.scrub(corpus.select(col("doc_id"), col("source"),
            withPii(t).as("ptext"), t), "ptext")
        .select(col("doc_id"),
          qualityScore(t, Seq("the", "a")).as("quality_score"),
          tokenCount(t).cast("long").as("n_tokens"),
          col("has_pii"), col("redacted"))
        .join(contam, Seq("doc_id"))
        .withColumn("keep",
          col("quality_score") >= 0.5 && !col("contaminated") &&
            col("n_tokens").between(10, 100000))
        .select(col("doc_id"), col("quality_score"), col("n_tokens"),
          col("n_shared"), col("contaminated"), col("has_pii"),
          col("keep"), col("redacted"))
        .orderBy(col("doc_id"))
    },
    // deterministic content-addressed shard assignment (md5 top-64-bit
    // mod N — reproducible across engines/runs/cluster sizes)
    "shard_assign" -> { (s, dir) =>
      graft.operators.Sharding.assignShards(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", 16)
        .orderBy(col("doc_id"))
    },
    // per-shard balance report (the pre-export sanity pass)
    "shard_stats" -> { (s, dir) =>
      graft.operators.Sharding.shardStats(
          Tables.documents(s, dir), "doc_id", "text", 16)
        .orderBy(col("shard"))
    },
    // range-sorted export with zone-map manifest: runs the real
    // write+manifest machinery against a temp dir, then returns the
    // deterministic manifest roll-up (row coverage + global key range —
    // range BOUNDARIES come from Spark's sampling partitioner and are
    // layout, not semantics; disjoint/covering/sorted invariants are
    // ShardingSpec-gated)
    "export_sorted_manifest" -> { (s, dir) =>
      HybridQueries.withTempDir("sorted") { tmp =>
        val manifest = graft.operators.Sharding.exportSorted(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          "doc_id", nRanges = 8, tmp.getAbsolutePath)
        val r = manifest.agg(sum(col("n_rows")).cast("long").as("total_rows"),
          min(col("min_key")).as("min_key"), max(col("max_key")).as("max_key"))
          .head()
        import s.implicits._
        // empty-corpus: sum/min/max aggregate to null — emit (0, null,
        // null) instead of NPE so the query matches exportSorted's own
        // explicit empty-input handling
        val total = if (r.isNullAt(0)) 0L else r.getLong(0)
        def optLong(i: Int): Option[Long] =
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        Seq((total, optLong(1), optLong(2)))
          .toDF("total_rows", "min_key", "max_key")
      }
    },
    // doc-granularity next-fit sequence packing (shard-parallel,
    // deterministic; oracled against a DuckDB recursive-CTE replay of
    // the same state machine)
    "pack_sequences" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).withColumn("n_tok",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
      graft.operators.Packing.packDocs(docs, "doc_id", "n_tok",
          nShards = 8, budget = 512)
        .orderBy(col("doc_id"))
    },
    // trainer-facing pack rendering: the same packing joined back to
    // payloads and concatenated in pack_pos order with an EOS marker —
    // one row per training sequence
    "pack_render" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).withColumn("n_tok",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
      val packed = graft.operators.Packing.packDocs(docs, "doc_id", "n_tok",
        nShards = 8, budget = 512)
      graft.operators.Packing.renderPacks(docs, packed, "doc_id", "text",
          sep = "<|eos|>")
        .orderBy(col("shard"), col("pack_id"))
    },
    // the COMPOSED export decision: wordset dedup (keep-min) → quality
    // + length gate → content-addressed sharding → next-fit packing,
    // ONE declarative plan end-to-end — each stage is individually
    // oracle-gated above/in dedup+text suites; this pins the
    // composition against one recursive-CTE oracle.
    "export_pipeline" -> { (s, dir) =>
      import graft.operators.{Dedup, Packing, TextAnalysis}
      val docs = Tables.documents(s, dir)
      val deduped = Dedup.dropDuplicates(docs,
        Dedup.wordSetFingerprint(col("text")), "doc_id")
      val gated = deduped
        .withColumn("quality_score",
          TextAnalysis.qualityScore(col("text"), Seq("the", "a")))
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
        .where(col("quality_score") >= 0.5 && col("n_tok").between(10, 100000))
      Packing.packDocs(gated, "doc_id", "n_tok", nShards = 8, budget = 512)
        .orderBy(col("doc_id"))
    },
    // BPE-budgeted sequence packing — the tokenizer-induction and
    // export halves of the training-data story COMPOSED: the pack
    // budget counts LEARNED-merge BPE units (what a trainer's context
    // window actually holds), not whitespace tokens. Learned-BPE
    // encoding is not SQL-expressible, so the Spark side publishes its
    // per-doc unit counts as a parquet handoff that the oracle's
    // recursive-CTE replay reads back (read_parquet) and verifies
    // THROUGH — any wrong count desynchronizes the replayed state
    // machine downstream of that doc. The counts themselves are
    // BpeSpec-gated (merge parity vs a naive reference). Packing runs
    // off the same re-read file, so oracle and operator consume
    // byte-identical inputs.
    "pack_bpe" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Bpe.train(docs, "text", nMerges = 64)
      graft.operators.Packing.packDocs(
          Handoff.publish(docs.select(col("doc_id"),
            size(graft.operators.Bpe.encodeColumn(col("text"), merges))
              .cast("long").as("n_bpe")), PackBpeHandoff),
          "doc_id", "n_bpe", nShards = 8, budget = 1024)
        .orderBy(col("doc_id"))
    },
    // pack-level fill report (docs/pack, token fill vs budget)
    "pack_stats" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).withColumn("n_tok",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
      graft.operators.Packing.packStats(docs, "doc_id", "n_tok",
          nShards = 8, budget = 512)
        .orderBy(col("shard"), col("pack_id"))
    },
    // top-20%-longest selection via scalable exact global rank (range
    // exchange + offsets — no single-partition window anywhere)
    "rank_topfrac" -> { (s, dir) =>
      graft.operators.Ranking.topFraction(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id").asc), percent = 20)
        .orderBy(col("global_rank"))
    },
    // best-5-docs-per-language: group-wise top-k via a per-group window
    // (WindowGroupLimit keeps each task's local top-k before the shuffle)
    "rank_top_per_group" -> { (s, dir) =>
      graft.operators.Ranking.topKPerGroup(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
          Seq(col("lang")), Seq(col("n_chars").desc, col("doc_id").asc), k = 5)
        .orderBy(col("lang"), col("group_rank"))
    },
    // corpus-wide quality deciles WITHOUT the ntile global window —
    // ANSI piecewise bucket math over the range-exchange rank, pinned
    // to DuckDB's real ntile(10). The %29 filter makes the row count
    // NOT divisible by 10, so the remainder-to-leading-buckets sizing
    // is actually exercised (a divisible fixture is blind to it).
    "rank_ntile" -> { (s, dir) =>
      graft.operators.Ranking.ntileBuckets(
          Tables.documents(s, dir).filter(col("doc_id") % 29 =!= 0)
            .select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id").asc), n = 10,
          bucketCol = "decile")
        .orderBy(col("doc_id"))
    },
    // exactly-N-per-stratum sampling: md5 draw + group-wise top-k —
    // the fixed-COUNT complement to rel_stratified_det's fixed-RATE
    // survival test; same determinism contract (engine/partitioning/
    // run independent, salt-varied)
    "sample_n_per_group" -> { (s, dir) =>
      graft.operators.Ranking.topKPerGroup(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"),
            md5(concat(col("doc_id").cast("string"), lit("|s1"))
              .cast("binary")).as("draw")),
          Seq(col("lang")), Seq(col("draw").asc, col("doc_id").asc),
          k = 10, rankCol = "draw_rank")
        .orderBy(col("lang"), col("draw_rank"))
    },
    // Z-order (Morton) clustering key over (n_chars, doc_id): the
    // multi-dimensional layout key behind exportZOrder — pure integer
    // quantize + bit-interleave, bitwise-identical in any engine
    "zorder_assign" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          graft.operators.Sharding.zOrderKey(col("n_chars"), col("doc_id"),
            xLo = 0L, xHi = 16383L, yLo = 0L, yHi = 65535L, bits = 8).as("z_key"))
        .orderBy(col("doc_id"))
    },
    // reproducible training order: global shuffle as md5-keyed exact
    // rank — the same corpus enumerates in the same order on any
    // engine, any cluster size, any partitioning (RNG-free, like
    // rel_stratified_det's survival test)
    "train_order" -> { (s, dir) =>
      graft.operators.Ranking.globalRank(
          Tables.documents(s, dir).select(col("doc_id"),
            md5(col("doc_id").cast("string").cast("binary")).as("shuffle_key")),
          Seq(col("shuffle_key").asc, col("doc_id").asc), rankCol = "train_pos")
        .orderBy(col("train_pos"))
    },
    // dataset card: the per-language corpus summary a training run
    // publishes — one map-side-combined aggregation, exact integer
    // stats, avg as exact-int sum / count (bitwise cross-engine)
    "corpus_card" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), col("source"), col("n_chars"),
          size(array_remove(split(col("text"), " "), ""))
            .cast("long").as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_tok")).as("min_tokens"),
          max(col("n_tok")).as("max_tokens"),
          (sum(col("n_tok")).cast("double") /
            count(lit(1)).cast("double")).as("avg_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    }
  )

  private val emailSql = sqlQuote(graft.operators.Pii.EmailPattern)
  private val phoneSql = sqlQuote(graft.operators.Pii.PhonePattern)
  private val ipSql    = sqlQuote(graft.operators.Pii.Ipv4Pattern)
  private val urlSql   = sqlQuote(Urls.UrlPattern)
  private val hostSql  = sqlQuote(Urls.HostPattern)

  /** The pack_bpe Spark↔oracle handoff file: learned-BPE unit counts
    * per doc, written by the Spark query, read by the DuckDB oracle's
    * recursive-CTE replay (same absolute path in both engines). */
  private val PackBpeHandoff = Handoff.path("pack_bpe")

  /** DuckDB twin of [[graft.operators.Sharding.shardId]] on doc_id. */
  private def shardSqlN(n: Int): String =
    s"CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS UBIGINT) % $n AS BIGINT)"
  private val shardSql = shardSqlN(16)

  /** DuckDB recursive-CTE replay of [[graft.operators.Packing]]'s
    * next-fit state machine over any (doc_id, n) source CTE: one
    * recursion step per (shard, rank). */
  private def packCteOver(srcSql: String, budget: Long = 512L): String =
    s"""WITH RECURSIVE src AS ($srcSql), d AS (
       |  SELECT doc_id, n,
       |         ${shardSqlN(8)} AS shard,
       |         CAST(row_number() OVER (
       |           PARTITION BY ${shardSqlN(8)} ORDER BY doc_id) AS BIGINT) AS rn
       |  FROM src
       |), p AS (
       |  SELECT shard, rn, doc_id, n,
       |         CAST(1 AS BIGINT) AS pack_id, CAST(1 AS BIGINT) AS pack_pos, n AS cum
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.shard, d.rn, d.doc_id, d.n,
       |         CASE WHEN p.cum + d.n > $budget
       |              THEN p.pack_id + 1 ELSE p.pack_id END,
       |         CASE WHEN p.cum + d.n > $budget
       |              THEN CAST(1 AS BIGINT) ELSE p.pack_pos + 1 END,
       |         CASE WHEN p.cum + d.n > $budget
       |              THEN d.n ELSE p.cum + d.n END
       |  FROM p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
       |)""".stripMargin

  private val allDocsTokensSql =
    """SELECT doc_id,
      |       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
      |FROM documents""".stripMargin
  private val packCte = packCteOver(allDocsTokensSql)

  /** The export_pipeline source: wordset dedup keep-min → quality +
    * length gate, emitting (doc_id, n). Formulas are verbatim from the
    * dedup_wordset_groups and t_quality_score oracles. */
  private val exportSurvivorsSql =
    """SELECT doc_id, n FROM (
      |  SELECT doc_id,
      |         CAST(len(w) AS BIGINT) AS n,
      |         (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
      |          + (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w) >= 3.0
      |                   AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w) <= 12.0
      |                  THEN 1.0 ELSE 0.0 END)
      |          + (CASE WHEN CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS DOUBLE) / len(w) >= 0.01
      |                   AND CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS DOUBLE) / len(w) <= 0.5
      |                  THEN 1.0 ELSE 0.0 END)
      |         ) / 3.0 AS qs
      |  FROM (
      |    SELECT doc_id, text, w FROM (
      |      SELECT doc_id, text, w,
      |             min(doc_id) OVER (PARTITION BY
      |               md5(array_to_string(list_sort(list_distinct(w)), ' '))) AS keeper
      |      FROM (SELECT doc_id, text,
      |              list_filter(string_split(text, ' '), x -> x <> '') AS w
      |            FROM documents)
      |    ) WHERE doc_id = keeper
      |  )
      |) WHERE qs >= 0.5 AND n BETWEEN 10 AND 100000""".stripMargin

  /** The term_scan gate's literal dictionary: corpus-vocabulary words,
    * a shared-prefix pair, a cross-word phrase, and an absent decoy —
    * the same literals the oracle's VALUES list carries. */
  private val TermScanDict = Seq(
    "agg", "table", "scan", "row scan", "hash", "ha", "zzz_absent")

  val oracle: Map[String, String] = Map(
    // plain per-term substring replay over the same literal dictionary
    // — distinct-terms-present semantics make the check exact without
    // pinning overlap-counting behavior
    "term_scan" ->
      """WITH dict AS (
        |  SELECT * FROM (VALUES ('agg'), ('table'), ('scan'),
        |    ('row scan'), ('hash'), ('ha'), ('zzz_absent')) d(term)
        |), hits AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
        |         string_agg(term, ' ' ORDER BY term) AS ts
        |  FROM documents, dict
        |  WHERE position(term IN text) > 0
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id, COALESCE(h.n, 0) AS n_terms,
        |       COALESCE(h.ts, '') AS terms_digest
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "rank_topfrac" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS global_rank
        |  FROM documents
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
        |SELECT doc_id, n_chars, global_rank
        |FROM r CROSS JOIN n
        |WHERE global_rank <= greatest(1, (n * 20) // 100)
        |ORDER BY global_rank""".stripMargin,
    "rank_ntile" ->
      """SELECT doc_id, n_chars,
        |       CAST(ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
        |         AS decile
        |FROM documents WHERE doc_id % 29 <> 0
        |ORDER BY doc_id""".stripMargin,
    "sample_n_per_group" ->
      """SELECT doc_id, lang, draw, draw_rank FROM (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR) || '|s1') AS draw,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|s1'), doc_id)
        |           AS draw_rank
        |  FROM documents
        |) WHERE draw_rank <= 10
        |ORDER BY lang, draw_rank""".stripMargin,
    "zorder_assign" -> {
      // the same quantize + interleave the Spark side computes, generated
      // term by term (8 bits per dimension -> 16 shift/mask terms)
      val xq = "greatest(0, least(255, (CAST(n_chars AS BIGINT) * 256) // 16384))"
      val yq = "greatest(0, least(255, (CAST(doc_id AS BIGINT) * 256) // 65536))"
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((xq >> $i) & 1) << ${2 * i})", s"(((yq >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH q AS (
         |  SELECT doc_id, n_chars, $xq AS xq, $yq AS yq FROM documents
         |)
         |SELECT doc_id, n_chars,
         |       CAST(${terms.mkString(" | ")} AS BIGINT) AS z_key
         |FROM q ORDER BY doc_id""".stripMargin
    },
    "train_order" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |       row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |         AS train_pos
        |FROM documents ORDER BY train_pos""".stripMargin,
    "rank_top_per_group" ->
      """SELECT doc_id, lang, n_chars, group_rank FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY n_chars DESC, doc_id) AS group_rank
        |  FROM documents
        |) WHERE group_rank <= 5
        |ORDER BY lang, group_rank""".stripMargin,
    "corpus_card" ->
      """WITH t AS (
        |  SELECT lang, source, n_chars,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       min(n_tok) AS min_tokens, max(n_tok) AS max_tokens,
        |       CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
        |       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM t GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "export_sorted_manifest" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |       min(doc_id) AS min_key, max(doc_id) AS max_key
        |FROM documents""".stripMargin,
    "export_pipeline" ->
      s"""${packCteOver(exportSurvivorsSql)}
         |SELECT doc_id, shard, pack_id, pack_pos, n AS n_tokens
         |FROM p ORDER BY doc_id""".stripMargin,
    "shard_assign" ->
      s"""SELECT doc_id, $shardSql AS shard
         |FROM documents ORDER BY doc_id""".stripMargin,
    "shard_stats" ->
      s"""WITH a AS (
         |  SELECT $shardSql AS shard, text FROM documents
         |)
         |SELECT shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens,
         |       CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin,
    "pack_sequences" ->
      s"""$packCte
         |SELECT doc_id, shard, pack_id, pack_pos, n AS n_tokens
         |FROM p ORDER BY doc_id""".stripMargin,
    "pack_render" ->
      s"""$packCte
         |SELECT p.shard, p.pack_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(p.n) AS BIGINT) AS pack_tokens,
         |       string_agg(coalesce(d.text, ''), '<|eos|>' ORDER BY p.pack_pos) AS pack_text
         |FROM p JOIN documents d ON p.doc_id = d.doc_id
         |GROUP BY p.shard, p.pack_id
         |ORDER BY p.shard, p.pack_id""".stripMargin,
    "pack_bpe" ->
      s"""${packCteOver(
             s"SELECT doc_id, CAST(n_bpe AS BIGINT) AS n FROM read_parquet('$PackBpeHandoff/*.parquet')",
             budget = 1024L)}
         |SELECT doc_id, shard, pack_id, pack_pos, n AS n_tokens
         |FROM p ORDER BY doc_id""".stripMargin,
    "pack_stats" ->
      s"""$packCte
         |SELECT shard, pack_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n) AS BIGINT) AS pack_tokens,
         |       CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) /
         |         greatest(CAST(sum(n) AS BIGINT), 512) AS fill_ratio
         |FROM p GROUP BY shard, pack_id
         |ORDER BY shard, pack_id""".stripMargin,
    "t_pii_scrub" ->
      s"""WITH t AS (SELECT doc_id, $piiTextSql AS text FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$emailSql')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(text, '$phoneSql')) AS BIGINT) AS n_phones,
         |       CAST(len(regexp_extract_all(text, '$ipSql')) AS BIGINT) AS n_ips,
         |       (len(regexp_extract_all(text, '$emailSql'))
         |        + len(regexp_extract_all(text, '$phoneSql'))
         |        + len(regexp_extract_all(text, '$ipSql'))) > 0 AS has_pii,
         |       regexp_replace(
         |         regexp_replace(
         |           regexp_replace(text, '$emailSql', '<EMAIL>', 'g'),
         |           '$phoneSql', '<PHONE>', 'g'),
         |         '$ipSql', '<IP>', 'g') AS redacted
         |FROM t ORDER BY doc_id""".stripMargin,
    "url_extract" ->
      s"""WITH t AS (SELECT doc_id, $urlTextSql AS text FROM documents),
         |u AS (
         |  SELECT doc_id,
         |         list_transform(regexp_extract_all(text, '$urlSql'),
         |                        x -> regexp_extract(x, '$hostSql', 1)) AS hosts
         |  FROM t
         |)
         |SELECT doc_id,
         |       CAST(len(hosts) AS BIGINT) AS n_urls,
         |       array_to_string(hosts, ',') AS hosts_joined,
         |       len(list_filter(hosts, h -> h IN ($blockedSql))) > 0 AS blocked
         |FROM u ORDER BY doc_id""".stripMargin,
    "url_domain_stats" ->
      s"""WITH t AS (SELECT doc_id, $urlTextSql AS text FROM documents),
         |e AS (SELECT unnest(regexp_extract_all(text, '$urlSql')) AS url FROM t),
         |h AS (SELECT regexp_extract(url, '$hostSql', 1) AS host FROM e),
         |ok AS (SELECT host FROM h WHERE host NOT IN ($blockedSql)),
         |d AS (
         |  SELECT CASE WHEN len(string_split(host, '.')) >= 2
         |              THEN string_split(host, '.')[len(string_split(host, '.'))-1]
         |                   || '.' ||
         |                   string_split(host, '.')[len(string_split(host, '.'))]
         |              ELSE host END AS domain
         |  FROM ok
         |)
         |SELECT domain, count(*) AS n FROM d
         |GROUP BY domain ORDER BY n DESC, domain""".stripMargin,
    "decontam_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 4
        |              THEN list_distinct(list_transform(range(1, len(w) - 2),
        |                     i -> array_to_string(w[i:i+3], ' ')))
        |              ELSE CAST([] AS VARCHAR[]) END AS grams
        |  FROM t
        |), bg AS (
        |  SELECT unnest(grams) AS gram FROM g WHERE doc_id % 29 = 0
        |), bench AS (SELECT DISTINCT gram FROM bg),
        |cg AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 29 <> 0
        |), ov AS (
        |  SELECT cg.doc_id, count(*) AS n_shared
        |  FROM cg JOIN bench USING (gram) GROUP BY cg.doc_id
        |)
        |SELECT g.doc_id,
        |       CAST(len(grams) AS BIGINT) AS n_grams,
        |       CAST(coalesce(ov.n_shared, 0) AS BIGINT) AS n_shared,
        |       coalesce(ov.n_shared, 0) >= 1 AS contaminated
        |FROM g LEFT JOIN ov USING (doc_id)
        |WHERE g.doc_id % 29 <> 0
        |ORDER BY g.doc_id""".stripMargin,
    "dedup_lines" ->
      s"""WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents
        |), seg AS (
        |  SELECT doc_id, w,
        |         unnest(range(0, CAST(ceil(len(w) / 4.0) AS BIGINT))) AS idx
        |  FROM t WHERE len(w) > 0
        |), u AS (
        |  SELECT doc_id, idx,
        |         array_to_string(w[idx*4+1:idx*4+4], ' ') AS unit,
        |         doc_id * ${graft.operators.LineDedup.PosBase} + idx AS pos
        |  FROM seg
        |), f AS (
        |  SELECT unit, count(*) AS n, min(pos) AS keeper_pos
        |  FROM u GROUP BY unit
        |), k AS (
        |  SELECT u.doc_id, u.idx, u.unit,
        |         (f.n < 2 OR u.pos = f.keeper_pos) AS keep
        |  FROM u JOIN f USING (unit)
        |), d AS (
        |  SELECT doc_id,
        |         count(*) AS n_units,
        |         sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_dropped,
        |         string_agg(CASE WHEN keep THEN unit END, ' ' ORDER BY idx) AS kept_text
        |  FROM k GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |       CAST(coalesce(d.n_units, 0) AS BIGINT) AS n_units,
        |       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
        |       coalesce(d.kept_text, '') AS kept_text
        |FROM t LEFT JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_lines_intra" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents
        |), seg AS (
        |  SELECT doc_id, w,
        |         unnest(range(0, CAST(ceil(len(w) / 4.0) AS BIGINT))) AS idx
        |  FROM t WHERE len(w) > 0
        |), u AS (
        |  SELECT doc_id, idx, array_to_string(w[idx*4+1:idx*4+4], ' ') AS unit
        |  FROM seg
        |), f AS (
        |  SELECT doc_id, unit, count(*) AS c, min(idx) AS fidx
        |  FROM u GROUP BY doc_id, unit
        |), d AS (
        |  SELECT doc_id,
        |         CAST(sum(c) AS BIGINT) AS n_units,
        |         CAST(sum(c) - count(*) AS BIGINT) AS n_dropped,
        |         string_agg(unit, ' ' ORDER BY fidx) AS kept_text
        |  FROM f GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |       coalesce(d.n_units, 0) AS n_units,
        |       coalesce(d.n_dropped, 0) AS n_dropped,
        |       coalesce(d.kept_text, '') AS kept_text
        |FROM t LEFT JOIN d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "curation_pipeline" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents WHERE doc_id % 29 <> 0
         |), q AS (
         |  SELECT doc_id, len(w) AS n_tokens,
         |         (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
         |          + (CASE WHEN CAST(length(replace(array_to_string(w, ' '), ' ', '')) AS DOUBLE) / len(w)
         |                       BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
         |          + (CASE WHEN CAST(len(list_filter(w, x -> x IN ('the', 'a'))) AS DOUBLE) / len(w)
         |                       BETWEEN 0.01 AND 0.5 THEN 1.0 ELSE 0.0 END)
         |         ) / 3.0 AS quality_score
         |  FROM t
         |), ga AS (
         |  SELECT doc_id,
         |         CASE WHEN len(w) >= 4
         |              THEN list_distinct(list_transform(range(1, len(w) - 2),
         |                     i -> array_to_string(w[i:i+3], ' ')))
         |              ELSE CAST([] AS VARCHAR[]) END AS grams
         |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
         |        FROM documents)
         |), bg AS (SELECT unnest(grams) AS gram FROM ga WHERE doc_id % 29 = 0),
         |bench AS (SELECT DISTINCT gram FROM bg),
         |cg AS (SELECT doc_id, unnest(grams) AS gram FROM ga WHERE doc_id % 29 <> 0),
         |ov AS (
         |  SELECT cg.doc_id, count(*) AS n_shared
         |  FROM cg JOIN bench USING (gram) GROUP BY cg.doc_id
         |), p AS (
         |  SELECT doc_id, $piiTextSql AS ptext
         |  FROM documents WHERE doc_id % 29 <> 0
         |), r AS (
         |  SELECT doc_id,
         |         (len(regexp_extract_all(ptext, '$emailSql'))
         |          + len(regexp_extract_all(ptext, '$phoneSql'))
         |          + len(regexp_extract_all(ptext, '$ipSql'))) > 0 AS has_pii,
         |         regexp_replace(
         |           regexp_replace(
         |             regexp_replace(ptext, '$emailSql', '<EMAIL>', 'g'),
         |             '$phoneSql', '<PHONE>', 'g'),
         |           '$ipSql', '<IP>', 'g') AS redacted
         |  FROM p
         |)
         |SELECT q.doc_id, q.quality_score,
         |       CAST(q.n_tokens AS BIGINT) AS n_tokens,
         |       CAST(coalesce(ov.n_shared, 0) AS BIGINT) AS n_shared,
         |       coalesce(ov.n_shared, 0) >= 1 AS contaminated,
         |       r.has_pii,
         |       (q.quality_score >= 0.5 AND coalesce(ov.n_shared, 0) < 1
         |        AND q.n_tokens BETWEEN 10 AND 100000) AS keep,
         |       r.redacted
         |FROM q
         |LEFT JOIN ov ON q.doc_id = ov.doc_id
         |JOIN r ON q.doc_id = r.doc_id
         |ORDER BY q.doc_id""".stripMargin
  )
}
