package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Positional search: exact-phrase and term-proximity queries over the
  * corpus — the text-retrieval surface BM25 alone cannot express
  * (BM25 is bag-of-words; "table hash" as a PHRASE is not "table" AND
  * "hash"). The Lucene positional-postings design re-expressed
  * Spark-first:
  *
  *  - postings are (id, term, pos) rows; the query-term filter runs
  *    INSIDE the token array before the explode ([[Bm25.index]]'s
  *    generate rule — Catalyst does not push predicates into a
  *    Generate), so only matched tokens ever become rows and only
  *    query postings ever shuffle;
  *  - an n-term phrase is the classic positional n-way join: anchor on
  *    term 0, join term i at `pos0 + i`. Both sides of every join key
  *    on (id, position-expression), so Catalyst extracts a COMPOSITE
  *    equi-join key — a hash join on (id, pos), never an id-only join
  *    with a position post-filter — and per-doc blowup cannot occur
  *    even for a stop-word-heavy phrase;
  *  - proximity joins on id alone with the |pa−pb| ≤ w band as a join
  *    filter: per-doc cost is tf(a)·tf(b), the doc-at-a-time bound
  *    every positional engine pays.
  *
  * At 100 TB the on-the-fly form still scans the corpus to tokenize;
  * [[buildPersistedIndex]] is the scale path — the [[Bm25]]
  * term-range-sharded layout with positions, so a phrase query reads
  * ONLY the ranges its terms route to (manifest zone-map pruning, the
  * `searchPersistedIndex` contract) and never touches the text.
  *
  * Oracle exactness: outputs are pure integer counts/distances —
  * occurrence counts, pair counts, min token distance — so both
  * engines agree bit-for-bit with no fixed-point scaffolding; the
  * oracle replays FULL SEMANTICS from the raw text (list scans), no
  * handoff, so an index-path gate match also certifies the index. */
object Positional {

  /** Positional postings of `terms` only: (id, term, pos), pos 0-based
    * in the [[Bm25.terms]] token array. One narrow map + struct filter
    * before the explode. */
  def postingsOf(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    // null-id docs drop here so the single-term (no-join) paths agree
    // with the multi-term joins and the persisted layout, instead of
    // merging all null-id docs into one pseudo-row
    docs
      .where(col(idCol).isNotNull)
      .select(col(idCol).as("id"), Bm25.terms(col(textCol)).as("__terms"))
      .select(col("id"), explode(filter(
        transform(col("__terms"),
          (t, i) => struct(t.as("term"), i.as("pos"))),
        s => s("term").isin(terms: _*))).as("tp"))
      .select(col("id"), col("tp.term").as("term"),
        col("tp.pos").cast("long").as("pos"))
  }

  /** ALL positional postings — the index build's input (row per token;
    * only the build pays this, queries read pruned ranges). Null-id
    * docs are excluded: they cannot be addressed by id, and a null id
    * in the persisted layout would crash the driver probes'
    * required-field parquet reads (the Bm25.postingsOf rule). */
  private def allPostings(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    docs
      .where(col(idCol).isNotNull)
      .select(col(idCol).as("id"), Bm25.terms(col(textCol)).as("__terms"))
      .select(col("id"), posexplode(col("__terms")).as(Seq("pos", "term")))
      .select(col("id"), col("term"), col("pos").cast("long").as("pos"))

  /** Docs containing the exact consecutive `phrase`, with occurrence
    * counts (overlapping occurrences count — "a a a" contains "a a"
    * twice): the n-way positional join over positional postings.
    * `postings` must cover at least the phrase's terms
    * ([[postingsOf]] or a pruned index read). Output:
    * (id, n_occurrences). */
  def phraseOccurrences(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    // an n-term phrase reads the postings n times (one filter branch
    // per term): persist once — the tokenize scan / pruned index read
    // must not re-run per term
    val src =
      if (phrase.length <= 1) postings
      else {
        val c = postings.persist()
        Dedup.releaseAfterUse(c)
        c
      }
    // each join input gets UNIQUE column names: the sides derive from
    // one frame, and same-name predicates across shared lineage are
    // where Spark manufactures trivially-true equality
    var cur = src.filter(col("term") === phrase.head)
      .select(col("id"), col("pos").as("__p0"))
    var i = 1
    while (i < phrase.length) {
      val pi = src.filter(col("term") === phrase(i))
        .select(col("id").as(s"__id_$i"), col("pos").as(s"__p_$i"))
      cur = cur.join(pi,
          col("id") === col(s"__id_$i") &&
            col(s"__p_$i") === col("__p0") + lit(i.toLong))
        .drop(s"__id_$i", s"__p_$i")
      i += 1
    }
    cur.groupBy(col("id")).agg(count(lit(1)).as("n_occurrences"))
  }

  /** On-the-fly phrase search: term-filtered postings + the positional
    * join. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame =
    phraseOccurrences(postingsOf(docs, idCol, textCol, phrase.distinct), phrase)

  /** Docs where `termA` and `termB` occur within `window` tokens:
    * (id, n_pairs, min_dist) — pair count and closest distance, the
    * proximity-scoring ingredients. Same-term queries are refused
    * (every position would pair with itself at distance 0). */
  def proximityPairs(postings: DataFrame, termA: String, termB: String,
                     window: Long): DataFrame = {
    require(termA != termB, "proximity terms must differ")
    require(window >= 1, s"window must be >= 1, got $window")
    // two filter branches over one source: persist once
    val src = postings.persist()
    Dedup.releaseAfterUse(src)
    val pa = src.filter(col("term") === termA)
      .select(col("id"), col("pos").as("__pa"))
    val pb = src.filter(col("term") === termB)
      .select(col("id").as("__idb"), col("pos").as("__pb"))
    pa.join(pb, col("id") === col("__idb") &&
        abs(col("__pa") - col("__pb")) <= lit(window))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("__pa") - col("__pb"))).as("min_dist"))
  }

  /** On-the-fly proximity search. */
  def proximitySearch(docs: DataFrame, idCol: String, textCol: String,
                      termA: String, termB: String, window: Long): DataFrame =
    proximityPairs(postingsOf(docs, idCol, textCol, Seq(termA, termB)),
      termA, termB, window)

  /** Persist the positional index: term-range-sharded postings
    * (id, term, pos) + manifest + schema pin — the
    * [[Bm25.buildPersistedIndex]] layout with a position column. */
  def buildPersistedIndex(docs: DataFrame, idCol: String, textCol: String,
                          nRanges: Int, path: String): Unit =
    Bm25.writeShardedPostingsLayout(allPostings(docs, idCol, textCol),
      nRanges, path.stripSuffix("/"))

  /** DELETE-maintenance for the positional layout — the
    * [[Bm25.deleteFromPersistedIndex]] protocol over (id, term, pos)
    * postings (this layout carries no `stats/`, so only the touched
    * ranges and the manifest change). Same contract: `victimDocs` are
    * the indexed (id, text) rows; delete ≡ rebuild over the survivors;
    * untouched ranges are not rewritten; single writer;
    * restore-or-rebuild on a crash. Returns the touched range ids. */
  def deleteFromPersistedIndex(victimDocs: DataFrame, idCol: String,
                               textCol: String, path: String): Seq[Long] =
    Bm25.deleteFromShardedLayout(victimDocs, idCol, textCol, path)

  /** Read only the ranges whose [min,max] key interval can hold one of
    * `terms` — the ONE zone-map pruned read,
    * [[Bm25.readRangePostings]] — then filter to the terms. */
  def readPostings(spark: org.apache.spark.sql.SparkSession,
                   path: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    Bm25.readRangePostings(spark, path.stripSuffix("/"), terms.distinct)
  }

  /** Phrase search against a [[buildPersistedIndex]] layout: pruned
    * range read, no text scan. */
  def searchPersistedPhrase(spark: org.apache.spark.sql.SparkSession,
                            path: String, phrase: Seq[String]): DataFrame =
    phraseOccurrences(readPostings(spark, path, phrase.distinct), phrase)

  /** Proximity search against the persisted index. */
  def searchPersistedProximity(spark: org.apache.spark.sql.SparkSession,
                               path: String, termA: String, termB: String,
                               window: Long): DataFrame =
    proximityPairs(readPostings(spark, path, Seq(termA, termB)),
      termA, termB, window)

  /** Best-passage extraction (passage retrieval / snippet selection):
    * per document, the `window`-token span holding the most query-term
    * occurrences, then the top-`k` documents by that best span — what
    * a RAG pipeline quotes instead of the whole document.
    *
    * Candidate spans anchor at MATCHED positions only (an optimal
    * window always starts at a hit — shifting a window right to its
    * first hit never loses one), so the per-doc cost is tf², the
    * proximity-join bound, never dl·window. Ties: earliest span wins
    * inside a doc; doc id breaks cross-doc ties. Pure integer counts
    * + deterministic token slicing — the oracle replays everything
    * from raw text, no handoff.
    *
    * Output: (id, n_hits, win_start [0-based token index], passage). */
  def bestPassage(docs: DataFrame, idCol: String, textCol: String,
                  terms: Seq[String], window: Long, k: Int): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(window >= 1L && window <= Int.MaxValue.toLong,
      s"window must be in [1, ${Int.MaxValue}], got $window")
    require(k >= 1, s"k must be >= 1, got $k")
    val post = postingsOf(docs, idCol, textCol, terms.distinct).persist()
    Dedup.releaseAfterUse(post)
    val a = post.select(col("id").as("__ida"), col("pos").as("__pa"))
    val b = post.select(col("id").as("__idb"), col("pos").as("__pb"))
    val hits = a.join(b,
        col("__ida") === col("__idb") &&
          col("__pb") >= col("__pa") &&
          col("__pb") < col("__pa") + lit(window))
      .groupBy(col("__ida").as("id"), col("__pa").as("win_start"))
      .agg(count(lit(1)).as("n_hits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("n_hits").desc, col("win_start"))
    val best = hits.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("n_hits"), col("win_start"))
      .orderBy(col("n_hits").desc, col("id"))
      .limit(k)
    // join the ≤k winners to the RAW text first, then tokenize only
    // those rows for the passage slice — the corpus-wide regex split
    // (the dominant cost) runs once in postingsOf, not twice
    best.join(docs.select(col(idCol).as("id"), col(textCol).as("__text")),
        Seq("id"))
      .select(col("id"), col("n_hits"), col("win_start"),
        concat_ws(" ", slice(Bm25.terms(col("__text")),
          (col("win_start") + lit(1)).cast("int"),
          lit(window.toInt))).as("passage"))
      .orderBy(col("n_hits").desc, col("id"))
  }
}
