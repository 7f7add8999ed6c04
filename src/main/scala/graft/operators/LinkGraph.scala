package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The link-graph half of the crawl loop: hyperlink extraction,
  * host-graph construction, and frontier prioritization by a
  * deterministic fixed-point PageRank.
  *
  * A crawl that fetches in discovery order wastes its budget on
  * whatever hosts happen to link densely to themselves; real crawlers
  * order the frontier by link-graph centrality (the original use of
  * PageRank). The chain here is
  * [[extractLinks]] → [[hostGraph]] → [[pageRank]] — every stage a
  * DataFrame transform, no driver-side graph object.
  *
  * Scale shape: extraction is a per-row projection inside the scan
  * task (the page HTML never shuffles); the host graph is one
  * distinct on (src, dst); PageRank is the textbook iterative
  * join+aggregate — per iteration ONE shuffle of the (node, rank)
  * frame onto the edge partitioning plus one hash aggregation on the
  * destination key. The edge frame (joined with its out-degrees) is
  * computed once, persisted, and reused by every iteration, so the
  * corpus-sized side is shuffled once for the whole run.
  *
  * Determinism (load-bearing for the oracle): ranks are exact int64
  * fixed-point micro-units (`scale` = 1.0) and every step — the
  * contribution `rank div out_degree`, the damped update
  * `teleport + (dampNum·Σcontrib) div dampDen` — is integer
  * arithmetic, so sums are order-independent and the whole iteration
  * replays bit-identically in any engine (DuckDB chains the same
  * algebra through k CTEs). Dangling-node mass leaks each iteration
  * (the classic simplified variant): ranks are a relative priority
  * signal, not a probability distribution.
  */
object LinkGraph {

  /** Outgoing hyperlinks per page, as frontier keys: every `<a href>`
    * ([[graft.sources.HtmlText.links]] — comment/script-hidden anchors
    * never emitted, `rel=nofollow` honored when `skipNofollow`)
    * resolved against the page URL ([[Urls.resolveUrl]]) and
    * normalized ([[Urls.normalizeUrl]]). Only http(s) targets survive
    * (a `mailto:`/`javascript:` href is not a crawlable edge);
    * duplicate targets within a page collapse to one (the link-graph
    * convention — PageRank counts an edge once); with `dropSelf` a
    * link resolving to the page's own normalized URL (fragment-only
    * hrefs do) is dropped. Null-URL pages drop (no base to resolve
    * against — the [[Urls.canonicalCollapse]] hygiene rule).
    *
    * Output: the input columns + `link`, one row per distinct
    * surviving target; pages with none emit no rows. The extraction
    * is one narrow projection in the scan task — zero shuffle. */
  def extractLinks(pages: DataFrame, urlCol: String = "url",
                   htmlCol: String = "html",
                   skipNofollow: Boolean = true,
                   dropSelf: Boolean = true): DataFrame = {
    val extract = udf { (pageUrl: String, html: String) =>
      val self = Urls.normalizeUrl(pageUrl)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      graft.sources.HtmlText.links(html, skipNofollow).foreach { href =>
        val l = Urls.normalizeUrl(Urls.resolveUrl(pageUrl, href))
        if (l != null &&
          (l.startsWith("http://") || l.startsWith("https://")) &&
          !(dropSelf && l == self)) seen += l
      }
      seen.toSeq
    }
    pages
      .filter(col(urlCol).isNotNull)
      .withColumn("link",
        explode(extract(col(urlCol), col(htmlCol))))
  }

  /** Inbound anchor-text statistics per link target — the signal web
    * ranking has used since the earliest engines: a target page is
    * described by what OTHER pages' anchors call it. Per page, every
    * `<a href>` with non-empty link text
    * ([[graft.sources.HtmlText.anchors]] — same hidden-anchor /
    * nofollow rules as [[extractLinks]]) resolves+normalizes to the
    * target frontier key (http(s) only, self-links dropped — a page's
    * own navigation does not describe it); then ONE map-side-combined
    * hash aggregation per target: `n_anchors` (inbound anchor
    * occurrences), `n_texts` (distinct texts), `min_text`/`max_text`
    * (deterministic representatives). Bounded state per group — no
    * collect_list, so a mega-target (every page links to the home
    * page) costs O(1) aggregation state, not O(in-degree) memory. */
  def anchorStats(pages: DataFrame, urlCol: String = "url",
                  htmlCol: String = "html",
                  skipNofollow: Boolean = true): DataFrame = {
    val extract = udf { (pageUrl: String, html: String) =>
      val self = Urls.normalizeUrl(pageUrl)
      graft.sources.HtmlText.anchors(html, skipNofollow).flatMap {
        case (href, text) =>
          val l = Urls.normalizeUrl(Urls.resolveUrl(pageUrl, href))
          if (text.nonEmpty && l != null &&
            (l.startsWith("http://") || l.startsWith("https://")) &&
            l != self) Some((l, text))
          else None
      }
    }
    pages
      .filter(col(urlCol).isNotNull)
      .select(explode(extract(col(urlCol), col(htmlCol))).as("__a"))
      .select(col("__a._1").as("link"), col("__a._2").as("anchor"))
      .groupBy("link")
      .agg(count(lit(1)).as("n_anchors"),
        countDistinct(col("anchor")).as("n_texts"),
        min(col("anchor")).as("min_text"),
        max(col("anchor")).as("max_text"))
  }

  /** Host-level edge list from an [[extractLinks]] frame: (src, dst) =
    * (page host, target host), distinct, self-loops and rows with an
    * unparseable host on either side dropped. One distinct shuffle on
    * the edge key; hosts extract in the scan task. */
  def hostGraph(links: DataFrame, urlCol: String = "url",
                linkCol: String = "link"): DataFrame = {
    links
      .select(Urls.host(col(urlCol)).as("src"),
        Urls.host(col(linkCol)).as("dst"))
      .where(col("src") =!= "" && col("dst") =!= "" &&
        col("src") =!= col("dst"))
      .distinct()
  }

  /** Resolve HTTP redirect chains to their terminal URLs — the CDX
    * collapse every crawl corpus needs (a 301/302 page's content lives
    * at the END of its chain; an uncollapsed chain splits one page
    * into many frontier entries and corrupts the link graph).
    *
    * `redirects` carries (srcCol, dstCol) one observed redirect per
    * fetch; duplicate sources (a flapping server) reduce
    * deterministically to the MIN target. Each frontier URL follows
    * its chain for at most `maxHops` hops (browsers cap around 20) —
    * a URL whose cursor is still a redirect source after `maxHops`
    * hops (longer chain, or a redirect LOOP) comes back
    * `resolved = false` with the cursor where it stopped, never an
    * infinite loop. Output: the input columns + (final_url, hops,
    * resolved); never-redirected URLs settle at hops = 0.
    *
    * Scale shape: the deduped redirect map aggregates on its source
    * key ONCE (persisted, released after use) and each round is one
    * advance-or-keep left join of the whole frontier against it — a
    * terminal cursor matches nothing and rides through unchanged, so
    * no settled/pending split is needed and the maxHops rounds form
    * ONE linear lineage chain (when the map broadcasts, the entire
    * chase pipelines through a single stage with zero frontier
    * shuffles; a split-and-union form was measured 2× slower — its
    * union branches recompute a quadratic number of join prefixes).
    * The round algebra (miss ⇒ keep, hit ⇒ advance) is exactly
    * replayable as chained SQL CTEs, which is how the oracle checks
    * it. */
  def resolveRedirects(urls: DataFrame, redirects: DataFrame,
                       maxHops: Int = 8, urlCol: String = "url",
                       srcCol: String = "src", dstCol: String = "dst")
      : DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // null-URL hygiene (the canonicalCollapse rule, same as every
    // other crawl-loop stage): a URL-less row has nothing to resolve
    // and must not ride into the fetch plan as a "resolved" null
    val frontier = urls.filter(col(urlCol).isNotNull)
    val rmap = redirects
      .select(col(srcCol).cast("string").as("__rsrc"),
        col(dstCol).cast("string").as("__rdst"))
      .where(col("__rsrc").isNotNull && col("__rdst").isNotNull)
      .groupBy("__rsrc")
      .agg(min(col("__rdst")).as("__rdst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var f = frontier
      .withColumn("__cur", col(urlCol).cast("string"))
      .withColumn("__hops", lit(0))
    for (_ <- 1 to maxHops) {
      f = f.join(rmap, f("__cur") === rmap("__rsrc"), "left_outer")
        .withColumn("__cur", coalesce(col("__rdst"), col("__cur")))
        .withColumn("__hops",
          col("__hops") + when(col("__rsrc").isNotNull, 1).otherwise(0))
        .drop("__rsrc", "__rdst")
    }
    // a cursor that is STILL a redirect source after maxHops hops — a
    // deeper chain or a loop — reports unresolved where it reached; one
    // that is not settled on the way (possibly exactly at the cap)
    val out = f.join(rmap, f("__cur") === rmap("__rsrc"), "left_outer")
      .withColumn("__resolved", col("__rsrc").isNull)
      .drop("__rsrc", "__rdst")
    Dedup.releaseAfterUse(rmap)
    out
      .withColumnRenamed("__cur", "final_url")
      .withColumnRenamed("__hops", "hops")
      .withColumnRenamed("__resolved", "resolved")
  }

  /** Deterministic fixed-point PageRank over an edge list — the
    * frontier-priority signal. Nodes are `src ∪ dst` (a linked-to
    * host that was never crawled is still a node — that is the point
    * of frontier prioritization); every node starts at `scale`
    * (fixed-point 1.0) and each of the `iterations` steps applies
    *
    * {{{ rank' = teleport + (dampNum · Σ_in (rank div outDeg)) div dampDen }}}
    *
    * with `teleport = (scale·(dampDen−dampNum)) div dampDen` — all
    * int64, all floor division, so the result is bit-identical across
    * engines and partitionings (see the object doc). Duplicate edges
    * collapse; self-loops are kept if present (feed them through
    * [[hostGraph]] to drop them). Output: (node, rank), rank in
    * micro-units of `scale`.
    *
    * Scale shape: the degree-joined edge frame persists once
    * (released at the query boundary, [[Dedup.releaseAfterUse]]) and
    * each iteration is one join of the node-cardinality rank frame onto
    * it plus one
    * map-side-combined hash agg on `dst` — the edge side shuffles
    * once for the whole run, the rank side once per iteration, which
    * is PageRank's floor. Iteration count is a small constant (the
    * signal saturates in single digits); lineage stays linear in it. */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               srcCol: String = "src", dstCol: String = "dst",
               scale: Long = 1000000L,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(scale > 0 && dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"bad fixed-point parameters: scale=$scale damp=$dampNum/$dampDen")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    // src-keyed distinct, src-keyed agg, src-keyed join: one exchange
    // feeds all three, and the persisted result feeds every iteration
    val eDeg = e.join(deg, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val teleport = scale * (dampDen - dampNum) / dampDen
    var ranks = nodes.withColumn("rank", lit(scale))
    for (_ <- 1 to iterations) {
      // r17-opt (guide §2.4, one exchange per iteration): the old
      // shape ran TWO joins per step — contributions onto the edge
      // frame, then a nodes-left-join to re-attach zero-in-degree
      // nodes. The left join is algebraically a zero SEED per node:
      // coalesce(sum(c), 0) == sum over (contribs ∪ {0}), exact in
      // int64, so seeding the aggregation with one zero row per node
      // (a union — no shuffle, no join) retires the second join and
      // its exchange/broadcast while keeping every node present for
      // the next iteration's src join. Bit-identical output.
      ranks = eDeg
        .join(ranks, eDeg("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("rank div __deg").as("__c"))
        .unionByName(nodes.select(col("node"), lit(0L).as("__c")))
        .groupBy("node")
        .agg((lit(teleport) +
          expr(s"($dampNum * sum(__c)) div $dampDen")).as("rank"))
    }
    Dedup.releaseAfterUse(eDeg)
    Dedup.releaseAfterUse(nodes)
    ranks
  }
}
