package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL / domain provenance analysis for training-data curation.
  *
  * Web-scale corpora are filtered by domain: extract every URL, reduce
  * it to its host, aggregate corpus-wide domain statistics, and drop
  * documents that cite blocklisted hosts (trackers, ad networks, known
  * low-quality mirrors). All patterns live in the Java∩RE2 common
  * subset (same contract as [[Pii]]) so the DuckDB oracle evaluates
  * the identical strings.
  *
  * Scale shape: extraction is a narrow codegen'd projection; the
  * blocklist is tiny (thousands of hosts vs billions of documents) so
  * the filter is a **broadcast** anti/semi join — the 100 TB corpus
  * side never shuffles. Domain stats are one explode + one
  * map-side-combined hash aggregation (the `t_word_freq` shape).
  */
object Urls {

  /** http(s) URL: host then an optional path. Query-string characters
    * are folded into the path class (no lookaround in RE2). Host and
    * path both must END on a non-dot character so sentence-terminal
    * punctuation ("visit http://x.example.") stays out of the match —
    * a trailing dot in the host would silently defeat exact-host
    * blocklist comparison and corrupt registeredDomain. */
  val UrlPattern: String =
    "https?://[A-Za-z0-9.-]*[A-Za-z0-9](?:/[A-Za-z0-9./_?=&%+-]*[A-Za-z0-9/_=&%+-]|/)?"

  /** Capture group 1 = the host of a URL string. */
  val HostPattern: String = "https?://([A-Za-z0-9.-]*[A-Za-z0-9])"

  /** All URLs in a text column, in match order. */
  def urls(text: Column): Column =
    regexp_extract_all(text, lit(UrlPattern), lit(0))

  /** Host of a single URL value ('' when the value is not a URL). */
  def host(url: Column): Column = regexp_extract(url, HostPattern, 1)

  /** Registrable-domain approximation: the last two host labels
    * (`cdn3.assets.example.com` → `example.com`). A public-suffix
    * list would refine multi-label TLDs; the two-label reduction is
    * the standard first pass and is exactly SQL-expressible. */
  def registeredDomain(hostCol: Column): Column = {
    val parts = split(hostCol, "\\.")
    when(size(parts) >= 2,
      concat_ws(".", slice(parts, size(parts) - 1, lit(2))))
      .otherwise(hostCol)
  }

  /** Per-document URL extraction: count, ordered host list digest, and
    * a flag for any host present in `blockedHosts` (exact host match).
    * `blockedHosts` is a small literal set → `arrays_overlap` against
    * a literal array, shuffle-free. */
  def extract(df: DataFrame, blockedHosts: Seq[String], textCol: String = "text")
      : DataFrame = {
    val u = urls(col(textCol))
    val hosts = transform(u, x => host(x))
    df.withColumn("n_urls", size(u).cast("long"))
      .withColumn("hosts", hosts)
      .withColumn("blocked",
        arrays_overlap(hosts, array(blockedHosts.map(lit): _*)))
  }

  /** Drop every document that cites a blocklisted host, with the
    * blocklist as a DataFrame (`host` column) — the production shape
    * when the blocklist is thousands of rows rather than a literal.
    * Explode hosts → **broadcast** left-semi join (corpus side never
    * shuffles for the lookup) → distinct offending ids → left-anti
    * back onto the corpus. The only corpus shuffle is the id-keyed
    * anti join; the 100 TB text column moves zero times for the
    * lookup itself. */
  def dropBlockedDocs(df: DataFrame, blocklist: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val offending = df
      .select(col(idCol), explode(urls(col(textCol))).as("url"))
      .select(col(idCol), host(col("url")).as("host"))
      .join(broadcast(blocklist.select(col("host"))), Seq("host"), "left_semi")
      .select(col(idCol)).distinct()
    df.join(offending, Seq(idCol), "left_anti")
  }

  /** Resolve a canonical `href` against the page URL it was declared
    * on — the RFC 3986 reference-resolution subset a crawl pipeline
    * needs, implemented deterministically (no java.net.URI, whose
    * normalization quirks an independent oracle cannot replay):
    * absolute (`scheme:`…) stays as-is; protocol-relative (`//host/…`)
    * takes the base scheme; root-relative (`/path`) takes the base
    * origin; anything else replaces the last segment of the base
    * path. Fragments are dropped (a canonical target is a page, not
    * an anchor); empty/null href resolves to the base itself. */
  def resolveUrl(base: String, href: String): String = {
    def noFrag(s: String): String = {
      val h = s.indexOf('#'); if (h < 0) s else s.substring(0, h)
    }
    // null base: nothing to resolve against — pass the href through
    // (de-fragmented) rather than NPE; callers with a null PAGE url
    // should drop the row upstream (canonicalCollapse does)
    if (base == null) return if (href == null) null else noFrag(href.trim)
    if (href == null || href.isEmpty) return noFrag(base)
    val h = noFrag(href.trim)
    if (h.isEmpty) return noFrag(base)
    val hasScheme = h.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")
    if (hasScheme) return h
    // RFC 3986 §5.3 excludes the base's QUERY from the merge path —
    // cut at the first '?' before computing origin/path/dir, else
    // 'https://ex.org?q=1' + 'x' merges inside the query string and a
    // '/' inside the base query corrupts the merge directory.
    val b = {
      val nf = noFrag(base)
      val q = nf.indexOf('?'); if (q < 0) nf else nf.substring(0, q)
    }
    val schemeEnd = b.indexOf("://")
    if (schemeEnd < 0) return h // non-hierarchical base: keep href
    val scheme = b.substring(0, schemeEnd)
    if (h.startsWith("//")) return s"$scheme:$h"
    val pathStart = b.indexOf('/', schemeEnd + 3)
    val origin = if (pathStart < 0) b else b.substring(0, pathStart)
    // the href's own query likewise stays OUT of dot-segment removal:
    // a '/' inside it must not be read as a path separator
    val (hPath, hQuery) = {
      val q = h.indexOf('?'); if (q < 0) (h, "") else (h.substring(0, q), h.substring(q))
    }
    val basePath = if (pathStart < 0) "/" else b.substring(pathStart)
    // '?q=2' alone: RFC 3986 §5.2.2 keeps the base path verbatim
    if (hPath.isEmpty) return origin + basePath + hQuery
    // dot-segment removal (RFC 3986 §5.2.4) on the path we build —
    // '../x' canonicals are common on real pages and an unnormalized
    // 'a/sub/../x' key would split one canonical group in two
    if (hPath.startsWith("/")) return origin + normPath(hPath) + hQuery
    val dir = basePath.substring(0, basePath.lastIndexOf('/') + 1)
    origin + normPath(dir + hPath) + hQuery
  }

  /** Dot-segment removal + duplicate-slash collapse on a path (RFC
    * 3986 §5.2.4, shared by [[resolveUrl]] and [[normalizeUrl]]). */
  private def normPath(p: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    p.split("/", -1).foreach {
      case "." | "" => // collapse '.' and duplicate slashes
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case seg => out += seg
    }
    "/" + out.mkString("/") + (if (p.endsWith("/") && out.nonEmpty) "/" else "")
  }

  /** Syntax-based URL normalization (RFC 3986 §6) — the frontier-dedup
    * key a crawler computes BEFORE fetching, complementing the
    * post-fetch [[canonicalCollapse]]: lowercase the scheme and host,
    * strip the fragment, drop the scheme's default port (`:80` http,
    * `:443` https), remove dot segments and duplicate slashes, and
    * give a path-less URL the root path. The query string is kept
    * verbatim (reordering parameters changes semantics on real sites);
    * percent-encoding is left untouched for the same reason. Non-http
    * and unparseable values normalize to themselves (trimmed,
    * de-fragmented) — never throws, never nulls a non-null input. */
  def normalizeUrl(url: String): String = {
    if (url == null) return null
    val noFrag = {
      val u = url.trim
      // trim AGAIN after the fragment cut: '#' can expose trailing
      // whitespace ('x #f' → 'x ') and the result must be idempotent
      (if (u.indexOf('#') < 0) u else u.substring(0, u.indexOf('#'))).trim
    }
    val schemeEnd = noFrag.indexOf("://")
    if (schemeEnd < 0) return noFrag
    val scheme = noFrag.substring(0, schemeEnd).toLowerCase
    val rest = noFrag.substring(schemeEnd + 3)
    val pathStart = rest.indexOf('/')
    val qStartAuth = rest.indexOf('?')
    // authority ends at the first '/', or at '?' for a path-less URL
    val authEnd =
      if (pathStart >= 0 && (qStartAuth < 0 || pathStart < qStartAuth)) pathStart
      else if (qStartAuth >= 0) qStartAuth
      else rest.length
    // RFC 3986 §6.2.2.1: only the HOST is case-insensitive — userinfo
    // ('User:Pass@host') keeps its case, so two URLs differing only in
    // credential case never collapse to one frontier key
    var auth = {
      val a = rest.substring(0, authEnd)
      val at = a.lastIndexOf('@')
      if (at < 0) a.toLowerCase
      else a.substring(0, at + 1) + a.substring(at + 1).toLowerCase
    }
    val defPort = scheme match {
      case "http" => ":80"
      case "https" => ":443"
      case _ => null
    }
    if (defPort != null && auth.endsWith(defPort))
      auth = auth.substring(0, auth.length - defPort.length)
    val tail = rest.substring(authEnd)
    val qStart = tail.indexOf('?')
    val (path, query) =
      if (qStart < 0) (tail, "")
      else (tail.substring(0, qStart), tail.substring(qStart))
    s"$scheme://$auth${if (path.isEmpty) "/" else normPath(path)}$query"
  }

  /** The fused per-page head signal: NULL when the page declares
    * `noindex` (drop it), else its resolved canonical group key — ONE
    * [[graft.sources.HtmlText.headSignals]] scanner walk per page
    * where the two-UDF form walked the HTML twice. NULL is unambiguous
    * as the drop marker: with a non-null page URL, [[resolveUrl]]
    * never returns null. */
  private def canonKeyUdf = udf((u: String, h: String) => {
    val (noindex, canon) = graft.sources.HtmlText.headSignals(h)
    if (noindex) null
    else canon match {
      case Some(c) => resolveUrl(u, c)
      case None => u
    }
  })

  /** Canonical-URL collapse with robots `noindex` honoring — the two
    * head-metadata signals a crawl pipeline consumes BEFORE spending
    * dedup/quality compute (the same page crawled at many URLs
    * declares one canonical target; a `noindex` page asked not to be
    * indexed at all). Per page: drop it if its
    * [[graft.sources.HtmlText.metaRobots]] carries `noindex`;
    * otherwise its group key is the declared
    * [[graft.sources.HtmlText.canonicalUrl]] resolved against the
    * page URL via [[resolveUrl]] (pages declaring none are their own
    * canonical). Per group, ONE page is kept: the self-canonical page
    * (url == canonical target) when crawled, else the
    * lexicographically smallest member URL — deterministic either
    * way.
    *
    * Output: (canonical, kept_url, n_aliases) — one row per surviving
    * canonical group; callers semi-join `kept_url` back onto the page
    * frame to materialize the kept content. Scale shape: both signal
    * extractions are narrow per-row projections inside the scan task
    * (never the full extractor — only the head scanners), and the
    * collapse is ONE map-side-combined hash aggregation on the
    * canonical key; the page HTML itself never shuffles. */
  def canonicalCollapse(pages: DataFrame, urlCol: String = "url",
                        htmlCol: String = "html"): DataFrame = {
    pages
      // null-hygiene (the Bm25 layout rule): a page without a URL has
      // no usable group key or kept address — drop it up front rather
      // than NPE inside resolution
      .filter(col(urlCol).isNotNull)
      .select(col(urlCol).as("__url"),
        canonKeyUdf(col(urlCol), col(htmlCol)).as("canonical"))
      .filter(col("canonical").isNotNull) // noindex pages
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_aliases"),
        min(when(col("__url") === col("canonical"), col("__url")))
          .as("__self"),
        min(col("__url")).as("__minu"))
      .select(col("canonical"),
        coalesce(col("__self"), col("__minu")).as("kept_url"),
        col("n_aliases"))
  }

  /** The kept PAGE ROWS under [[canonicalCollapse]]'s keep rule: one
    * surviving page per canonical group (self-canonical when crawled,
    * else min member URL), noindex pages gone, every input column
    * preserved — the frame a pipeline feeds into dedup/quality next.
    * NOT a join against the collapse report: the report is one row per
    * group, which at crawl scale is corpus-sized (most pages are
    * unduplicated), so the kept row is selected in place with a
    * row_number window over the canonical key — ONE shuffle total and
    * the page HTML moves once. */
  def applyCanonicalCollapse(pages: DataFrame, urlCol: String = "url",
                             htmlCol: String = "html"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__canon"))
      .orderBy((col(urlCol) === col("__canon")).desc, col(urlCol))
    pages
      .filter(col(urlCol).isNotNull)
      .withColumn("__canon", canonKeyUdf(col(urlCol), col(htmlCol)))
      .filter(col("__canon").isNotNull) // noindex pages, one fused scan
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__canon", "__rn")
  }

  /** Politeness-scheduled fetch plan — the consumer of the parsed
    * robots `Crawl-delay` ([[graft.sources.RobotsTxt.robotsMeta]]):
    * per host, frontier URLs take deterministic slots (url ascending)
    * and a fetch offset of `slot × delay`, so a fetch fleet sharded
    * by host (the natural crawl partitioning — exactly this op's one
    * shuffle) never hits a host faster than its declared delay.
    * Hosts declaring no delay (or absent from `hostDelays`) take
    * `defaultDelayMs`; several delay rows per host (robotsMeta emits
    * one per declared sitemap) reduce to the MOST CONSERVATIVE (max).
    * Offsets are exact int64 milliseconds — `slot ×
    * round(delay·1000)` — so the schedule replays bit-identically in
    * any engine. Output: input columns + (host, slot, delay_ms,
    * fetch_after_ms). Null-URL rows drop (no host to be polite to).
    *
    * Scale shape: one hash exchange on host + one per-host window —
    * no global window, no corpus-sized broadcast; the delay side is
    * host-cardinality (small) and broadcastable. */
  def politeSchedule(frontier: DataFrame, hostDelays: DataFrame,
                     defaultDelayMs: Long = 1000L,
                     urlCol: String = "url"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(defaultDelayMs >= 0, s"defaultDelayMs must be >= 0, got $defaultDelayMs")
    val w = Window.partitionBy(col("host")).orderBy(col(urlCol))
    val delays = hostDelays
      .groupBy(col("host"))
      .agg(max(col("crawl_delay")).as("__delay_s"))
    frontier
      .filter(col(urlCol).isNotNull)
      .withColumn("host", host(col(urlCol)))
      // hostless junk ('not a url', non-http schemes) extracts '' —
      // there is no host to be polite to and nothing to fetch, so it
      // must not occupy slots in a shared fake '' partition (the same
      // guard hostGraph applies to its edge ends)
      .filter(col("host") =!= "")
      .join(broadcast(delays), Seq("host"), "left_outer")
      .withColumn("delay_ms",
        coalesce(round(col("__delay_s") * 1000).cast("long"),
          lit(defaultDelayMs)))
      .withColumn("slot", (row_number().over(w) - 1).cast("long"))
      .withColumn("fetch_after_ms", col("slot") * col("delay_ms"))
      .drop("__delay_s")
  }

  /** URL → structural template, the crawl-trap signal: digit runs in
    * the path collapse to `0`, long (≥8) hex runs to `H`, and query
    * parameter VALUES drop (keys stay) — so `/cal/2026/08/17?sid=abc`
    * and `/cal/2026/08/18?sid=def` read as ONE template
    * (`/cal/0/0/0?sid`). Patterns live in the Java∩RE2 common subset
    * (the [[UrlPattern]] contract) so the oracle evaluates the
    * identical strings. Scheme/host are excluded — templates describe
    * a host's PATH space. */
  def urlTemplate(url: Column): Column = {
    // path+query of the URL (strip scheme://authority), then the
    // three collapses; non-URL junk yields its own literal template
    val tail = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", "")
    regexp_replace(
      regexp_replace(
        regexp_replace(tail, "=[^&#]*", ""),
        "[0-9a-fA-F]{8,}", "H"),
      "[0-9]+", "0")
  }

  /** Crawl-trap report: per host, how much of its URL space is
    * structural explosion. A calendar trap, a session-id mirror, or a
    * faceted-search lattice mints unbounded URLs from a handful of
    * path TEMPLATES — so `n_urls` grows without bound while
    * `n_templates` stays flat, and the fetch budget drowns. Emits
    * (host, n_urls, n_templates, urls_per_template, trap) where
    * `trap` = at least `minUrls` URLs AND a urls-per-template ratio
    * at or above `minRatio`; downstream, anti-join the frontier
    * against the flagged hosts (or cap their politeness budget).
    *
    * Scale shape: template is a narrow per-row projection; the report
    * is one hash aggregation on host (count + distinct-template
    * count). Ratio is ONE IEEE division of two exact int64s —
    * deterministic in any engine. */
  def trapReport(frontier: DataFrame, urlCol: String = "url",
                 minUrls: Long = 100L, minRatio: Double = 20.0)
      : DataFrame = {
    require(minUrls >= 1 && minRatio >= 1.0,
      s"bad trap thresholds: minUrls=$minUrls minRatio=$minRatio")
    frontier
      .filter(col(urlCol).isNotNull)
      .select(host(col(urlCol)).as("host"),
        urlTemplate(col(urlCol)).as("__tpl"))
      .filter(col("host") =!= "")
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("__tpl")).as("n_templates"))
      .withColumn("urls_per_template",
        col("n_urls").cast("double") / col("n_templates").cast("double"))
      .withColumn("trap",
        col("n_urls") >= minUrls && col("urls_per_template") >= minRatio)
  }

  /** Corpus-wide domain frequency with the blocklist removed: explode
    * hosts → registered domain → hash-agg count. One shuffle on the
    * domain key with map-side partial aggregation; the blocklist
    * filter happens BEFORE the shuffle so blocked rows never move. */
  def domainStats(df: DataFrame, blockedHosts: Seq[String], textCol: String = "text")
      : DataFrame = {
    val blocked = array(blockedHosts.map(lit): _*)
    df.select(explode(urls(col(textCol))).as("url"))
      .select(host(col("url")).as("host"))
      .where(not(array_contains(blocked, col("host"))))
      .select(registeredDomain(col("host")).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n"))
  }
}
