package graft.sources

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

/** HTML → text extraction (the Common Crawl front door; the natural
  * web generalization of the reference's loader dispatch,
  * `document_processor.py:100-124`, which handles pdf/docx/txt but
  * nothing web). Pure-JVM single-pass state machine — no external
  * parser dependency — covering the boilerplate-strip role
  * trafilatura/jusText play in CCNet/C4/RefinedWeb-style pipelines:
  *
  *  - script / style / noscript / template contents are dropped
  *    entirely (raw-text elements: their close tag is located by a
  *    literal case-insensitive scan, per the HTML parsing spec — they
  *    cannot nest);
  *  - comments (`<!-- -->`), doctypes, CDATA and processing
  *    instructions are dropped;
  *  - tags are skipped with quote-aware attribute scanning (a `>`
  *    inside a quoted attribute value does not end the tag);
  *  - BLOCK-level tags (p, div, li, h1..h6, nav, …) contribute a
  *    whitespace break; inline tags (`a<b>b</b>c` → `abc`) do not;
  *  - character entities are decoded: numeric (`&#68;`, `&#x44;`,
  *    supplementary planes included) and a core named set; an
  *    unknown entity stays literal (`&foo;`), as does a bare `&`;
  *  - a `<` not opening a tag/comment/doctype is literal text
  *    (malformed markup never throws — worst case it is kept as
  *    text or skipped to end-of-input, both deterministic);
  *  - output whitespace is normalized: ASCII whitespace runs collapse
  *    to one space, leading/trailing trimmed (`&nbsp;` decodes to a
  *    plain space and participates in the collapse).
  *
  * Scale shape: a pure `String => String` kernel with no allocation
  * beyond the output builder — called per-document inside whatever
  * task already holds the payload (WARC explode, binaryFile scan), so
  * it parallelizes with the scan and shuffles nothing.
  */
object HtmlText {

  /** Elements whose entire content is dropped. Raw-text per the HTML
    * spec — closed only by their literal end tag. */
  private val Excluded = Set("script", "style", "noscript", "template")

  /** Elements that force a word break around their tags. Inline tags
    * (a, b, i, em, span, …) are everything not listed. */
  private val Block = Set(
    "html", "head", "body", "title", "p", "div", "br", "hr",
    "ul", "ol", "li", "dl", "dt", "dd",
    "h1", "h2", "h3", "h4", "h5", "h6",
    "table", "thead", "tbody", "tfoot", "tr", "td", "th", "caption",
    "blockquote", "pre", "section", "article", "aside", "header",
    "footer", "nav", "main", "form", "fieldset", "figure", "figcaption",
    "address", "details", "summary", "iframe", "option", "select")

  /** Core named entities (HTML4 set that appears in real crawl data;
    * unknown names stay literal rather than guessing). `nbsp` decodes
    * to a PLAIN space — it then participates in whitespace collapse,
    * which is the extraction-normalization semantics (layout spacing
    * is not content). */
  private val Entities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "laquo" -> "«", "raquo" -> "»",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "middot" -> "·", "bull" -> "•",
    "deg" -> "°", "times" -> "×", "divide" -> "÷",
    "plusmn" -> "±", "frac12" -> "½", "frac14" -> "¼",
    "sect" -> "§", "para" -> "¶", "euro" -> "€",
    "pound" -> "£", "yen" -> "¥", "cent" -> "¢")

  private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
      c == '\u000B'

  /** Collapse ASCII-whitespace runs to single spaces and trim. */
  def normalizeWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (isAsciiWs(c)) pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Decode the entity starting at `i` (which must point at '&').
    * Returns (decoded text, index after the consumed span); a
    * non-entity '&' (or unknown name) returns ("&", i+1) so the
    * original text is preserved verbatim. */
  private def decodeEntityAt(s: String, i: Int): (String, Int) = {
    val n = s.length
    if (i + 1 >= n) return ("&", i + 1)
    if (s.charAt(i + 1) == '#') {
      val hex = i + 2 < n && (s.charAt(i + 2) == 'x' || s.charAt(i + 2) == 'X')
      var j = if (hex) i + 3 else i + 2
      val digStart = j
      def isDig(c: Char) =
        if (hex) Character.digit(c, 16) >= 0 else c >= '0' && c <= '9'
      while (j < n && j - digStart < 8 && isDig(s.charAt(j))) j += 1
      if (j > digStart && j < n && s.charAt(j) == ';') {
        try {
          val cp = Integer.parseInt(s.substring(digStart, j), if (hex) 16 else 10)
          // the HTML spec maps NUL, surrogates, and out-of-range
          // references to U+FFFD — a lone surrogate in the output
          // would round-trip differently per engine (silent divergence
          // in the md5 signatures)
          if (Character.isValidCodePoint(cp) && cp != 0 &&
            !(cp >= 0xD800 && cp <= 0xDFFF))
            return (new String(Character.toChars(cp)), j + 1)
          else
            return ("�", j + 1)
        } catch { case _: NumberFormatException => () }
      }
      ("&", i + 1)
    } else {
      var j = i + 1
      while (j < n && j - i <= 10 &&
        (s.charAt(j).isLetter || s.charAt(j).isDigit)) j += 1
      if (j > i + 1 && j < n && s.charAt(j) == ';')
        Entities.get(s.substring(i + 1, j)) match {
          case Some(v) => (v, j + 1)
          case None    => ("&", i + 1)
        }
      else ("&", i + 1)
    }
  }

  /** Index just past the close tag `</name ...>` at or after `from`
    * (case-insensitive; the HTML raw-text rule). End-of-input if the
    * element is never closed — the rest is dropped, deterministically. */
  private def indexPastCloseTag(s: String, from: Int, name: String): Int = {
    val i = indexOfCloseTag(s, from, name)
    if (i >= s.length) return s.length
    val gt = s.indexOf('>', i)
    if (gt < 0) s.length else gt + 1
  }

  /** One text block between block-tag boundaries: normalized text,
    * word count, and the fraction of its characters that were emitted
    * inside an `<a>` element (the jusText/trafilatura link-density
    * signal — navigation and footer link farms sit near 1.0, body
    * prose near 0.0). */
  final case class TextBlock(text: String, words: Int, linkDensity: Double)

  /** Segment an HTML document into [[TextBlock]]s: the same state
    * machine as [[extractText]] (which is defined as the non-empty
    * blocks joined with single spaces), but block-tag boundaries FLUSH
    * a block instead of just inserting a word break, and characters
    * emitted while inside an `<a>` element are counted toward the
    * block's link density. */
  def extractBlocks(html: String): Seq[TextBlock] = {
    if (html == null) return Seq.empty
    val n = html.length
    val out = scala.collection.mutable.ArrayBuffer.empty[TextBlock]
    val sb = new java.lang.StringBuilder(256)
    var linkChars = 0
    var anchorDepth = 0
    def emit(s: String): Unit = {
      sb.append(s)
      if (anchorDepth > 0) linkChars += s.length
    }
    def emitChar(c: Char): Unit = {
      sb.append(c)
      if (anchorDepth > 0) linkChars += 1
    }
    def flush(): Unit = {
      val t = normalizeWs(sb.toString)
      if (t.nonEmpty) {
        // density over the RAW emitted chars (pre-normalization):
        // whitespace collapse removes layout chars from both counts
        // proportionally enough for a 0/1-ish signal, and raw counts
        // keep the pass single-scan
        val d = if (sb.length == 0) 0.0
        else math.min(1.0, linkChars.toDouble / sb.length.toDouble)
        out += TextBlock(t, t.split(' ').count(_.nonEmpty), d)
      }
      sb.setLength(0)
      linkChars = 0
    }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else {
            // doctype / CDATA — skip to '>' (CDATA is not HTML content)
            val e = html.indexOf('>', i)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') {
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else if (c1.isLetter ||
          (c1 == '/' && i + 2 < n && html.charAt(i + 2).isLetter)) {
          val closing = c1 == '/'
          var j = if (closing) i + 2 else i + 1
          val nameStart = j
          while (j < n && (html.charAt(j).isLetterOrDigit ||
            html.charAt(j) == '-' || html.charAt(j) == ':')) j += 1
          val name = html.substring(nameStart, j).toLowerCase
          // scan to the tag's '>' with quote-aware attribute handling
          var quote: Char = 0
          var end = -1
          var k = j
          while (k < n && end < 0) {
            val ch = html.charAt(k)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') end = k
            k += 1
          }
          val selfClosed = end > 0 && html.charAt(end - 1) == '/'
          val tagEnd = if (end < 0) n else end + 1
          if (name == "a" && !selfClosed) {
            if (closing) anchorDepth = math.max(0, anchorDepth - 1)
            else anchorDepth += 1
          }
          if (Block(name)) flush()
          i = if (!closing && !selfClosed && Excluded(name))
            indexPastCloseTag(html, tagEnd, name)
          else tagEnd
        } else {
          emitChar(c); i += 1 // bare '<' is literal text
        }
      } else if (c == '&') {
        val (decoded, next) = decodeEntityAt(html, i)
        emit(decoded); i = next
      } else {
        emitChar(c); i += 1
      }
    }
    flush()
    out.toSeq
  }

  /** Extract the text content of an HTML document: strip tags /
    * scripts / styles / comments, decode entities, insert word breaks
    * at block boundaries, normalize whitespace. Never throws on
    * malformed markup. Defined as the non-empty [[extractBlocks]]
    * texts joined with single spaces. */
  def extractText(html: String): String =
    extractBlocks(html).iterator.map(_.text).mkString(" ")

  /** MAIN-content extraction (the jusText-lite classification layer on
    * top of the tag strip), in the standard two stages:
    *
    * Context-free: a block is BAD when its link density exceeds the
    * ceiling (nav/footer link farms), SHORT when it has fewer than
    * `minWords` words (headings, table cells, list items — too little
    * text to judge alone); otherwise, with `stopwords` empty (the
    * default), it is GOOD. With a non-empty `stopwords` lexicon the
    * published jusText refinement applies — the language-aware signal
    * where extraction quality is won on pages the length rule alone
    * misjudges: body PROSE is dense in function words, while listing/
    * keyword boilerplate ("products pricing download sitemap…") is
    * long but stopword-free. Stopword density (fraction of the
    * block's words, lowercased, in the lexicon) at or above
    * `stopwordHigh` → GOOD; at or above `stopwordLow` → NEARGOOD;
    * below → BAD even when long.
    *
    * Context-sensitive (the jusText neighborhood rule — where the
    * C4/RefinedWeb-family ablations say extraction quality is won):
    * a NEARGOOD block resolves to good iff its nearest GOOD/BAD
    * neighbor on EITHER side (skipping short and neargood; document
    * edge counts as bad) is good; then a SHORT block is RESCUED iff
    * its nearest non-short neighbor on BOTH sides resolves good — so
    * the cells of a data table inside an article, or a list embedded
    * in prose, survive; a heading above pure boilerplate, or trailing
    * footer fragments, stay dropped.
    *
    * Defaults for the stopword thresholds are jusText's published
    * English settings (0.30/0.32); pair the lexicon with the page's
    * language (e.g. via `langId`) — density against a wrong-language
    * lexicon degrades toward the length-only rule. With `stopwords`
    * empty the behavior is EXACTLY the pre-refinement rule
    * (spec-pinned). */
  def mainText(html: String, minWords: Int = 5,
               maxLinkDensity: Double = 0.4,
               stopwords: Set[String] = Set.empty,
               stopwordLow: Double = 0.30,
               stopwordHigh: Double = 0.32): String = {
    val blocks = extractBlocks(html)
    val n = blocks.length
    val Bad = 0; val Short = 1; val NearGood = 2; val Good = 3
    val cls = Array.tabulate(n) { i =>
      val b = blocks(i)
      if (b.linkDensity > maxLinkDensity) Bad
      else if (b.words < minWords) Short
      else if (stopwords.isEmpty) Good
      else {
        var hits = 0
        b.text.split(' ').foreach { t =>
          if (t.nonEmpty && stopwords.contains(t.toLowerCase)) hits += 1
        }
        val d = hits.toDouble / b.words.toDouble
        if (d >= stopwordHigh) Good
        else if (d >= stopwordLow) NearGood
        else Bad
      }
    }
    // resolve NEARGOOD from the nearest decided (good/bad) neighbor on
    // each side, skipping short and neargood — one pass per direction
    val leftGB = new Array[Int](n)
    var run = Bad
    var i = 0
    while (i < n) {
      leftGB(i) = run
      if (cls(i) == Good || cls(i) == Bad) run = cls(i)
      i += 1
    }
    val rightGB = new Array[Int](n)
    run = Bad
    i = n - 1
    while (i >= 0) {
      rightGB(i) = run
      if (cls(i) == Good || cls(i) == Bad) run = cls(i)
      i -= 1
    }
    i = 0
    while (i < n) {
      if (cls(i) == NearGood)
        cls(i) = if (leftGB(i) == Good || rightGB(i) == Good) Good else Bad
      i += 1
    }
    // nearest non-short RESOLVED class on each side for the short rescue
    val left = new Array[Int](n)
    run = Bad
    i = 0
    while (i < n) { left(i) = run; if (cls(i) != Short) run = cls(i); i += 1 }
    val right = new Array[Int](n)
    run = Bad
    i = n - 1
    while (i >= 0) { right(i) = run; if (cls(i) != Short) run = cls(i); i -= 1 }
    val out = new StringBuilder()
    i = 0
    while (i < n) {
      if (cls(i) == Good ||
        (cls(i) == Short && left(i) == Good && right(i) == Good)) {
        if (out.nonEmpty) out.append(' ')
        out.append(blocks(i).text)
      }
      i += 1
    }
    out.toString
  }

  /** The attribute bodies of every `<name …>` tag in the document
    * (quote-aware end scan, same rule as the extractor) — the shared
    * scanner for the head-metadata extractors below. Comment spans and
    * the raw-text contents of [[Excluded]] elements are skipped with
    * the same rules as [[extractBlocks]], so a `<meta>`/`<link>`
    * inside `<!-- -->` or a script string literal is never honored
    * (a commented-out `noindex` must not drop the page). */
  private def tagBodies(html: String, name: String): Iterator[String] =
    tagBodiesMulti(html, Array(name)).map(_._2)

  /** Multi-name variant of the head scanner: ONE walk over the
    * document yielding (tagName, attrBody, indexPastGt) for every tag
    * whose name is in `names` — so a consumer needing both `<meta>`
    * and `<link>` signals (canonical collapse) pays one scanner pass
    * instead of two, and a consumer needing the element's inner
    * content ([[anchors]]) knows where it starts. Same comment/raw-text
    * skipping as the single-name form. */
  private def tagBodiesMulti(html: String, names: Array[String]): Iterator[(String, String, Int)] =
    new Iterator[(String, String, Int)] {
      private var i = 0
      private var nextBody: (String, String, Int) = null
      private def excludedOpenAt(start: Int): Option[String] = {
        val n = html.length
        if (start >= n || !html.charAt(start).isLetter) return None
        var j = start
        while (j < n && (html.charAt(j).isLetterOrDigit ||
          html.charAt(j) == '-' || html.charAt(j) == ':')) j += 1
        val tag = html.substring(start, j).toLowerCase
        if (Excluded(tag)) Some(tag) else None
      }
      private def advance(): Unit = {
        nextBody = null
        val n = html.length
        while (nextBody == null && i < n) {
          i = html.indexOf('<', i)
          if (i < 0) { i = n; return }
          val start = i + 1
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else if (excludedOpenAt(start).isDefined) {
            // skip the raw-text element: find the tag's '>' (quote-
            // aware, mirroring the extractor), then jump past its
            // close tag unless it is self-closed
            val tag = excludedOpenAt(start).get
            var quote: Char = 0
            var k = start + tag.length
            var end = -1
            while (k < n && end < 0) {
              val ch = html.charAt(k)
              if (quote != 0) { if (ch == quote) quote = 0 }
              else if (ch == '"' || ch == '\'') quote = ch
              else if (ch == '>') end = k
              k += 1
            }
            if (end < 0) { i = n; return }
            val selfClosed = html.charAt(end - 1) == '/'
            i = if (selfClosed) end + 1
                else indexPastCloseTag(html, end + 1, tag)
          } else {
            var matched: String = null
            var m = 0
            while (matched == null && m < names.length) {
              val name = names(m)
              if (html.regionMatches(true, start, name, 0, name.length) &&
                start + name.length < n && {
                  val c = html.charAt(start + name.length)
                  isAsciiWs(c) || c == '>' || c == '/'
                }) matched = name
              m += 1
            }
            if (matched != null) {
              var quote: Char = 0
              var k = start + matched.length
              var end = -1
              while (k < n && end < 0) {
                val ch = html.charAt(k)
                if (quote != 0) { if (ch == quote) quote = 0 }
                else if (ch == '"' || ch == '\'') quote = ch
                else if (ch == '>') end = k
                k += 1
              }
              if (end < 0) { i = n; return }
              nextBody = (matched, html.substring(start + matched.length, end),
                end + 1)
              i = end + 1
            } else i += 1
          }
        }
      }
      advance()
      override def hasNext: Boolean = nextBody != null
      override def next(): (String, String, Int) = { val b = nextBody; advance(); b }
    }

  /** Fused single-pass extraction of BOTH head signals the canonical
    * collapse consumes — `(noindex, canonicalHref)` — one scanner walk
    * instead of one for `<meta>` plus one for `<link>`. At crawl scale
    * the HTML column IS the cost, so halving the per-page scanner work
    * matters. Semantics are pinned equal to the two-pass form
    * (`metaRobots(h).contains("noindex")`, [[canonicalUrl]]): noindex
    * from ANY robots meta tag; canonical = FIRST declared href; the
    * scan stops early once noindex is seen (the page is dropped
    * regardless of its canonical). */
  def headSignals(html: String): (Boolean, Option[String]) = {
    if (html == null) return (false, None)
    var noindex = false
    var canonical: Option[String] = None
    val it = tagBodiesMulti(html, HeadSignalTags)
    while (!noindex && it.hasNext) {
      val (tag, body, _) = it.next()
      if (tag == "meta") {
        val a = parseAttrs(body)
        if (a.get("name").exists(_.equalsIgnoreCase("robots")) &&
          a.getOrElse("content", "").toLowerCase
            .split("[,\\s]+").exists(_ == "noindex")) noindex = true
      } else if (canonical.isEmpty) {
        val a = parseAttrs(body)
        if (a.get("rel").exists(_.equalsIgnoreCase("canonical")) &&
          a.get("href").exists(_.nonEmpty)) canonical = Some(a("href"))
      }
    }
    (noindex, canonical)
  }

  private val HeadSignalTags = Array("meta", "link")

  /** Parse a tag's attribute body into lowercase-name → value pairs
    * (quoted or bare values; valueless attributes map to ""). */
  private[sources] def parseAttrs(body: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    val n = body.length
    while (i < n) {
      while (i < n && (isAsciiWs(body.charAt(i)) || body.charAt(i) == '/')) i += 1
      val nameStart = i
      while (i < n && !isAsciiWs(body.charAt(i)) && body.charAt(i) != '=' &&
        body.charAt(i) != '/' && body.charAt(i) != '>') i += 1
      if (i > nameStart) {
        val name = body.substring(nameStart, i).toLowerCase
        while (i < n && isAsciiWs(body.charAt(i))) i += 1
        if (i < n && body.charAt(i) == '=') {
          i += 1
          while (i < n && isAsciiWs(body.charAt(i))) i += 1
          if (i < n && (body.charAt(i) == '"' || body.charAt(i) == '\'')) {
            val q = body.charAt(i); i += 1
            val vs = i
            while (i < n && body.charAt(i) != q) i += 1
            out += name -> body.substring(vs, i)
            if (i < n) i += 1
          } else {
            val vs = i
            while (i < n && !isAsciiWs(body.charAt(i))) i += 1
            out += name -> body.substring(vs, i)
          }
        } else out += name -> ""
      } else if (i < n) i += 1 // empty name ('=' or '>' soup): skip the
        // char or the scan never advances — malformed markup must not
        // stall the crawler (found by the headSignals parity fuzz)
    }
    out.result()
  }

  /** `<link rel="canonical" href=…>` — the URL-level dedup signal a
    * crawl pipeline keys on (the same page crawled at many URLs
    * declares ONE canonical). Attribute order-insensitive; first
    * declaration wins (the WHATWG rule for duplicated signals). */
  def canonicalUrl(html: String): Option[String] = {
    if (html == null) return None
    tagBodies(html, "link").map(parseAttrs)
      .collectFirst {
        case a if a.get("rel").exists(_.equalsIgnoreCase("canonical")) &&
          a.get("href").exists(_.nonEmpty) => a("href")
      }
  }

  /** Outgoing hyperlinks — every `<a href=…>` in document order, raw
    * (unresolved) href values. The link-graph half of the crawl loop:
    * `graft.operators.LinkGraph.extractLinks` resolves these against
    * the page URL and normalizes them into frontier keys. Rides the same
    * scanner as the head signals, so links inside comments or
    * script/style raw text are never emitted (a scripted
    * `document.write('<a href=…>')` is not a crawlable edge). Anchors
    * whose `rel` carries the `nofollow` token (whitespace-split,
    * case-insensitive — `rel="nofollow noopener"` counts) are dropped,
    * the link-graph convention since the tag was introduced. Empty
    * hrefs and valueless `href` drop; duplicates are KEPT
    * (multiplicity is the caller's call — a frontier dedups on the
    * normalized key, an anchor-stats consumer wants the raw count).
    * Null HTML yields no links, never throws. */
  def links(html: String): Seq[String] = {
    if (html == null) return Seq.empty
    val out = Seq.newBuilder[String]
    val it = tagBodiesMulti(html, AnchorTags)
    while (it.hasNext) {
      val a = parseAttrs(it.next()._2)
      val href = a.getOrElse("href", "")
      if (href.nonEmpty && !nofollow(a)) out += href
    }
    out.result()
  }

  private val AnchorTags = Array("a")

  private def nofollow(attrs: Map[String, String]): Boolean =
    attrs.get("rel").exists(_.toLowerCase.split("\\s+").contains("nofollow"))

  /** Anchors WITH their link text — the inbound-anchor retrieval
    * signal (a target page is described by what other pages call it;
    * anchor text has fed web ranking since the earliest engines).
    * Per `<a href=…>`: the raw href plus the element's inner content
    * run through [[extractText]] (tags stripped, entities decoded,
    * whitespace normalized — an `<img>`-only anchor yields ""). The
    * inner span ends at the first `</a>` close tag; anchors don't
    * nest in valid HTML, and an unclosed anchor takes the rest of the
    * document (never throws). Same scanner as [[links]] — comment and
    * script/style-hidden anchors are never emitted — and the same
    * nofollow/empty-href rules. */
  def anchors(html: String): Seq[(String, String)] = {
    if (html == null) return Seq.empty
    val out = Seq.newBuilder[(String, String)]
    val it = tagBodiesMulti(html, AnchorTags)
    while (it.hasNext) {
      val (_, body, innerStart) = it.next()
      val a = parseAttrs(body)
      val href = a.getOrElse("href", "")
      if (href.nonEmpty && !nofollow(a)) {
        val close = indexOfCloseTagMarkup(html, innerStart, "a")
        out += href -> extractText(html.substring(innerStart, close))
      }
    }
    out.result()
  }

  /** [[indexOfCloseTag]] for spans of regular MARKUP (the anchor inner
    * content): a close tag inside an HTML comment is not a close tag,
    * and neither is one inside a quoted attribute value of a nested
    * tag — `<a>see <!-- </a> --> this</a>` must not truncate at the
    * commented-out close. The raw-text variant ([[indexOfCloseTag]],
    * serving script/style skipping) deliberately stays comment-BLIND:
    * a JS string containing `<!--` must not swallow the real
    * `</script>`. */
  private def indexOfCloseTagMarkup(s: String, from: Int, name: String): Int = {
    val n = s.length
    var i = from
    while (i < n) {
      i = s.indexOf('<', i)
      if (i < 0) return n
      if (s.startsWith("<!--", i)) {
        val e = s.indexOf("-->", i + 4)
        if (e < 0) return n
        i = e + 3
      } else if (i + 1 < n && s.charAt(i + 1) == '/' &&
        s.regionMatches(true, i + 2, name, 0, name.length) && {
          val after = i + 2 + name.length
          after >= n || {
            val c = s.charAt(after)
            c == '>' || isAsciiWs(c) || c == '/'
          }
        }) {
        return i
      } else if (i + 1 < n && (s.charAt(i + 1).isLetter ||
        s.charAt(i + 1) == '/' || s.charAt(i + 1) == '!' ||
        s.charAt(i + 1) == '?')) {
        // some other tag: skip its body quote-aware so a '</a>' inside
        // a quoted attribute value never truncates the span
        var quote: Char = 0
        var k = i + 1
        var end = -1
        while (k < n && end < 0) {
          val ch = s.charAt(k)
          if (quote != 0) { if (ch == quote) quote = 0 }
          else if (ch == '"' || ch == '\'') quote = ch
          else if (ch == '>') end = k
          k += 1
        }
        if (end < 0) return n
        i = end + 1
      } else i += 1
    }
    n
  }

  /** Start index of the first `</name…>` close tag at or after `from`
    * (name-boundary checked, case-insensitive), or `s.length` when the
    * element is never closed. */
  private def indexOfCloseTag(s: String, from: Int, name: String): Int = {
    val n = s.length
    var i = from
    while (i < n) {
      i = s.indexOf('<', i)
      if (i < 0) return n
      if (i + 1 < n && s.charAt(i + 1) == '/' &&
        s.regionMatches(true, i + 2, name, 0, name.length)) {
        val after = i + 2 + name.length
        if (after >= n) return i
        val c = s.charAt(after)
        if (c == '>' || isAsciiWs(c) || c == '/') return i
      }
      i += 1
    }
    n
  }

  /** Directives of `<meta name="robots" content="…">` (lowercased,
    * split on commas/whitespace) — `noindex` is the page-level drop
    * signal a training-data crawl must honor. Empty set when absent. */
  def metaRobots(html: String): Set[String] = {
    if (html == null) return Set.empty
    tagBodies(html, "meta").map(parseAttrs)
      .filter(_.get("name").exists(_.equalsIgnoreCase("robots")))
      .flatMap(_.getOrElse("content", "")
        .toLowerCase.split("[,\\s]+").iterator.filter(_.nonEmpty))
      .toSet
  }

  /** Charset of an HTML payload, by precedence: byte-order mark →
    * `charset=` in the transport Content-Type → `<meta charset=…>` /
    * `<meta http-equiv="Content-Type" content="…charset=…">` in the
    * first `metaScanBytes` bytes (ASCII-scanned, the WHATWG prescan) →
    * UTF-8. Unknown/unsupported names fall through to the next rule. */
  def sniffCharset(bytes: Array[Byte], contentType: Option[String],
                   metaScanBytes: Int = 2048,
                   htmlPrescan: Boolean = true): Charset = {
    def lookup(name: String): Option[Charset] =
      try { val t = name.trim.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("'").stripSuffix("'")
        if (t.nonEmpty && Charset.isSupported(t)) Some(Charset.forName(t))
        else None
      } catch { case _: Exception => None }
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
      (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      return StandardCharsets.UTF_8
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      return StandardCharsets.UTF_16LE
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      return StandardCharsets.UTF_16BE
    val fromHeader = contentType.flatMap(charsetParam).flatMap(lookup)
    if (fromHeader.isDefined) return fromHeader.get
    if (!htmlPrescan) return StandardCharsets.UTF_8
    // ASCII prescan of the head for a META declaration — scoped to
    // the inside of a <meta …> tag (the WHATWG prescan rule): a
    // 'charset=' in an href/body text must not hijack the decode
    val head = new String(bytes, 0, math.min(bytes.length, metaScanBytes),
      StandardCharsets.ISO_8859_1).toLowerCase
    val meta = MetaCharset.findFirstMatchIn(head)
      .map(_.group(1)).flatMap(lookup)
    meta.getOrElse(StandardCharsets.UTF_8)
  }

  private val MetaCharset =
    """<meta[^>]{0,512}?charset\s*=\s*["']?\s*([a-z0-9_\-]+)""".r

  /** The `charset` parameter of a Content-Type value, if present. */
  def charsetParam(contentType: String): Option[String] = {
    val lower = contentType.toLowerCase
    val i = lower.indexOf("charset=")
    if (i < 0) None
    else {
      val rest = contentType.substring(i + "charset=".length)
      val end = rest.indexWhere(c => c == ';' || c == ' ' || c == '\t')
      Some(if (end < 0) rest else rest.substring(0, end))
    }
  }

  /** Decode payload bytes with the sniffed charset (malformed input
    * replaced, never thrown). `htmlPrescan = false` for non-HTML
    * payloads (WET / text/plain) — their body text mentioning
    * 'charset=' is content, not a declaration. */
  def decode(bytes: Array[Byte], contentType: Option[String],
             htmlPrescan: Boolean = true): String = {
    val cs = sniffCharset(bytes, contentType, htmlPrescan = htmlPrescan)
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    // strip ONLY a BOM that is actually present (a header-declared
    // UTF-16 page without a BOM must keep its first character)
    val skip =
      if (cs == StandardCharsets.UTF_8 && bytes.length >= 3 &&
        (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb &&
        (bytes(2) & 0xff) == 0xbf) 3
      else if (cs == StandardCharsets.UTF_16LE && bytes.length >= 2 &&
        (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe) 2
      else if (cs == StandardCharsets.UTF_16BE && bytes.length >= 2 &&
        (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) 2
      else 0
    dec.decode(java.nio.ByteBuffer.wrap(bytes, skip, bytes.length - skip))
      .toString
  }
}
