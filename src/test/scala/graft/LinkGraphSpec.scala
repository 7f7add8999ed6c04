package graft

import graft.operators.LinkGraph
import graft.sources.HtmlText

class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  // ---- HtmlText.links (the scanner layer) ----

  test("links: document order, comment/script-hidden anchors never " +
    "emitted, empty/valueless hrefs drop, duplicates kept") {
    val html =
      """<a href="/a">x</a><p><a href = 'b/c'>y</a></p>
        |<!-- <a href="/ghost"> -->
        |<script>document.write('<a href="/js">')</script>
        |<a href="">e</a><a href>v</a><a name="n">no-href</a>
        |<A HREF="/a">dup</A><abbr href="/not-an-anchor"></abbr>""".stripMargin
    assert(HtmlText.links(html) === Seq("/a", "b/c", "/a"))
  }

  test("links: rel=nofollow dropped, token-split and case-insensitive; " +
    "null html empty") {
    val html =
      """<a rel="nofollow" href="/n1"></a>
        |<a rel="NoFollow noopener" href="/n2"></a>
        |<a rel="noopener" href="/keep"></a><a href="/plain"></a>""".stripMargin
    assert(HtmlText.links(html) === Seq("/keep", "/plain"))
    assert(HtmlText.links(null) === Seq.empty)
  }

  // ---- anchors (href + link text) ----

  test("anchors: inner text extracted (tags stripped, entities " +
    "decoded, ws normalized), img-only anchor yields empty text, " +
    "case-insensitive close, unclosed anchor takes the rest") {
    val html =
      """<a href="/a"> Doc &amp; <b>co</b> </a>
        |<a href="/b"><img src="x"></a>
        |<a href="/c">upper close</A><p>after</p>
        |<a rel="nofollow" href="/d">nf</a>
        |<a href="/e">unclosed <i>tail""".stripMargin
    // the rel=nofollow anchor /d is dropped
    assert(HtmlText.anchors(html) === Seq(
      "/a" -> "Doc & co",
      "/b" -> "",
      "/c" -> "upper close",
      "/e" -> "unclosed tail"))
    assert(HtmlText.anchors(null) === Seq.empty)
  }

  test("anchors: a close tag hidden in a comment or a quoted attribute" +
    " of the inner content does not truncate the span") {
    assert(HtmlText.anchors("<a href=\"/x\">see <!-- </a> --> this</a>")
      === Seq("/x" -> "see this"))
    assert(HtmlText.anchors("<a href=\"/x\"><img alt=\"</a>\">real</a>")
      === Seq("/x" -> "real"))
    // unterminated comment / unterminated inner tag: never throws,
    // the span runs to the end like an unclosed anchor
    assert(HtmlText.anchors("<a href=\"/x\">tail <!-- </a>")
      === Seq("/x" -> "tail"))
    assert(HtmlText.anchors("<a href=\"/x\">t <img src=\"y")
      === Seq("/x" -> "t"))
  }

  test("anchorStats: per-target counts and representatives; empty-text," +
    " nofollow, self and comment-hidden anchors never counted") {
    val pages = Seq(
      ("https://p1.org/x",
        """<a href="https://t.org/page">alpha</a>
          |<a href="https://t.org/page"><b>shared</b> ref</a>
          |<a href="https://t.org/page"><img src="i"></a>
          |<a rel="nofollow" href="https://t.org/page">spam</a>
          |<a href="#top">self</a>
          |<!-- <a href="https://ghost.org/">ghost</a> -->""".stripMargin),
      ("https://p2.org/y",
        "<a href=\"https://t.org/page\">shared ref</a>" +
          "<a href=\"https://solo.org/\">only</a>")
    ).toDF("url", "html")
    val out = LinkGraph.anchorStats(pages)
      .as[(String, Long, Long, String, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      ("https://solo.org/", 1L, 1L, "only", "only"),
      // 3 inbound anchors, 2 distinct texts ("shared ref" collides)
      ("https://t.org/page", 3L, 2L, "alpha", "shared ref")))
  }

  // ---- extractLinks (resolution + frontier-key layer) ----

  test("extractLinks: resolve + normalize, http(s) only, per-page " +
    "dedup, self-links and null-url pages drop, zero shuffle") {
    val pages = Seq(
      ("https://Ex.org:443/dir/page",
        """<a href="/abs">a</a><a href="rel">r</a>
          |<a href="//other.org/p">o</a>
          |<a href="https://ext.com/x?q=1#f">q</a>
          |<a href="../up">u</a><a href="#frag">self</a>
          |<a href="mailto:x@y.z">m</a><a href="javascript:void(0)">j</a>
          |<a rel="nofollow" href="/spam">n</a>
          |<a href="/abs#sec">dup-after-normalize</a>""".stripMargin),
      ("https://empty.org/", "<p>no links</p>"),
      (null.asInstanceOf[String], "<a href=\"/never\">x</a>")
    ).toDF("url", "html")
    val out = LinkGraph.extractLinks(pages)
    val links = out.select($"link").as[String].collect().sorted
    assert(links.toSeq === Seq(
      "https://ex.org/abs",
      "https://ex.org/dir/rel",
      "https://ex.org/up",
      "https://ext.com/x?q=1",
      "https://other.org/p"))
    // no-link and null-url pages emit nothing
    assert(out.where($"url" === "https://empty.org/").count() === 0)
    // narrow projection: no exchange in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extractLinks must not shuffle:\n$plan")
  }

  // ---- hostGraph ----

  test("hostGraph: distinct host edges, self-loops and hostless rows drop") {
    val links = Seq(
      ("https://a.org/p1", "https://b.org/x"),
      ("https://a.org/p2", "https://b.org/y"), // same host edge → one row
      ("https://a.org/p1", "https://a.org/other"), // self-loop
      ("not a url", "https://b.org/z"),
      ("https://c.org/", "https://a.org/")
    ).toDF("url", "link")
    val edges = LinkGraph.hostGraph(links)
      .as[(String, String)].collect().sorted
    assert(edges.toSeq === Seq("a.org" -> "b.org", "c.org" -> "a.org"))
  }

  // ---- resolveRedirects (bounded-hop chain collapse) ----

  test("resolveRedirects: chains collapse to their terminal, " +
    "never-redirected urls settle at hops=0, loops come back " +
    "unresolved at the cap instead of hanging") {
    val redirects = Seq(
      ("a", "b"), ("b", "c"), // a → b → c, c terminal
      ("x", "y"), ("y", "x")  // 2-loop
    ).toDF("src", "dst")
    // the null URL must drop (crawl-loop hygiene), not ride through
    // as a "resolved" null
    val urls = Seq("a", "b", "c", "x", "plain", null.asInstanceOf[String])
      .toDF("url")
    val out = LinkGraph.resolveRedirects(urls, redirects, maxHops = 4)
      .select($"url", $"final_url", $"hops", $"resolved")
      .as[(String, String, Int, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      ("a", "c", 2, true),
      ("b", "c", 1, true),
      ("c", "c", 0, true),
      ("plain", "plain", 0, true),
      // 4 hops around the 2-loop lands back on x, unresolved
      ("x", "x", 4, false)))
  }

  test("resolveRedirects: chain of exactly maxHops settles AT the cap," +
    " one hop longer reports unresolved where it stopped") {
    val chain = (0 until 5).map(i => (s"u$i", s"u${i + 1}")).toDF("src", "dst")
    val out = LinkGraph.resolveRedirects(
      Seq("u0", "u1").toDF("url"), chain, maxHops = 4)
      .select($"url", $"final_url", $"hops", $"resolved")
      .as[(String, String, Int, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      // u0's chain has 5 hops: stops at u4, which still redirects
      ("u0", "u4", 4, false),
      // u1's remaining chain is exactly 4 hops: settles at the cap
      ("u1", "u5", 4, true)))
  }

  test("resolveRedirects: duplicate sources reduce to the MIN target " +
    "deterministically; guards refuse maxHops < 1") {
    val redirects = Seq(("a", "z"), ("a", "b")).toDF("src", "dst")
    val out = LinkGraph.resolveRedirects(
      Seq("a").toDF("url"), redirects, maxHops = 2)
      .select($"final_url", $"hops").as[(String, Int)].collect()
    assert(out.toSeq === Seq(("b", 1)))
    intercept[IllegalArgumentException] {
      LinkGraph.resolveRedirects(Seq("a").toDF("url"), redirects, maxHops = 0)
    }
  }

  // ---- pageRank (deterministic fixed-point) ----

  test("pageRank: hand-computed two-iteration fixed point, " +
    "never-crawled dst is a node, dangling node keeps teleport only") {
    // a → b, a → c, b → c ; c dangling; d isolated-source edge d → a
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "a"))
      .toDF("src", "dst")
    val r1 = LinkGraph.pageRank(edges, iterations = 1)
      .as[(String, Long)].collect().toMap
    // iter 1 from all-1e6: contrib a→{b,c}: 1e6 div 2 = 500000;
    // b→c: 1e6; d→a: 1e6
    // a: 150000 + 85*1000000 div 100 = 1000000
    // b: 150000 + 85*500000 div 100 = 575000
    // c: 150000 + 85*1500000 div 100 = 1425000
    // d: teleport only = 150000
    assert(r1 === Map("a" -> 1000000L, "b" -> 575000L,
      "c" -> 1425000L, "d" -> 150000L))
    val r2 = LinkGraph.pageRank(edges, iterations = 2)
      .as[(String, Long)].collect().toMap
    // iter 2: contrib a→{b,c}: 1000000 div 2 = 500000; b→c: 575000;
    // d→a: 150000
    // a: 150000 + 85*150000 div 100 = 277500
    // b: 150000 + 85*500000 div 100 = 575000
    // c: 150000 + (85*1075000) div 100 = 150000 + 913750 = 1063750
    // d: 150000
    assert(r2 === Map("a" -> 277500L, "b" -> 575000L,
      "c" -> 1063750L, "d" -> 150000L))
  }

  test("pageRank: duplicate edges collapse, iterations=0 is the init, " +
    "guards refuse bad parameters") {
    val edges = Seq(("a", "b"), ("a", "b")).toDF("src", "dst")
    val r0 = LinkGraph.pageRank(edges, iterations = 0)
      .as[(String, Long)].collect().toMap
    assert(r0 === Map("a" -> 1000000L, "b" -> 1000000L))
    // duplicate a→b is ONE edge: a's degree is 1, b absorbs a full rank
    val r1 = LinkGraph.pageRank(edges, iterations = 1)
      .as[(String, Long)].collect().toMap
    assert(r1("b") === 150000L + 85L * 1000000L / 100L)
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(edges, iterations = -1)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(edges, dampNum = 101L)
    }
  }

  test("pageRank: rank mass is order-independent — repartitioned input " +
    "yields bit-identical ranks") {
    val edges = (0L until 400L)
      .map(i => (s"h${i % 40}", s"h${(i * 7 + 3) % 40}"))
      .toDF("src", "dst")
    val a = LinkGraph.pageRank(edges, iterations = 3)
      .as[(String, Long)].collect().sorted.toSeq
    val b = LinkGraph.pageRank(edges.repartition(13), iterations = 3)
      .as[(String, Long)].collect().sorted.toSeq
    assert(a === b)
  }
}
