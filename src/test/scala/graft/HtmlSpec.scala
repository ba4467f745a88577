package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Html

class HtmlSpec extends AnyFunSuite with SharedSpark {

  private val fixture = s"${graft.sources.Tables.fixtureDir}/html_docs.parquet"

  private def extractOne(html: String): String = {
    import spark.implicits._
    Seq((1L, html)).toDF("doc_id", "html")
      .select(Html.stripHtml(col("html")).as("t")).head().getString(0)
  }

  test("stripHtml removes invisibles, decodes entities, keeps a bare '<' in prose") {
    // tag-looking text INSIDE a script string must vanish with the script
    assert(extractOne("""<script>var x = "<p>no</p>";</script><p>real text</p>""")
      == "real text")
    assert(extractOne("<style>a { color: red; } /* b > c */</style>hello") == "hello")
    assert(extractOne("<!-- multi\nline -->kept") == "kept")
    // entity decode, amp LAST: &amp;lt; is the LITERAL string '&lt;'
    assert(extractOne("a &amp; b &lt;tag&gt; &quot;q&quot; &amp;lt;") ==
      "a & b <tag> \"q\" &lt;")
    // bare '<' followed by non-letter is text, not a tag
    assert(extractOne("<p>3 < 5 of the budget</p>") == "3 < 5 of the budget")
    // <!DOCTYPE ...> is stripped; uppercase and unquoted-attr tags too
    assert(extractOne("<!DOCTYPE html><P CLASS=x>up</P>") == "up")
  }

  test("blocks classify link-dense boilerplate vs content; unclosed tags still split") {
    import spark.implicits._
    val html =
      """<nav><ul><li><a href="/a">first link here</a></li><li><a href="/b">second link here</a></li></ul></nav>
        |<p>this is a long enough content paragraph about the corpus with an inline
        |<a href="/ref">short note</a> in it</p><p>unclosed final paragraph of the corpus here""".stripMargin
    val blk = Html.blocks(Seq((1L, html)).toDF("doc_id", "html"))
      .orderBy("pos").collect()
    // nav items split into their own blocks (li boundaries), all link-dense
    assert(blk.exists(r => r.getAs[String]("text") == "first link here" &&
      !r.getAs[Boolean]("is_content")))
    val content = blk.filter(_.getAs[Boolean]("is_content")).map(_.getAs[String]("text"))
    assert(content.length == 2)
    assert(content(1) == "unclosed final paragraph of the corpus here")
    // the inline link contributes link chars but stays under 30%
    val inline = blk.find(_.getAs[String]("text").startsWith("this is a long")).get
    assert(inline.getAs[Long]("link_chars") == "short note".length.toLong)
  }

  test("tag-name boundary: <pre>/<picture>/<link> are NOT block splits, <p class=..> is") {
    import spark.implicits._
    // a paragraph interrupted by <picture> must stay ONE block — a
    // prefix-match split would shatter it below minBlockChars and drop
    // real content silently
    val html = "<p>first half of a long enough content sentence " +
      "<picture>x</picture> second half keeps it together</p>" +
      "<P CLASS=\"x\">attributes and case still split into a second block here</P>"
    val blk = Html.blocks(Seq((1L, html)).toDF("doc_id", "html"))
      .filter(col("text") =!= "").orderBy("pos").collect()
    assert(blk.length == 2, blk.map(_.getAs[String]("text")).mkString(" | "))
    assert(blk(0).getAs[String]("text") ==
      "first half of a long enough content sentence x second half keeps it together")
    assert(blk(1).getAs[String]("text").startsWith("attributes and case"))
    // <link> (prefix of li) and <br/> (self-closed boundary) behave
    val h2 = "<head><link rel=stylesheet href=x></head>" +
      "<p>line one of the paragraph<br/>line two of the paragraph</p>"
    val b2 = Html.blocks(Seq((1L, h2)).toDF("doc_id", "html"))
      .orderBy("pos").collect().map(_.getAs[String]("text"))
    assert(b2.toSeq == Seq("line one of the paragraph", "line two of the paragraph"))
  }

  test("mainContent on the fixture: link farms extract empty, duplicates extraction-keyed") {
    val main = Html.mainContent(Html.readHtmlDocs(spark, fixture))
      .select("doc_id", "main_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(main.size == 330)
    // link-farm pages (280-299): nothing qualifies, empty string not null
    (280L to 299L).foreach(d => assert(main(d) == "", s"doc $d"))
    // rows 200-219 replicate their base's EXTRACTED text exactly even
    // though the raw bytes (nav, hrefs, noise) differ
    (0L to 19L).foreach(d => assert(main(d + 200) == main(d), s"doc ${d + 200}"))
    // near-dup rows differ from base in exactly one word
    val base = main(0L).split(' '); val near = main(220L).split(' ')
    assert(base.length == near.length)
    assert(base.zip(near).count { case (a, b) => a != b } == 1)
    // normal pages carry real prose
    assert(main(5L).contains("the p5 of") && main(5L).length > 100)
  }

  test("extraction is a narrow per-row projection: no shuffle before the id rollup") {
    val plan = Html.blocks(Html.readHtmlDocs(spark, fixture))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in the per-block path:\n$plan")
    // and mainContent adds exactly the one keyed aggregation
    val mplan = Html.mainContent(Html.readHtmlDocs(spark, fixture))
      .queryExecution.executedPlan.toString
    assert(mplan.contains("Exchange"))
  }

  test("linkEdges: quoted/unquoted hrefs resolve; hostless srcs never emit bare paths") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.com/p", """x <a href="/q">q</a> y <a href=/r>r</a> <a href="https://b.com/z">z</a> <a href="#frag">f</a>"""),
      ("not-a-url", """<a href="/leak">must not resolve</a> <a href="https://c.com/ok">abs ok</a>"""))
      .toDF("url", "html")
    val edges = Html.linkEdges(pages).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(
      ("https://a.com/p", "https://a.com/q"),
      ("https://a.com/p", "https://a.com/r"),
      ("https://a.com/p", "https://b.com/z"),
      ("not-a-url", "https://c.com/ok")),
      s"got $edges")
  }

  test("linkEdgesRel: per-anchor rel=nofollow, bool_and merge, page-level fold (r16 verdict #3)") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.com/p",
        """<a href="/f">f</a> <a href="/n" rel="nofollow"></a> """ +
          """<a href="/both" rel="nofollow">x</a> <a href="/both">y</a> """ +
          """<a href="/ugc" rel="ugc nofollow">u</a>""", false),
      // page-level nofollow (meta robots / X-Robots-Tag — the caller's
      // column) flags every edge of the page
      ("https://a.com/q", """<a href="/qq">qq</a>""", true))
      .toDF("url", "html", "pnf")
    val edges = Html.linkEdgesRel(pages, pageNofollow = col("pnf"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(edges == Set(
      ("https://a.com/p", "https://a.com/f", 1L, false),
      ("https://a.com/p", "https://a.com/n", 1L, true),
      // one follow-able occurrence makes the EDGE follow-able (bool_and)
      ("https://a.com/p", "https://a.com/both", 2L, false),
      // nofollow inside a rel token list still counts
      ("https://a.com/p", "https://a.com/ugc", 1L, true),
      ("https://a.com/q", "https://a.com/qq", 1L, true)),
      s"got $edges")
  }

  test("metaRobots / canonicalHref head-directive extraction, quoted and bare") {
    import spark.implicits._
    val rows = Seq(
      ("""<head><meta name="robots" content="noindex, nofollow"></head>""",
        "noindex, nofollow", ""),
      ("""<head><META name=robots content=noindex></head>""", "noindex", ""),
      ("""<head><meta name="viewport" content="width=1"></head>""", "", ""),
      ("""<head><link rel="canonical" href="https://c.com/x"></head>""",
        "", "https://c.com/x"),
      ("""<head><link rel=canonical href=/y></head>""", "", "/y"),
      ("""<head><link rel="stylesheet" href="/s.css"></head>""", "", ""))
      .toDF("html", "wantMeta", "wantCanon")
    rows.select(Html.metaRobots(col("html")).as("m"),
        Html.canonicalHref(col("html")).as("c"),
        col("wantMeta"), col("wantCanon"))
      .collect().foreach { r =>
        assert(r.getString(0) == r.getString(2), s"metaRobots: $r")
        assert(r.getString(1) == r.getString(3), s"canonicalHref: $r")
      }
  }

  test("resolveHref: every RFC 3986 subset branch, hand-pinned") {
    import spark.implicits._
    // (src, href, expected-dst-or-null) — expectations computed BY HAND
    val cases = Seq(
      // absolute kept verbatim
      ("https://a.com/d/p.html", "https://b.com/x", "https://b.com/x"),
      // protocol-relative gets the BASE scheme — and is NOT treated as
      // path-absolute (the r14-advice regression: //cdn.a.com/x must
      // never resolve to https://a.com//cdn.a.com/x)
      ("https://a.com/d/p.html", "//cdn.a.com/x", "https://cdn.a.com/x"),
      ("http://a.com/d/p.html", "//cdn.a.com/x", "http://cdn.a.com/x"),
      // degenerate protocol-relative forms carry no authority: dropped,
      // never mistaken for a path
      ("https://a.com/d/p.html", "//", null),
      ("https://a.com/d/p.html", "///x", null),
      // other schemes and fragment-only drop
      ("https://a.com/d/p.html", "mailto:x@a.com", null),
      ("https://a.com/d/p.html", "javascript:void(0)", null),
      ("https://a.com/d/p.html", "#top", null),
      // path-absolute, query-only
      ("https://a.com/d/p.html", "/root", "https://a.com/root"),
      ("https://a.com/d/p.html", "?q=2", "https://a.com/d/p.html?q=2"),
      // page-relative merge against the base DIRECTORY
      ("https://a.com/d/p.html", "n.html", "https://a.com/d/n.html"),
      ("https://a.com/d/p.html", "./n.html", "https://a.com/d/n.html"),
      ("https://a.com/d/p.html", "../up.html", "https://a.com/up.html"),
      ("https://a.com/d/", "img/x.png", "https://a.com/d/img/x.png"),
      ("https://a.com", "rel.html", "https://a.com/rel.html"),
      // nested + excess dots: depth-4 bound and root clamp
      ("https://f.com/d1/d2/d3/d4/f.html", "../../../../r.html", "https://f.com/r.html"),
      ("https://a.com/d/p.html", "a/b/../c.html", "https://a.com/d/a/c.html"),
      ("https://a.com/d/p.html", "../../../e.html", "https://a.com/e.html"),
      // unrecognizable base: only absolutes survive
      ("HTTP://d.com/x", "/drop", null),
      ("HTTP://d.com/x", "rel.html", null),
      // base query is excluded from the merge directory
      ("https://e.com/a?q=1", "b.html", "https://e.com/b.html"),
      // embedded-url hrefs (r15 advice): '://' INSIDE the href must not
      // bypass resolution — the absolute branch is anchored ^https?://
      ("https://g.com/out/p.html", "/redirect?u=https://partner.com",
        "https://g.com/redirect?u=https://partner.com"),
      ("https://g.com/out/p.html", "go?next=http://x.org/a",
        "https://g.com/out/go?next=http://x.org/a"),
      ("https://g.com/out/p.html", "javascript://alert(1)", null),
      // uppercase/mixed-case schemes are real links (RFC 3986 scheme
      // case-insensitivity — r16 advice): kept VERBATIM; downstream
      // canonicalization lowercases scheme+host
      ("https://g.com/out/p.html", "HTTPS://upper.com/x", "HTTPS://upper.com/x"),
      ("https://g.com/out/p.html", "Http://Mixed.com/y", "Http://Mixed.com/y"))
    val got = cases.toDF("src", "href", "want")
      .withColumn("got", Html.resolveHref(col("src"), col("href")))
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("got") == r.getAs[String]("want"),
        s"${r.getAs[String]("src")} + ${r.getAs[String]("href")}: " +
          s"got ${r.getAs[String]("got")}, want ${r.getAs[String]("want")}")
    }
  }
}
