package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Robots

class RobotsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val fixture = s"${graft.sources.Tables.fixtureDir}/robots.parquet"

  test("fixture parse recovers the stored expected rules exactly, per site") {
    val got = Robots.rules(Robots.readRobots(spark, fixture), "graftbot")
      .collect().groupBy(_.site)
      .map { case (s, rs) =>
        s -> rs.sortBy(_.rule_idx).map(r => (r.allow, r.path)).toSeq
      }
    assert(got("www.example.com") ==
      Seq((false, "/a/2"), (true, "/a/25"), (false, "/a/7"),
        (false, "/a/*0$"), (true, "/a/1*")))
    assert(got("api.news.example.co.uk") ==
      Seq((false, "/a/3"), (true, "/a/33")))
    assert(got("cdn.files.sample.org") == Seq((false, "/")))
    assert(got("unvisited.example.net") ==
      Seq((false, "/private"), (true, "/private/ok")))
    assert(got("example.com") ==
      Seq((false, "/doc7"), (true, "/doc75"), (false, "/doc*9$")))
  }

  test("RFC 9309 §2.2.3 pattern matching: *, trailing $, literal metachars") {
    import Robots.matchesPattern
    // plain prefix unchanged
    assert(matchesPattern("/a/25/x", "/a/2"))
    assert(!matchesPattern("/b", "/a"))
    // * matches any sequence (including empty)
    assert(matchesPattern("/a/10", "/a/*0"))
    assert(matchesPattern("/a/0", "/a/*0"))
    assert(matchesPattern("/fish/salmon.html", "/fish*"))
    assert(matchesPattern("/x/deep/file.pdf", "/*.pdf"))
    // trailing $ anchors the END of the path
    assert(matchesPattern("/a/10", "/a/*0$"))
    assert(!matchesPattern("/a/10/x", "/a/*0$"))
    assert(matchesPattern("/p.php", "/p.php$"))
    assert(!matchesPattern("/p.php?q=1", "/p.php$"))
    // non-trailing $ and regex metachars are LITERAL
    assert(matchesPattern("/a$b/c", "/a$b"))
    assert(!matchesPattern("/aXb/c", "/a$b"))
    assert(matchesPattern("/p.php", "/p.php"))
    assert(!matchesPattern("/pXphp", "/p.php")) // '.' is not a regex dot
    assert(matchesPattern("/q(1)[2]{3}|4+5?", "/q(1)[2]{3}|4+5?"))
    // backslash in a pattern is literal too
    assert(matchesPattern("/w\\in", "/w\\in"))
    assert(!matchesPattern("/win", "/w\\in"))
  }

  test("allowDecisions with wildcard rules: longest raw pattern wins across * and $") {
    val urls = Seq(
      (1L, "h", "/a/10"),   // Disallow /a/*0$ (7) beats Allow /a/1* (5): blocked
      (2L, "h", "/a/12"),   // only Allow /a/1* matches: allowed
      (3L, "h", "/a/250"),  // Allow /a/25 (5) vs Disallow /a/*0$ (7): blocked
      (4L, "h", "/a/25")    // Allow /a/25 (5) vs Disallow /a/2 (4): allowed
    ).toDF("doc_id", "host", "path")
    val rules = Seq(
      graft.operators.RobotsRule("h", 0, false, "/a/2"),
      graft.operators.RobotsRule("h", 1, true, "/a/25"),
      graft.operators.RobotsRule("h", 2, false, "/a/*0$"),
      graft.operators.RobotsRule("h", 3, true, "/a/1*")).toDS()
    val got = Robots.allowDecisions(urls, rules)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("allowed"), r.getAs[String]("matched_rule")))).toMap
    assert(got(1L) == ((false, "/a/*0$")))
    assert(got(2L) == ((true, "/a/1*")))
    assert(got(3L) == ((false, "/a/*0$")))
    assert(got(4L) == ((true, "/a/25")))
  }

  test("group semantics: specific agent overrides *, multi-UA groups, merged groups") {
    val txt =
      "User-agent: a\nUser-agent: b\nDisallow: /ab\n" +
        "User-agent: *\nDisallow: /star\n" +
        "User-agent: b\nAllow: /b2\n"
    // agent b: BOTH b-groups merge in file order; * ignored
    assert(Robots.effectiveRules(txt, "B") ==
      Seq((false, "/ab"), (true, "/b2")))
    // agent c: only the * group
    assert(Robots.effectiveRules(txt, "c") == Seq((false, "/star")))
    // no matching group at all: no rules
    assert(Robots.effectiveRules("User-agent: x\nDisallow: /x\n", "y").isEmpty)
  }

  test("edge lines: pre-group rules, comments, empty patterns, unknown keys, malformed") {
    val txt =
      "Disallow: /early\n" + // before any UA: dropped
        "User-agent: bot # trailing comment\n" +
        "# full comment line\n" +
        "Crawl-delay: 5\n" +
        "Disallow: /keep\n" +
        "Disallow:\n" + // empty: matches nothing
        "not a directive at all\n" +
        "Allow: /keep/sub\n"
    assert(Robots.effectiveRules(txt, "bot") ==
      Seq((false, "/keep"), (true, "/keep/sub")))
    // a UA line AFTER rules starts a NEW group
    val two = "User-agent: bot\nDisallow: /one\nUser-agent: bot\nDisallow: /two\n"
    assert(Robots.effectiveRules(two, "bot") ==
      Seq((false, "/one"), (false, "/two")))
  }

  test("RFC ignore-unrecognized: an unknown line between two UA lines does NOT split the group") {
    // RFC 9309: unrecognized lines are ignored entirely — 'a' and 'b'
    // remain ONE group and both own the rule; a parser that ends agent
    // collection on Crawl-delay would detach /private from agent a
    val txt = "User-agent: a\nCrawl-delay: 1\nUser-agent: b\nDisallow: /private\n"
    assert(Robots.effectiveRules(txt, "a") == Seq((false, "/private")))
    assert(Robots.effectiveRules(txt, "b") == Seq((false, "/private")))
    // same for a malformed (colon-less) line
    val txt2 = "User-agent: a\nnot a directive\nUser-agent: b\nAllow: /ok\n"
    assert(Robots.effectiveRules(txt2, "a") == Seq((true, "/ok")))
  }

  test("crawlDelays: group selection, max-merge, non-integer ignored (r14 verdict #8)") {
    import spark.implicits._
    val files = Seq(
      // specific group wins: * declares 9, graftbot declares 2
      ("a.com", "User-agent: *\nCrawl-delay: 9\nDisallow: /x\n" +
        "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /y\n"),
      // two chosen groups -> MAX merge
      ("b.com", "User-agent: graftbot\nCrawl-delay: 4\n\n" +
        "User-agent: graftbot\nCrawl-delay: 7\n"),
      // non-integer and negative are ignored; none left -> no row
      ("c.com", "User-agent: *\nCrawl-delay: fast\nCrawl-delay: -3\nDisallow: /z\n"),
      // no declaration at all
      ("d.com", "User-agent: *\nDisallow: /w\n"),
      // falls to the * group (no graftbot group)
      ("e.com", "User-agent: *\nCrawl-delay: 5\n"))
      .map { case (s, t) => graft.operators.RobotsFile(s, t) }.toDS()
    val got = Robots.crawlDelays(files, "graftbot").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a.com" -> 2, "b.com" -> 7, "e.com" -> 5), s"got $got")
    // the fixture's stored expectations round-trip
    val fx = Robots.crawlDelays(
      Robots.readRobots(spark, s"${graft.sources.Tables.fixtureDir}/robots.parquet"), "graftbot")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(fx == Map("www.example.com" -> 10, "example.com" -> 2,
      "api.news.example.co.uk" -> 3), s"got $fx")
  }

  test("allowDecisions: longest match wins, Allow breaks ties, default allow") {
    val urls = Seq(
      (1L, "h", "/a/25/x"), // disallow /a/2 vs allow /a/25: longer wins
      (2L, "h", "/a/29"),   // only /a/2 matches: blocked
      (3L, "h", "/free"),   // nothing matches: default allow
      (4L, "nowhere", "/a/2"), // host without rules: default allow
      (5L, "h", "/t")       // exact tie /t vs /t: Allow wins
    ).toDF("doc_id", "host", "path")
    val rules = Seq(
      graft.operators.RobotsRule("h", 0, false, "/a/2"),
      graft.operators.RobotsRule("h", 1, true, "/a/25"),
      graft.operators.RobotsRule("h", 2, false, "/t"),
      graft.operators.RobotsRule("h", 3, true, "/t")).toDS()
    val got = Robots.allowDecisions(urls, rules)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("allowed"), r.getAs[String]("matched_rule")))).toMap
    assert(got(1L) == ((true, "/a/25")))
    assert(got(2L) == ((false, "/a/2")))
    assert(got(3L) == ((true, "")))
    assert(got(4L) == ((true, "")))
    assert(got(5L) == ((true, "/t")))
  }

  test("sitemapUrls: global, case/whitespace/comment tolerant, file order (r16)") {
    val got = Robots.sitemapUrls(Robots.readRobots(spark, fixture))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(
      // pre-group UPPERCASE declaration with a trailing comment, then
      // the between-groups one — file order, group-independent
      ("www.example.com", 0L, "https://www.example.com/sitemap-index.xml.gz"),
      ("www.example.com", 1L, "https://www.example.com/news-sitemap.xml"),
      // indented lowercase key
      ("example.com", 0L, "http://example.com/s.xml"),
      // one BETWEEN two User-agent lines (must not split the group —
      // the rule-parse test above would fail if it did), one in-group
      ("api.news.example.co.uk", 0L,
        "https://api.news.example.co.uk/sitemap-news.xml"),
      ("api.news.example.co.uk", 1L,
        "https://api.news.example.co.uk/sitemap.xml")), s"got $got")
  }

  test("the decision join is host-equi + prefix filter, never urls × all-rules") {
    val urls = Seq((1L, "h", "/p")).toDF("doc_id", "host", "path")
    val rules = Seq(graft.operators.RobotsRule("h", 0, false, "/p")).toDS()
    val plan = Robots.allowDecisions(urls, rules)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }
}
