package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sitemap

class SitemapSpec extends AnyFunSuite with SharedSpark {

  private val fixture = s"${graft.sources.Tables.fixtureDir}/sitemaps.parquet"

  private def files = Sitemap.readSitemaps(spark, fixture)

  test("urls parses every <url> block of every urlset; the index file yields none") {
    val u = Sitemap.urls(files)
    assert(u.count() == 138)
    assert(u.filter(col("sitemap_url").endsWith("/sitemap.xml") &&
      col("sitemap_url").contains("www.example.com")).count() == 0)
    // entity decode: escaped &amp; becomes a literal &; the raw loc keeps
    // its scheme-case decoration (g%10==0 -> HTTPS) — canonicalization
    // is the NEXT stage's job, the parser must not normalize
    val one = u.filter(col("loc").contains("/a/1000?")).head().getString(1)
    assert(one == "HTTPS://www.example.com/a/1000?b=2&a=1")
    assert(u.filter(col("loc").contains("/a/1001?")).head().getString(1)
      == "https://www.example.com/a/1001?b=2&a=1")
    // lastmod present iff g % 3 == 0, formula value
    val lm = Sitemap.urls(files)
      .filter(col("loc").contains("/a/600?")).head().getString(2)
    assert(lm == "2026-07-13") // 600 % 3 == 0, 600 % 28 + 1 = 13
    assert(Sitemap.urls(files)
      .filter(col("loc").contains("/a/601?")).head().getString(2) == "")
  }

  test("indexChildren resolves the sitemapindex references, whitespace-tolerant") {
    val kids = Sitemap.indexChildren(files).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(kids == Seq(
      ("https://www.example.com/sitemap.xml", "https://www.example.com/sitemap-a.xml"),
      ("https://www.example.com/sitemap.xml", "https://www.example.com/sitemap-b.xml")))
    // the referenced children exist as rows: the fetch loop closes
    val resolved = files.join(
      Sitemap.indexChildren(files).select(col("child_url").as("url")), "url")
    assert(resolved.count() == 2)
  }

  test("the composed frontier enforces every stage (structure, not totals — sf-dependent)") {
    val frontier = graft.SparkEntry
      .queries("q307_crawl_frontier")(spark, "/root/testdata/sf0.001")
      .collect().map(_.getString(0)).toSet
    // robots-blocked populations are absent
    assert(!frontier.exists(_.contains("/a/200")))
    assert(!frontier.exists(_.contains("cdn.files.sample.org")))
    (300 to 329).foreach(g =>
      assert(!frontier.contains(s"https://api.news.example.co.uk/a/$g?a=1&b=2")))
    // the /a/33 Allow carve-out survives inside the blocked /a/3 tree
    (330 to 339).foreach(g =>
      assert(frontier.contains(s"https://api.news.example.co.uk/a/$g?a=1&b=2")))
    // the robots-less host passes by default
    (600 to 607).foreach(g =>
      assert(frontier.contains(s"https://example.com/a/$g?a=1&b=2")))
    // the always-new allowed www range is present and canonicalized —
    // EXCEPT paths ending in 0, which the graftbot wildcard rule
    // `Disallow: /a/*0$` now blocks (1000 and 1010 here)
    (1000 to 1019).filter(_ % 10 != 0).foreach(g =>
      assert(frontier.contains(s"https://www.example.com/a/$g?a=1&b=2")))
    Seq(1000, 1010).foreach(g =>
      assert(!frontier.contains(s"https://www.example.com/a/$g?a=1&b=2")))
    // crawled canonical duplicates are gone: g 0..9 is crawled at every sf
    (0 to 9).foreach(g =>
      assert(!frontier.contains(s"https://www.example.com/a/$g?a=1&b=2")))
  }

  test("frontier rows carry the decisive rule: carve-out vs default-allow") {
    val rows = graft.SparkEntry
      .queries("q307_crawl_frontier")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(rows("https://api.news.example.co.uk/a/330?a=1&b=2") == "/a/33")
    assert(rows("https://example.com/a/600?a=1&b=2") == "")
  }
}
