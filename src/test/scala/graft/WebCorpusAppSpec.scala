package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.app.WebCorpusApp

/** End-to-end WEB-corpus materialization: builds from the raw WARC
  * fixture shards and checks the invariants the oracle rows can't —
  * content-identical rebuild, ledger-gated idempotent re-append,
  * audit-equals-increment manifests, persisted-ANN recall against the
  * exact baseline, and plan hygiene. */
class WebCorpusAppSpec extends AnyFunSuite with SharedSpark {

  private val shards = s"${graft.sources.Tables.fixtureDir}/warc_shards.parquet"
  private val robots = s"${graft.sources.Tables.fixtureDir}/robots.parquet"

  private def freshDir(): String =
    Files.createTempDirectory("graft-webcorpus-spec").toString

  private lazy val full: String = {
    val out = freshDir()
    WebCorpusApp.build(spark, shards, robots, out)
    out
  }

  private lazy val inc: String = {
    val out = freshDir()
    WebCorpusApp.build(spark, shards, robots, out, shardPred = col("shard_id") =!= 5)
    WebCorpusApp.append(spark, shards, robots, out, "shard-5", col("shard_id") === 5)
    out
  }

  private def corpusRows(dir: String) =
    spark.read.parquet(s"$dir/corpus")
      .select("url", "fp", "n_tokens", "pos", "shard")
      .collect().map(_.toSeq).toSet

  test("positions are a total 1..n rank; shard derived from pos; accounting adds up") {
    val corpus = spark.read.parquet(s"$full/corpus")
    val n = corpus.count()
    assert(n > 0)
    val agg = corpus.agg(min("pos"), max("pos"), countDistinct("pos")).head()
    assert(agg.getLong(0) == 1L && agg.getLong(1) == n && agg.getLong(2) == n)
    assert(corpus.filter(col("shard") =!= expr(s"(pos - 1) div ${WebCorpusApp.ShardSize}"))
      .count() == 0)
    // every 200-status page is accounted for exactly once: corpus + rejects
    val m = spark.read.parquet(s"$full/manifest").head()
    val nRejects = spark.read.parquet(s"$full/rejects").count()
    assert(m.getAs[Long]("n_pages") == n + nRejects)
    // a page never appears in both tables
    assert(corpus.join(spark.read.parquet(s"$full/rejects"), "url").count() == 0)
  }

  test("rebuild over the same shards is a no-op by content") {
    val out2 = freshDir()
    WebCorpusApp.build(spark, shards, robots, out2)
    assert(corpusRows(full) == corpusRows(out2))
  }

  test("re-appending the same batch id is a FULL no-op (data, ledger, manifest)") {
    val before = corpusRows(inc)
    val manifestBefore = spark.read.parquet(s"$inc/manifest").head().toSeq
    WebCorpusApp.append(spark, shards, robots, inc, "shard-5", col("shard_id") === 5)
    assert(corpusRows(inc) == before)
    assert(spark.read.parquet(s"$inc/manifest").head().toSeq == manifestBefore)
  }

  test("append gates against written state: history fp + paragraph hashes hold") {
    // the 32x single-block regroups in shard 5 (doc 323) carry text
    // byte-identical to history docs -> the corpus-fp gate must reject
    // them as exact_duplicate, and no fp may appear twice in the corpus
    val corpus = spark.read.parquet(s"$inc/corpus")
    assert(corpus.groupBy("fp").count().filter(col("count") > 1).count() == 0)
    val rejStages = spark.read.parquet(s"$inc/rejects")
      .groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rejStages.getOrElse("exact_duplicate", 0L) >= 1L,
      s"history-fp gate never fired: $rejStages")
    // appended paragraph hashes stay DISTINCT across the whole table
    val ph = spark.read.parquet(s"$inc/paragraph_hashes")
    assert(ph.count() == ph.distinct().count())
  }

  test("existing rows never move on append: build(0-4) rows keep pos/shard in the union") {
    val init = freshDir()
    WebCorpusApp.build(spark, shards, robots, init, shardPred = col("shard_id") =!= 5)
    val before = corpusRows(init)
    val after = corpusRows(inc)
    assert(before.subsetOf(after), "append moved or dropped pre-existing rows")
  }

  test("persisted ANN index over the written embeddings: recall@10 >= 0.7 vs exact") {
    val emb = spark.read.parquet(s"$full/embeddings")
    val q = emb.orderBy("vec_id").head()
    val qid = q.getLong(0)
    val qv = q.getSeq[Float](1).map(_.toDouble).toArray
    val exact = emb.filter(col("vec_id") =!= qid)
      .select(col("vec_id"),
        aggregate(zip_with(col("embedding"), lit(qv), (x, y) => x * y),
          lit(0.0), (a, x) => a + x).as("dot"),
        sqrt(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x)).as("nm"))
      .filter(col("nm") > 0)
      .select(col("vec_id"), (col("dot") / col("nm")).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    // two-stage retrieval (the production IVF-PQ shape): the written
    // index generates ADC candidates, the written embeddings table
    // reranks them exactly — PQ at 4 centroids/subspace is a candidate
    // screen on these near-orthogonal hash vectors, not a ranker
    val cands = graft.sources.AnnIndex
      .searchTopK(spark, s"$full/ann_index", qv, nprobe = 2, excludeId = qid, topK = 50)
      .select("vec_id")
    val got = emb.join(cands, "vec_id")
      .select(col("vec_id"),
        (aggregate(zip_with(col("embedding"), lit(qv), (x, y) => x * y),
          lit(0.0), (a, x) => a + x) /
          sqrt(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x))).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(got).size
    println(s"[webcorpus-ann] two-stage recall@10 (nprobe=2, rerank 50): $recall/10")
    assert(recall >= 7, s"recall@10 = $recall/10")
  }

  test("text-index search equals the in-plan BM25 over the written corpus") {
    // the persisted-index read path must agree with a direct compute
    // over the corpus it indexed (integer tf/df/N/dl -> identical scores)
    val corpus = spark.read.parquet(s"$full/corpus")
      .select(col("pos").as("doc_id"), col("text"))
    val n = corpus.count()
    val viaIndex = graft.sources.TextIndex.readStats(spark, s"$full/text_index")
    assert(viaIndex._1 == n)
    val direct = corpus
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .count()
    assert(viaIndex._2 == direct)
  }

  private def landShard(fixture: String, id: Long, dir: String): Unit = {
    val stage = Files.createTempDirectory("graft-land").toString
    spark.read.parquet(fixture).filter(col("shard_id") === id)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file for shard $id"))
    Files.createDirectories(java.nio.file.Paths.get(dir))
    val dst = java.nio.file.Paths.get(s"$dir/shard-$id.parquet")
    Files.move(part.toPath, dst)
    // deterministic discovery order: the file source processes by mtime
    dst.toFile.setLastModified(1700000000000L + id * 1000L)
  }

  private def annPostings(dir: String) =
    spark.read.parquet(s"$dir/ann_index/postings")
      .select("vec_id", "cell").collect().map(_.toSeq).toSet

  test("crash at any failpoint, then replay the batch id: bit-identical to a clean append") {
    import graft.sources.TextIndex
    // crash points, each the first rename onto a path (or into a
    // directory) under the corpus root: the first tagged move into the
    // ANN postings (after every table append), the first rename of the
    // manifest swap (after every index append), and the ledger swap
    val points = Seq((None, Some("ann_index/postings")),
      (Some("manifest.__old"), None), (Some("ledger.__old"), None))
    for ((at, under) <- points) {
      val step = at.orElse(under).get
      val out = freshDir()
      WebCorpusApp.build(spark, shards, robots, out, shardPred = col("shard_id") =!= 5)
      val nBefore = spark.read.parquet(s"$out/corpus").count()
      val e = intercept[java.io.IOException] {
        CrashingFs.around(spark, at.map(p => s"$out/$p"), under.map(p => s"$out/$p")) {
          WebCorpusApp.append(spark, shards, robots, out, "shard-5", col("shard_id") === 5)
        }
      }
      assert(e.getMessage.contains(s"$out/$step"))
      // the crash struck AFTER the table appends: uncommitted tagged rows
      // are visible to a raw reader (the documented dirty-read window) and
      // the ledger — the commit point — still has only the build entry
      spark.catalog.refreshByPath(s"$out/corpus")
      assert(spark.read.parquet(s"$out/corpus").count() > nBefore,
        "crashed attempt left nothing to purge — the crash struck too early")
      assert(spark.read.parquet(s"$out/ledger")
        .collect().map(_.getString(0)).toSet == Set("__init"))
      // replay of the SAME batch id: purge uncommitted, apply once
      WebCorpusApp.append(spark, shards, robots, out, "shard-5", col("shard_id") === 5)
      assert(corpusRows(out) == corpusRows(inc), s"corpus diverged after $step crash")
      val ph = spark.read.parquet(s"$out/paragraph_hashes")
      assert(ph.count() == ph.distinct().count(),
        "crashed attempt's paragraph hashes were appended twice")
      assert(TextIndex.readStats(spark, s"$out/text_index") ==
        TextIndex.readStats(spark, s"$inc/text_index"),
        s"text-index stats diverged after $step crash")
      assert(annPostings(out) == annPostings(inc),
        s"ann postings diverged after $step crash")
      assert(spark.read.parquet(s"$out/ledger")
        .collect().map(_.getString(0)).toSet == Set("__init", "shard-5"))
    }
  }

  test("crawl-loop closure: frontier = link targets minus FETCHED pages, delay-scheduled (synthetic inter-linked site)") {
    import spark.implicits._
    // three fetched pages on one host that LINK TO EACH OTHER — the
    // case the fixture crawl cannot observe (its pages only link to
    // never-fetched urls). A links to B (fetched -> excluded), to a
    // RELATIVE d.html and a protocol-relative target (both must resolve
    // before they can be frontier rows); B links back to A (fetched)
    // and to /e; C's links are mailto/fragment noise (dropped).
    def para(seed: Int): String = (0 until 3).map { j =>
      val w = Seq("data", "model", "corpus", "quality", "stream", "index")
      s"<p>the p$seed of ${w((seed + j) % 6)} and a ${w((seed + j + 1) % 6)} " +
        s"to the ${w((seed + j + 2) % 6)} in ${w((seed + j + 3) % 6)} " +
        s"${w((seed + j + 4) % 6)} extra tokens for the quality gate</p>"
    }.mkString
    def page(links: String, seed: Int): String =
      s"<html><head><title>s$seed</title></head><body>$links${para(seed)}</body></html>"
    def rec(url: String, html: String): Array[Byte] = {
      val body = html.getBytes("UTF-8")
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("UTF-8") ++
        http ++ "\r\n\r\n".getBytes("UTF-8")
    }
    // 37 linkless filler pages keep the corpus big enough for the ANN
    // index's mod-10 training sample (the build always writes indexes)
    val filler = (10 until 47).map(k =>
      rec(s"https://loopsite.example.net/fill$k", page("", k)))
      .reduce(_ ++ _)
    // 301 records (r16): moved1 redirects INTO the fetched corpus (its
    // chain terminal is a — any link target chaining here must vanish
    // from the frontier), moved2 redirects to the never-fetched fresh
    // (scheduled as its TERMINAL), loopx/loopy form a 301 cycle (a loop
    // member is wasted budget — dropped)
    def rec301(url: String, location: String): Array[Byte] = {
      val http = (s"HTTP/1.1 301 Moved Permanently\r\nLocation: $location\r\n" +
        "Content-Length: 0\r\n\r\n").getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("UTF-8") ++
        http ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val payload =
      rec("https://loopsite.example.net/a", page(
        """<a href="/b">b</a> <a href="d.html">d</a> <a href="//cdn.example.net/lib">cdn</a>""", 1)) ++
      rec("https://loopsite.example.net/b", page(
        """<a href="/a">a</a> <a href="/e">e</a> <a href="/moved1">m1</a> """ +
          """<a href="/moved2">m2</a> <a href="/loopx">lx</a>""", 2)) ++
      rec("https://loopsite.example.net/c", page(
        """<a href="mailto:x@y.z">m</a> <a href="#top">f</a>""", 3)) ++
      rec301("https://loopsite.example.net/moved1", "https://loopsite.example.net/a") ++
      rec301("https://loopsite.example.net/moved2", "https://loopsite.example.net/fresh") ++
      rec301("https://loopsite.example.net/loopx", "https://loopsite.example.net/loopy") ++
      rec301("https://loopsite.example.net/loopy", "https://loopsite.example.net/loopx") ++
      filler
    val dir = freshDir()
    Seq((0L, false, payload)).toDF("shard_id", "gz", "payload")
      .write.parquet(s"$dir/shards")
    WebCorpusApp.build(spark, s"$dir/shards", robots, s"$dir/out")
    // the written link table resolved + canonicalized everything
    val links = spark.read.parquet(s"$dir/out/links")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(links == Set(
      ("https://loopsite.example.net/a", "https://loopsite.example.net/b"),
      ("https://loopsite.example.net/a", "https://loopsite.example.net/d.html"),
      ("https://loopsite.example.net/a", "https://cdn.example.net/lib"),
      ("https://loopsite.example.net/b", "https://loopsite.example.net/a"),
      ("https://loopsite.example.net/b", "https://loopsite.example.net/e"),
      ("https://loopsite.example.net/b", "https://loopsite.example.net/moved1"),
      ("https://loopsite.example.net/b", "https://loopsite.example.net/moved2"),
      ("https://loopsite.example.net/b", "https://loopsite.example.net/loopx")),
      s"got $links")
    // the written redirect map holds the three 301 sources
    val rmap = spark.read.parquet(s"$dir/out/redirects")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rmap == Set(
      ("https://loopsite.example.net/moved1", "https://loopsite.example.net/a"),
      ("https://loopsite.example.net/moved2", "https://loopsite.example.net/fresh"),
      ("https://loopsite.example.net/loopx", "https://loopsite.example.net/loopy"),
      ("https://loopsite.example.net/loopy", "https://loopsite.example.net/loopx")),
      s"got $rmap")
    // the frontier EXCLUDES the fetched pages a and b (the loop-closure
    // subtraction), DROPS moved1 (its 301 chain terminates at the
    // fetched a) and the loopx cycle member, and schedules moved2 as
    // its TERMINAL fresh. Politeness keys on the REGISTRABLE DOMAIN:
    // loopsite.example.net and cdn.example.net share one example.net
    // wave budget (FIFO by canonical url, cadence 1 — no Crawl-delay
    // declared for this domain).
    val fr = WebCorpusApp.frontier(spark, s"$dir/out", robots)
      .collect().map(r => (r.getString(0), (r.getString(2), r.getLong(4)))).toMap
    assert(fr.keySet == Set(
      "https://cdn.example.net/lib",
      "https://loopsite.example.net/d.html",
      "https://loopsite.example.net/e",
      "https://loopsite.example.net/fresh"), s"got $fr")
    assert(fr.values.forall(_._1 == "example.net"), s"got $fr")
    assert(fr("https://cdn.example.net/lib")._2 == 0L)
    assert(fr("https://loopsite.example.net/d.html")._2 == 1L)
    assert(fr("https://loopsite.example.net/e")._2 == 2L)
    assert(fr("https://loopsite.example.net/fresh")._2 == 3L)
    // per-domain budget (r15 verdict #4): the cap bounds the schedule
    // to the first N candidates of the domain's FIFO order
    val capped = WebCorpusApp.frontier(spark, s"$dir/out", robots,
        maxPerDomain = 2)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(capped == Map(
      "https://cdn.example.net/lib" -> 0L,
      "https://loopsite.example.net/d.html" -> 1L), s"got $capped")
    // LEGACY corpus (pre-r16, no redirects artifact): the frontier must
    // read an empty map, not throw — targets then schedule unresolved
    val legacy = s"$dir/legacy"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(legacy))
    Seq("corpus", "rejects", "links", "ledger").foreach { t =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$dir/out/$t"), new java.io.File(s"$legacy/$t"))
    }
    val legacyFr = WebCorpusApp.frontier(spark, legacy, robots)
      .collect().map(_.getString(0)).toSet
    assert(legacyFr == Set(
      "https://cdn.example.net/lib",
      "https://loopsite.example.net/d.html",
      "https://loopsite.example.net/e",
      // without the map, the raw 301-source targets re-enter — exactly
      // the pre-r16 behavior the redirects artifact fixes
      "https://loopsite.example.net/moved1",
      "https://loopsite.example.net/moved2",
      "https://loopsite.example.net/loopx"), s"got $legacyFr")
  }

  test("publisher directives: nofollow flagged + unscheduled, noindex rejected, canonical variants elected (r16 verdict #3/#4)") {
    import spark.implicits._
    val host = "https://dirsite.example.net"
    def para(seed: Int): String = (0 until 3).map { j =>
      val w = Seq("data", "model", "corpus", "quality", "stream", "index")
      s"<p>the p$seed of ${w((seed + j) % 6)} and a ${w((seed + j + 1) % 6)} " +
        s"to the ${w((seed + j + 2) % 6)} in ${w((seed + j + 3) % 6)} " +
        s"${w((seed + j + 4) % 6)} extra tokens for the quality gate</p>"
    }.mkString
    def page(links: String, seed: Int, head: String = ""): String =
      s"<html><head><title>s$seed</title>$head</head><body>$links${para(seed)}</body></html>"
    def rec(url: String, html: String, extraHttp: Seq[String] = Nil): Array[Byte] = {
      val body = html.getBytes("UTF-8")
      val http = ((Seq("HTTP/1.1 200 OK",
        "Content-Type: text/html; charset=utf-8",
        s"Content-Length: ${body.length}") ++ extraHttp).mkString("\r\n") +
        "\r\n\r\n").getBytes("UTF-8") ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("UTF-8") ++
        http ++ "\r\n\r\n".getBytes("UTF-8")
    }
    // enough fillers that the post-reject corpus still feeds the ANN
    // index's mod-10 training sample (the build always writes indexes)
    val filler = (10 until 58).map(k => rec(s"$host/fill$k", page("", k)))
      .reduce(_ ++ _)
    val payload =
      // A: one follow link, one zero-text nofollow link
      rec(s"$host/a", page(
        """<a href="/keep">k</a> <a href="/skip" rel="nofollow"></a>""", 1)) ++
      // B: page-level meta noindex,nofollow — rejected AND all links flagged
      rec(s"$host/b", page("""<a href="/bonly">b</a>""", 2,
        head = """<meta name="robots" content="noindex, nofollow">""")) ++
      // C: header-level noindex ONLY — rejected, links stay follow-able
      rec(s"$host/c", page("""<a href="/conly">c</a>""", 3),
        extraHttp = Seq("X-Robots-Tag: noindex")) ++
      // V1: canonical hint to the FETCHED /a — publisher-declared variant
      rec(s"$host/v1", page("", 4,
        head = s"""<link rel="canonical" href="$host/a">""")) ++
      // V2: canonical hint to a NEVER-FETCHED url — kept, hint scheduled
      rec(s"$host/v2", page("", 5,
        head = """<link rel="canonical" href="/elected">""")) ++
      filler
    val dir = freshDir()
    Seq((0L, false, payload)).toDF("shard_id", "gz", "payload")
      .write.parquet(s"$dir/shards")
    WebCorpusApp.build(spark, s"$dir/shards", robots, s"$dir/out")
    // the link table carries the follow directive per edge
    val links = spark.read.parquet(s"$dir/out/links")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(3)).toMap
    assert(links((s"$host/a", s"$host/keep")) == false)
    assert(links((s"$host/a", s"$host/skip")) == true)
    assert(links((s"$host/b", s"$host/bonly")) == true, "meta nofollow must flag the page's edges")
    assert(links((s"$host/c", s"$host/conly")) == false, "header noindex-only must NOT flag edges")
    // noindex pages and the elected variant land in rejects with their stages
    val rej = spark.read.parquet(s"$dir/out/rejects")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rej.get(s"$host/b").contains("noindex"))
    assert(rej.get(s"$host/c").contains("noindex"))
    assert(rej.get(s"$host/v1").contains("canonical_variant"))
    // the canonicals artifact holds both hints, canonical both sides
    val canon = spark.read.parquet(s"$dir/out/canonicals")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon == Map(s"$host/v1" -> s"$host/a", s"$host/v2" -> s"$host/elected"))
    // corpus membership: the variant died, the unfetched-hint page stayed
    val corpus = spark.read.parquet(s"$dir/out/corpus")
      .collect().map(_.getString(0)).toSet
    assert(corpus.contains(s"$host/a") && corpus.contains(s"$host/v2"))
    assert(!corpus.contains(s"$host/b") && !corpus.contains(s"$host/c") &&
      !corpus.contains(s"$host/v1"))
    // frontier: nofollow targets never schedule; noindex-only C's link
    // does; the canonical hint dst schedules
    val fr = WebCorpusApp.frontier(spark, s"$dir/out", robots)
      .collect().map(_.getString(0)).toSet
    assert(fr.contains(s"$host/keep") && fr.contains(s"$host/conly") &&
      fr.contains(s"$host/elected"), s"got $fr")
    assert(!fr.contains(s"$host/skip") && !fr.contains(s"$host/bonly"), s"got $fr")
  }

  test("redirect-only batch COMMITS its map; recaptured src keeps its first dst; no-new-data batch leaves no trace (r16 advice)") {
    import spark.implicits._
    def rec301(url: String, location: String): Array[Byte] = {
      val http = (s"HTTP/1.1 301 Moved Permanently\r\nLocation: $location\r\n" +
        "Content-Length: 0\r\n\r\n").getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("UTF-8") ++
        http ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val out = freshDir()
    WebCorpusApp.build(spark, shards, robots, out, shardPred = col("shard_id") <= 1)
    val corpusBefore = corpusRows(out)
    val redBefore = spark.read.parquet(s"$out/redirects").count()
    // batch 1: ONLY a 301 record. Pre-r17 this no-opped and the map
    // entry was lost forever (redirects only re-arrive with the same
    // WARC records); now it commits under the ledger (nPages = 0).
    val d1 = freshDir()
    Seq((0L, false, rec301("https://ronly.example.net/m1",
        "https://ronly.example.net/t1")))
      .toDF("shard_id", "gz", "payload").write.parquet(s"$d1/shards")
    WebCorpusApp.append(spark, s"$d1/shards", robots, out, "r-only-1", lit(true))
    val led1 = spark.read.parquet(s"$out/ledger").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(led1.get("r-only-1").contains(0L), s"ledger: $led1")
    val red1 = WebCorpusApp.readCommitted(spark, out, "redirects")
    assert(red1.count() == redBefore + 1)
    assert(red1.filter(col("src") === "https://ronly.example.net/m1" &&
      col("dst") === "https://ronly.example.net/t1").count() == 1)
    assert(corpusRows(out) == corpusBefore, "a redirect-only batch must not touch the corpus")
    // replaying the committed id is a full no-op
    WebCorpusApp.append(spark, s"$d1/shards", robots, out, "r-only-1", lit(true))
    assert(WebCorpusApp.readCommitted(spark, out, "redirects").count() == redBefore + 1)
    // batch 2 RECAPTURES m1 with a different Location: the committed
    // row wins (one dst per src GLOBALLY — the anti-join drops the
    // duplicate), and with nothing new to write the batch leaves no
    // ledger trace (re-delivery recomputes the same no-op)
    val d2 = freshDir()
    Seq((0L, false, rec301("https://ronly.example.net/m1",
        "https://ronly.example.net/zzz-other")))
      .toDF("shard_id", "gz", "payload").write.parquet(s"$d2/shards")
    WebCorpusApp.append(spark, s"$d2/shards", robots, out, "r-only-2", lit(true))
    val dsts = WebCorpusApp.readCommitted(spark, out, "redirects")
      .filter(col("src") === "https://ronly.example.net/m1")
      .collect().map(_.getString(1)).toSeq
    assert(dsts == Seq("https://ronly.example.net/t1"), s"got $dsts")
    val led2 = spark.read.parquet(s"$out/ledger").collect().map(_.getString(0)).toSet
    assert(!led2.contains("r-only-2"), s"ledger: $led2")
  }

  test("maintain(): N appends -> compaction folds files, every result bit-identical, ledger intact (r14 verdict #7)") {
    import graft.sources.{Sinks, TextIndex}
    val out = freshDir()
    WebCorpusApp.build(spark, shards, robots, out, shardPred = col("shard_id") < 4)
    WebCorpusApp.append(spark, shards, robots, out, "b4", col("shard_id") === 4)
    WebCorpusApp.append(spark, shards, robots, out, "b5", col("shard_id") === 5)
    // a crashed append's uncommitted tagged leftovers sit in the table
    Sinks.appendTagged(spark.read.parquet(s"$out/corpus").limit(3),
      s"$out/corpus", "crashed-batch")
    spark.catalog.refreshByPath(s"$out/corpus")
    // the before-state, through the COMMITTED reader (the plain read
    // would see the dirty rows)
    def committedRows() = WebCorpusApp.readCommitted(spark, out, "corpus")
      .select("url", "fp", "n_tokens", "pos", "shard")
      .collect().map(_.toSeq).toSet
    val rowsBefore = committedRows()
    val manifestBefore = spark.read.parquet(s"$out/manifest").head().toSeq
    val statsBefore = TextIndex.readStats(spark, s"$out/text_index")
    val dfBefore = TextIndex.readDf(spark, s"$out/text_index",
      Seq("training", "quality")).collect().map(_.toSeq).toSet
    val annBefore = annPostings(out)
    val filesBefore = Seq("corpus", "rejects", "paragraph_hashes", "links",
      "embeddings", "text_index/postings", "ann_index/postings")
      .map(t => t -> Sinks.dataFileCount(spark, s"$out/$t")).toMap
    WebCorpusApp.maintain(spark, out)
    // the fold: fewer files everywhere appends fragmented, same rows
    val filesAfter = filesBefore.keys
      .map(t => t -> Sinks.dataFileCount(spark, s"$out/$t")).toMap
    assert(filesAfter.values.sum < filesBefore.values.sum,
      s"no fold: $filesBefore -> $filesAfter")
    Seq("corpus", "text_index/postings", "ann_index/postings").foreach { t =>
      assert(filesAfter(t) < filesBefore(t), s"$t did not compact: " +
        s"${filesBefore(t)} -> ${filesAfter(t)}")
    }
    assert(committedRows() == rowsBefore, "maintain changed corpus rows")
    // the uncommitted leftovers are GONE even for a plain reader
    assert(spark.read.parquet(s"$out/corpus")
      .select("url", "fp", "n_tokens", "pos", "shard")
      .collect().map(_.toSeq).toSet == rowsBefore)
    assert(spark.read.parquet(s"$out/manifest").head().toSeq == manifestBefore)
    assert(TextIndex.readStats(spark, s"$out/text_index") == statsBefore)
    assert(TextIndex.readDf(spark, s"$out/text_index",
      Seq("training", "quality")).collect().map(_.toSeq).toSet == dfBefore)
    assert(annPostings(out) == annBefore)
    // ledger untouched: a committed batch id still replays as a no-op
    WebCorpusApp.append(spark, shards, robots, out, "b5", col("shard_id") === 5)
    assert(committedRows() == rowsBefore)
    // and maintain is idempotent
    WebCorpusApp.maintain(spark, out)
    assert(committedRows() == rowsBefore)
  }

  test("streaming ingest: per-file micro-batches, mid-stream crash + restart converge to the batch result") {
    // reference: the same two batches applied through the batch append
    val ref = freshDir()
    WebCorpusApp.build(spark, shards, robots, ref, shardPred = col("shard_id") < 4)
    WebCorpusApp.append(spark, shards, robots, ref, "b4", col("shard_id") === 4)
    WebCorpusApp.append(spark, shards, robots, ref, "b5", col("shard_id") === 5)

    val out = freshDir()
    WebCorpusApp.build(spark, shards, robots, out, shardPred = col("shard_id") < 4)
    val incoming = s"$out/incoming"
    // a stream started before the first shard lands is a clean no-op
    // (schema is the WarcShard contract, never inferred from the dir)
    Files.createDirectories(java.nio.file.Paths.get(incoming))
    val corpusBefore = corpusRows(out)
    WebCorpusApp.streamIngest(spark, incoming, robots, out)
    assert(corpusRows(out) == corpusBefore)
    landShard(shards, 4, incoming)
    WebCorpusApp.streamIngest(spark, incoming, robots, out) // stream-0: shard 4
    landShard(shards, 5, incoming)
    // crash INSIDE the shard-5 micro-batch, after the index appends but
    // before its ledger commit (the manifest swap's first rename) — the
    // hardest recovery point
    val e = intercept[Exception] {
      CrashingFs.around(spark, failAt = Some(s"$out/manifest.__old")) {
        WebCorpusApp.streamIngest(spark, incoming, robots, out)
      }
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains(s"$out/manifest.__old"), s"unexpected failure: $chain")
    // restart: the checkpoint re-delivers the SAME files under the SAME
    // batch id; appendBatch purges the crashed attempt and applies once
    WebCorpusApp.streamIngest(spark, incoming, robots, out)
    assert(corpusRows(out) == corpusRows(ref),
      "streaming corpus diverged from the batch-append corpus")
    assert(annPostings(out) == annPostings(ref))
    assert(spark.read.parquet(s"$out/ledger")
      .collect().map(_.getString(0)).toSet ==
      Set("__init", "stream-0", "stream-1"))
    // a further restart with nothing new is a FULL no-op
    val before = corpusRows(out)
    WebCorpusApp.streamIngest(spark, incoming, robots, out)
    assert(corpusRows(out) == before)
  }

  test("no cartesian product anywhere in the build pipeline plan") {
    val plan = spark.read.parquet(s"$full/corpus").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }
}
