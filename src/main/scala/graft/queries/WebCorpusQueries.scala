package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.WebCorpusApp
import graft.operators.Robots
import graft.sources.Materialized

/** End-to-end WEB-corpus-app queries: [[graft.app.WebCorpusApp]] BUILDS
  * the corpus from raw WARC fixture shards (full crawl pipeline + real
  * `Sinks` writes + persisted text/ANN indexes in a temp dir) and every
  * query reads the WRITTEN tables — the q81/q82/q89 convention scaled
  * to the whole crawl stack. The DuckDB oracles replay the ENTIRE
  * pipeline from the packed source of truth (html_docs + the robots
  * fixture): WARC status formulas → extraction CTEs → robots
  * longest-match (wildcards included) → corpus-wide paragraph dedup →
  * the shared survivor chain ([[LlmQueries.corpusSurvivorCtesFor]]) →
  * the md5 global order. A divergence ANYWHERE — a parse, a gate, a
  * keeper rule, a rank, a write — breaks a hash match.
  *
  * The fixture is the crawl (these queries ignore the sf dir): WARC
  * bytes are the INPUT format, so unlike table queries there is no
  * scale-factor variant; scale evidence for the stack lives in
  * SCALE_EVIDENCE.md. */
object WebCorpusQueries {

  private val htmlDocs = "/root/repo/fixtures/html_docs.parquet"
  private val warcShards = "/root/repo/fixtures/warc_shards.parquet"
  private val robotsFx = "/root/repo/fixtures/robots.parquet"
  private val pslFx = "/root/repo/fixtures/psl.parquet"
  private val crawlSitemapsFx = "/root/repo/fixtures/crawl_sitemaps.parquet"
  private val Doc0Url = "https://example.com/doc0"

  // ------------------------------------------------------ materialization

  /** The shared shards-0-4 BASE both incremental materializations append
    * onto — built once per pass, then RESTORED by file copy (the
    * snapshot-restore shape of real ops). The measured operator of
    * q317/q323 is the append/stream path; paying the identical base
    * build twice more per bench pass would time setup, not semantics. */
  private def builtBase(s: SparkSession): String =
    Materialized.dir("webcorpus:base", perPass = true) { out =>
      WebCorpusApp.build(s, warcShards, robotsFx, out,
        shardPred = col("shard_id") =!= 5)
    }

  private def restoreBase(s: SparkSession, dst: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(builtBase(s))
    val out = java.nio.file.Paths.get(dst)
    val stream = java.nio.file.Files.walk(src)
    try stream.iterator().asScala.foreach { p =>
      val t = out.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally stream.close()
    // the copy is a NEW table lineage for Spark: drop cached listings
    Seq("corpus", "rejects", "paragraph_hashes", "links", "redirects",
      "embeddings", "ledger", "manifest")
      .foreach(t => s.catalog.refreshByPath(s"$dst/$t"))
  }

  /** Build once per pass over ALL shards. */
  private def built(s: SparkSession): String =
    Materialized.dir("webcorpus:full", perPass = true)(
      WebCorpusApp.build(s, warcShards, robotsFx, _))

  /** The INCREMENTAL materialization: built from shards 0-4, then shard
    * 5 (the gzipped Common Crawl-framed one) appended as a batch. */
  private def builtIncremental(s: SparkSession): String =
    Materialized.dir("webcorpus:inc", perPass = true) { out =>
      restoreBase(s, out)
      WebCorpusApp.append(s, warcShards, robotsFx, out, batchId = "shard-5",
        shardPred = col("shard_id") === 5)
    }

  /** The STREAMING materialization: the same build as [[builtIncremental]]
    * (shards 0-4), but shard 5 arrives through
    * [[WebCorpusApp.streamIngest]] — landed as a file in a watched
    * directory, discovered by the file source, appended by a foreachBatch
    * micro-batch under checkpoint + ledger + tagged-file guarantees.
    * q323's oracle is q317's VERBATIM: streaming arrival must produce the
    * bit-identical corpus the batch append does. */
  private def builtStreaming(s: SparkSession): String =
    Materialized.dir("webcorpus:stream", perPass = true) { out =>
      restoreBase(s, out)
      val incoming = s"$out/incoming"
      s.read.parquet(warcShards).filter(col("shard_id") === 5)
        .coalesce(1).write.parquet(incoming)
      WebCorpusApp.streamIngest(s, incoming, robotsFx, out)
    }

  // -------------------------------------------------------------- queries

  /** q313: the WRITTEN corpus — every surviving page with its content
    * fingerprint, token count, paragraph-dedup accounting, and global
    * position/shard. The single strongest row of the round: the oracle
    * replays the complete pipeline, so any drift anywhere upstream of
    * the write lands here. */
  def q313Webcorpus(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.readCommitted(s, built(s), "corpus")
      .select("url", "fp", "n_tokens", "n_pars", "n_kept", "pos", "shard")

  /** q314: the reject LEDGER — (url, stage) for every non-surviving
    * page: the per-stage attribution a curation team audits (and the
    * proof each pipeline stage did its own work on its own population). */
  def q314WebcorpusRejects(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.readCommitted(s, built(s), "rejects")

  /** q315: the MANIFEST — one row of per-stage counts + corpus/shard/
    * paragraph-state sizes: the handshake a consumer validates. */
  def q315WebcorpusManifest(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${built(s)}/manifest")

  /** q316: BM25 search served from the PERSISTED text index the app
    * wrote next to the corpus (partition-pruned postings, df/stat
    * sums — the q309 machinery over the web corpus), joined back to
    * urls through the written corpus table. */
  def q316WebcorpusSearch(s: SparkSession, dir: String): DataFrame = {
    val out = built(s)
    val hits = indexedBm25(s, s"$out/text_index", Seq("training", "quality"), 10)
    hits.join(WebCorpusApp.readCommitted(s, out, "corpus").select(col("pos"), col("url")),
        hits("doc_id") === col("pos"))
      .select(col("url"), col("score"))
  }

  /** q317: the INCREMENTAL corpus — shards 0-4 built, shard 5 appended
    * through the written-state gates (already-crawled canonical urls,
    * the paragraph-hash history, corpus fps; positions appended after
    * the current max). The oracle replays BOTH phases. */
  def q317WebcorpusAppend(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.readCommitted(s, builtIncremental(s), "corpus")
      .select("url", "fp", "pos", "shard")

  /** q334: DECONTAMINATION over the WRITTEN corpus — the release gate
    * between the crawl-built corpus and a trainer: every corpus page
    * screened for verbatim 8-GRAM overlap with the benchmark set (the
    * q248 machinery composed onto the web corpus). The benchmark is the
    * sf documents slice (doc_id ≡ 0 mod 23) PLUS the corpus pages at
    * pos ≡ 0 mod 7 — modeling the real failure this gate exists for:
    * benchmarks are web-derived, so some corpus pages ARE in them. The
    * leaked pages read taint 1000, their near neighbors light up on
    * shared grams, clean pages read 0 — every regime observable. Eval
    * grams are broadcast-small at any corpus scale; the train side
    * streams; nothing is all-pairs. */
  def q334WebcorpusDecontam(s: SparkSession, dir: String): DataFrame = {
    val corpus = WebCorpusApp.readCommitted(s, built(s), "corpus")
      .select(col("url"), col("pos"), col("text"))
    def grams(df: DataFrame, id: Seq[String]) = df
      .select(id.map(col) :+
        expr("filter(split(lower(text), ' '), t -> length(t) > 0)").as("ws"): _*)
      .filter(size(col("ws")) >= 8)
      .select(id.map(col) :+
        explode(expr("transform(sequence(0, size(ws) - 8), i -> " +
          "concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3]," +
          " ws[i+4], ws[i+5], ws[i+6], ws[i+7]))")).as("g"): _*)
    val bench = graft.sources.Tables.documents(s, dir)
      .filter(col("doc_id") % 23 === 0).select(col("text"))
      .unionByName(corpus.filter(col("pos") % 7 === 0).select(col("text")))
    val ev = grams(bench.withColumn("k", lit(1L)), Seq("k"))
      .select("g").distinct()
    val tr = grams(corpus, Seq("url")).distinct()
    val totals = tr.groupBy("url").agg(count(lit(1)).as("n_grams"))
    val hits = tr.join(ev, "g").groupBy("url").agg(count(lit(1)).as("hit"))
    totals.join(hits, Seq("url"), "left").na.fill(0L, Seq("hit"))
      .select(col("url"), col("n_grams"),
        col("hit"), expr("hit * 1000 div n_grams").as("taint_permille"))
  }

  /** q323: the STREAMING corpus — shard 5 ingested by
    * [[WebCorpusApp.streamIngest]] (file source → foreachBatch →
    * the crash-atomic [[WebCorpusApp.appendBatch]]) instead of the
    * batch append. Same oracle as q317: the streaming path must
    * produce the BIT-IDENTICAL corpus — arrival through a checkpointed
    * micro-batch must not change a row, an fp, or a position. */
  def q323WebcorpusStream(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.readCommitted(s, builtStreaming(s), "corpus")
      .select("url", "fp", "pos", "shard")

  /** q318: brute-force cosine top-10 over the WRITTEN document
    * embeddings (64-dim signed feature hashing — integer-valued, so
    * the oracle rebuilds every component exactly from the replayed
    * corpus text): the exactness baseline the persisted ANN index is
    * spec-checked against. */
  def q318WebcorpusKnn(s: SparkSession, dir: String): DataFrame = {
    val out = built(s)
    val corpus = WebCorpusApp.readCommitted(s, out, "corpus").select(col("url"), col("pos"))
    val emb = WebCorpusApp.readCommitted(s, out, "embeddings")
      .join(corpus, col("vec_id") === col("pos"))
    // the query vector is ONE bounded row — inline it as a literal (the
    // q292 convention) so the scan stays a narrow projection with no
    // nested-loop join; its squared norm is an exact integer, so the
    // driver-side sum is order-free
    val qv = emb.filter(col("url") === Doc0Url)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val n2 = qv.map(v => v.toLong * v.toLong).sum
    val dot = aggregate(zip_with(col("embedding"), lit(qv),
      (x, y) => x * y), lit(0.0), (a, x) => a + x)
    val m2 = aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x)
    emb.filter(col("url") =!= Doc0Url)
      .withColumn("__m2", m2)
      .filter(col("__m2") > 0)
      .select(col("url"), (dot / (sqrt(col("__m2")) * sqrt(lit(n2.toDouble)))).as("cos"))
      .orderBy(col("cos").desc, col("url"))
      .limit(10)
  }

  /** BM25 over written postings — the q309 arithmetic verbatim (k1=1.2,
    * b=0.75, the (N−df+0.5)/(df+0.5) idf), stats/df summed from the
    * index tables, postings partition-pruned to the query terms. */
  private def indexedBm25(s: SparkSession, root: String,
                          terms: Seq[String], k: Int): DataFrame = {
    import graft.sources.TextIndex
    val (n, total) = TextIndex.readStats(s, root)
    val avgdl = total.toDouble / n.toDouble
    val hits = TextIndex.readPostings(s, root, terms)
    val dfs = TextIndex.readDf(s, root, terms)
    val scored = hits.join(broadcast(dfs), "tok")
      .withColumn("idf",
        ((lit(n) - col("df")).cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
      .withColumn("sc",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl)))))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === lit(t), col("sc"))).as(s"s$i")
    }
    scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        terms.indices.map(i => coalesce(col(s"s$i"), lit(0.0)))
          .reduce(_ + _).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** q340: the WRITTEN LINK TABLE — the crawl's link graph as a build
    * artifact ([[WebCorpusApp]] extracts it at decode time from every
    * fetched 200 page, resolves targets through the RFC 3986 subset and
    * CANONICALIZES them), read back through the committed reader. This
    * is the reference's scraped-link-table analog: every next-cycle
    * consumer (frontier, crawl PageRank, spam heuristics) reads these
    * three columns and never re-touches page bytes. Oracle: extraction +
    * resolution replayed over the packed pages; the fixture's resolved
    * targets are already in canonical form, so the engine running the
    * FULL canonicalizer must land on them identically — any
    * canonicalization drift breaks the compare. */
  def q340WebcorpusLinks(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.readCommitted(s, built(s), "links")

  /** q341: the NEXT-CRAWL FRONTIER — the query that CLOSES THE CRAWL
    * LOOP over written state alone: distinct canonical link targets
    * resolved through the written REDIRECT MAP to their chain terminals
    * (r16 — the fixture's /doc74 target 301-chains to the FETCHED
    * /doc73 and must vanish; /doc21 chains to the never-fetched
    * /doc21/moved and is scheduled as that terminal), minus every
    * already-fetched canonical url (corpus ∪ rejects — the accounting
    * invariant says that is exactly the decoded page set), through the
    * robots longest-match verdict, scheduled per REGISTRABLE DOMAIN
    * (PSL longest-match — the q331 politeness key) under the declared
    * Crawl-delay (the q339 wave rule — example.com's delay-2 spaces its
    * waves observably), capped per domain (the cap is the 100-TB
    * guard; fixture frontiers sit far below it). Zero page bytes
    * touched: links + redirects + corpus-keys + rejects-keys +
    * broadcast-sized robots/PSL tables. The gate is also OBSERVED in
    * WebCorpusAppSpec's loop-closure leg on a synthetic crawl whose
    * pages link to each other. */
  def q341WebcorpusFrontier(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.frontier(s, built(s), robotsFx,
      psl = Some(s.read.parquet(pslFx)))

  /** q342: MAINTENANCE INDISTINGUISHABILITY (the q328 convention) — run
    * [[WebCorpusApp.maintain]] over the incremental materialization,
    * then serve q317's EXACT oracle from a PLAIN parquet read: the fold
    * (purge, swap-compaction of every flat table, text-index delta
    * fold, per-partition postings compaction, manifest recompute) must
    * leave even a ledger-blind reader unable to tell the corpus was
    * ever fragmented. Runs once per pass, like the materialization it
    * folds, so every bench pass pays and re-proves the fold. */
  def q342WebcorpusMaintain(s: SparkSession, dir: String): DataFrame = {
    val out = builtIncremental(s)
    Materialized.value("webcorpus:maintain", perPass = true)(WebCorpusApp.maintain(s, out))
    s.read.parquet(s"$out/corpus").select("url", "fp", "pos", "shard")
  }

  /** q343: the RANK-PRIORITIZED frontier — q341's gating with the
    * q327-shaped integer PageRank over the WRITTEN link table deciding
    * WITHIN-HOST fetch order: well-linked undiscovered urls first (the
    * harvest-rank rule real crawlers schedule by), Crawl-delay waves
    * unchanged. Rank ties (ubiquitous: every never-fetched target
    * without in-graph fan-in shares the dangling base rank) break by
    * canonical url, so the order is total and oracle-replayable. */
  def q343WebcorpusFrontierRanked(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val out = built(s)
    // nofollow edges carry no endorsement: excluded from the rank graph
    // (r17 — the same rule the frontier's candidate pool applies)
    val edges = WebCorpusApp.readCommitted(s, out, "links")
      .filter(!col("nofollow"))
      .select(col("url").as("src"), col("dst_canonical").as("dst"), col("w"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val ranks = graft.operators.PageRank.ranks(s, nodes, edges, iters = 3)
    // candidates are redirect-resolved TERMINALS (r16): a terminal that
    // never appeared as a link target carries the dangling base rank 0
    WebCorpusApp.frontierCandidates(s, out, robotsFx,
        psl = Some(s.read.parquet(pslFx)))
      .join(ranks, col("canonical_url") === col("node"), "left")
      .withColumn("rank", coalesce(col("rank"), lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("registered_domain")
          .orderBy(col("rank").desc, col("canonical_url"))))
      .select(col("canonical_url"), col("host"), col("rank"),
        ((col("rn") - 1).cast("long") *
          greatest(col("crawl_delay"), lit(1L))).as("wave"))
  }

  /** q344: the WRITTEN REDIRECT MAP — the crawl's 3xx artifact as a
    * build output (r16): harvested in the SAME walk that decodes pages
    * (no second pass over crawl bytes), canonical on both sides,
    * functionalized to one dst per src (min — the
    * [[graft.operators.Url.resolveChains]] contract), read back through
    * the committed reader. This is the table the q341/q343 frontier
    * resolves chains through. Oracle: the warc fixture's 301 Location
    * formula (even sources → the FETCHED previous doc, odd → the
    * never-fetched /moved) canonicalized by formula. */
  def q344WebcorpusRedirects(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.readCommitted(s, built(s), "redirects")

  /** q345: the FRONTIER FROM INCREMENTAL STATE (r16) — [[q341WebcorpusFrontier]]
    * computed over the incremental materialization (shards 0-4 built,
    * shard 5 appended as a ledgered batch): the links and redirects
    * artifacts accumulated through tagged appends + the committed
    * reader must compose into the BIT-IDENTICAL frontier the one-shot
    * build produces — q345 shares q341's oracle verbatim (the q317/q323
    * convention). This is the row that proves the crawl loop stays
    * closed under the append path, not just the build. */
  def q345WebcorpusFrontierInc(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.frontier(s, builtIncremental(s), robotsFx,
      psl = Some(s.read.parquet(pslFx)))

  /** q347: the WRITTEN CANONICAL-HINT MAP (r17 — the publisher's own
    * `<link rel=canonical>` election as a build artifact): harvested in
    * the same decoded page set as the links (every fetched 200 page —
    * a rejected variant's hint is real), hint hrefs resolved through
    * the RFC 3986 subset (the %53==46 population declares a RELATIVE
    * href) and canonicalized, self-hints dropped, min(dst) per src.
    * This is the second map the frontier resolves chains through
    * (redirects ∪ canonicals) and the source of its hinted-dst seeds.
    * Oracle: the head-injection formulas (%53==12 → the previous doc;
    * %53==46 → the never-fetched /canon url). */
  def q347WebcorpusCanonicals(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.readCommitted(s, built(s), "canonicals")

  /** q348: the SITEMAP-SEEDED frontier (r17 — discovery meets
    * scheduling): q341's gating with the crawl's fetched-sitemap store
    * passed in — the `<loc>` entries of every ROBOTS-DECLARED file
    * (q346's `Sitemap:` harvest names `http://example.com/s.xml`; the
    * store's undeclared decoy file must never be read) join the
    * candidate pool, canonicalized (the `?b=2&amp;a=1` loc decodes and
    * sorts to `?a=1&b=2`), and ride the SAME chain / fetched / robots /
    * politeness gates: the already-fetched /doc3 vanishes, /doc21
    * resolves through its 301 to the same terminal the link graph
    * already schedules, /doc1009 dies on the `Disallow: /doc*9$`
    * wildcard, and the two /smapnew urls schedule. */
  def q348WebcorpusFrontierSitemap(s: SparkSession, dir: String): DataFrame =
    WebCorpusApp.frontier(s, built(s), robotsFx,
      psl = Some(s.read.parquet(pslFx)),
      sitemaps = Some(s.read.parquet(crawlSitemapsFx)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q344_webcorpus_redirects" -> (q344WebcorpusRedirects _),
    "q345_webcorpus_frontier_inc" -> (q345WebcorpusFrontierInc _),
    "q347_webcorpus_canonicals" -> (q347WebcorpusCanonicals _),
    "q348_webcorpus_frontier_sitemap" -> (q348WebcorpusFrontierSitemap _),
    "q340_webcorpus_links" -> (q340WebcorpusLinks _),
    "q341_webcorpus_frontier" -> (q341WebcorpusFrontier _),
    "q342_webcorpus_maintain" -> (q342WebcorpusMaintain _),
    "q343_webcorpus_frontier_ranked" -> (q343WebcorpusFrontierRanked _),
    "q313_webcorpus" -> (q313Webcorpus _),
    "q314_webcorpus_rejects" -> (q314WebcorpusRejects _),
    "q315_webcorpus_manifest" -> (q315WebcorpusManifest _),
    "q316_webcorpus_search" -> (q316WebcorpusSearch _),
    "q317_webcorpus_append" -> (q317WebcorpusAppend _),
    "q318_webcorpus_knn" -> (q318WebcorpusKnn _),
    "q323_webcorpus_stream" -> (q323WebcorpusStream _),
    "q334_webcorpus_decontam" -> (q334WebcorpusDecontam _))

  // ------------------------------------------------------- oracle SQL

  /** The parsed graftbot rule rows (shared by every phase). */
  private val rulesCte =
    s"""rrules AS (
       |  SELECT site, exp_allow[g.i] AS allow, exp_path[g.i] AS rule_path
       |  FROM read_parquet('$robotsFx'),
       |    LATERAL (SELECT unnest(generate_series(1, len(exp_path))) AS i) g)""".stripMargin

  /** One pipeline phase as a CTE chain: status-200 population (`where`
    * over doc_id) → url dedup (+ already-crawled gate when `hist`) →
    * robots longest-match verdicts (wildcard patterns via the SHARED
    * [[Robots.patternRegexSqlFor]] conversion) → content blocks →
    * paragraph dedup (+ hash-history screen when `hist`) → the shared
    * survivor chain. Terminates in surv<sfx>(doc_id=url, text) plus
    * corpusfp<sfx>/corpusurl<sfx> for downstream phases. */
  private def phaseCtes(sfx: String, where: String,
                        hist: Option[String]): String = {
    val crawlGate = hist.fold("")(h =>
      s"  WHERE url NOT IN (SELECT u FROM corpusurl$h)\n")
    val seenExpr = hist.fold("FALSE AS seen")(h =>
      s"(ph$h.text IS NOT NULL) AS seen")
    val seenJoin = hist.fold("")(h =>
      s" LEFT JOIN ph$h ON c.text = ph$h.text")
    val parHist = hist.fold("")(h =>
      s"ph$h AS (SELECT DISTINCT text FROM cb$h),\n")
    // r17 canonical electorate: the run's url-deduped page set, plus the
    // written corpus on the incremental phase (rejected history pages
    // never elect — their content was never kept)
    val histElect = hist.fold("")(h =>
      s"""
         |             OR 'https://example.com/doc' || (doc_id - 1)
         |                IN (SELECT u FROM corpusurl$h)""".stripMargin)
    s"""ok$sfx AS (
       |  SELECT doc_id, url FROM read_parquet('$htmlDocs')
       |  WHERE doc_id % 53 NOT IN (7, 21) AND ($where)),
       |uq$sfx AS (
       |  SELECT doc_id, url FROM ok$sfx
       |$crawlGate  QUALIFY row_number() OVER (PARTITION BY url ORDER BY url) = 1),
       |rb$sfx AS (
       |  SELECT u.doc_id, u.url, rr.allow, rr.rule_path,
       |    row_number() OVER (PARTITION BY u.url
       |      ORDER BY len(rr.rule_path) DESC NULLS LAST,
       |               rr.allow DESC NULLS LAST,
       |               rr.rule_path DESC NULLS LAST) AS rn
       |  FROM uq$sfx u LEFT JOIN rrules rr
       |    ON rr.site = 'example.com'
       |   AND regexp_matches('/doc' || u.doc_id, ${Robots.patternRegexSqlFor("rr.rule_path")})),
       |al$sfx AS (SELECT doc_id, url FROM rb$sfx WHERE rn = 1 AND coalesce(allow, TRUE)),
       |ni$sfx AS (
       |  SELECT doc_id, url FROM al$sfx
       |  WHERE doc_id % 53 NOT IN (34, 42)),
       |cv$sfx AS (
       |  SELECT doc_id, url FROM ni$sfx
       |  WHERE NOT (doc_id % 53 = 12
       |             AND ('https://example.com/doc' || (doc_id - 1)
       |                  IN (SELECT url FROM uq$sfx)$histElect))),
       |cb$sfx AS (
       |  SELECT a.url, h.pos, h.text FROM hcls h JOIN cv$sfx a USING (doc_id)
       |  WHERE h.is_content),
       |${parHist}pw$sfx AS (
       |  SELECT c.url, c.pos, c.text,
       |    row_number() OVER (PARTITION BY c.text ORDER BY c.url, c.pos) AS rn,
       |    $seenExpr
       |  FROM cb$sfx c$seenJoin),
       |pd$sfx AS (
       |  SELECT url, count(*) AS n_pars,
       |    CAST(sum(CASE WHEN rn = 1 AND NOT seen THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    coalesce(string_agg(CASE WHEN rn = 1 AND NOT seen THEN text END, ' ' ORDER BY pos), '') AS text
       |  FROM pw$sfx GROUP BY url),
       |wd$sfx AS (SELECT url AS doc_id, text FROM pd$sfx WHERE n_kept > 0),
       |${LlmQueries.corpusSurvivorCtesFor(sfx, "TRUE", from = s"wd$sfx")},
       |corpusfp$sfx AS (SELECT md5(text) AS fp FROM surv$sfx),
       |corpusurl$sfx AS (SELECT doc_id AS u FROM surv$sfx)""".stripMargin
  }

  /** The global order over a phase's survivors; `hist` adds the
    * corpus-fp gate and offsets positions past the history count. */
  private def rankCte(sfx: String, hist: Option[String]): String = {
    val order =
      s"ORDER BY ('0x' || substring(md5(doc_id), 1, 15))::BIGINT, doc_id"
    hist match {
      case None =>
        s"""rk$sfx AS (
           |  SELECT doc_id AS url, md5(text) AS fp, text,
           |    row_number() OVER ($order) AS pos
           |  FROM surv$sfx)""".stripMargin
      case Some(h) =>
        s"""gated$sfx AS (
           |  SELECT doc_id, text FROM surv$sfx
           |  WHERE md5(text) NOT IN (SELECT fp FROM corpusfp$h)),
           |rk$sfx AS (
           |  SELECT doc_id AS url, md5(text) AS fp, text,
           |    row_number() OVER ($order)
           |      + (SELECT count(*) FROM surv$h) AS pos
           |  FROM gated$sfx)""".stripMargin
    }
  }

  private val langCase =
    """(CASE WHEN n_en = 0 AND n_es = 0 AND n_de = 0 THEN 'und'
      |      WHEN n_en >= n_es AND n_en >= n_de THEN 'en'
      |      WHEN n_es >= n_de THEN 'es'
      |      ELSE 'de' END)""".stripMargin

  /** The (url, stage) reject sets of one phase — the pipeline's stage
    * attribution replayed (priorities = pipeline order; each stage's
    * set is computed from the previous stage's survivors). */
  private def rejectsSql(sfx: String, hist: Option[String]): String = {
    val crawled = hist.fold("")(h =>
      s"""UNION ALL
         |SELECT url, 'url_duplicate' AS stage FROM ok$sfx
         |WHERE url IN (SELECT u FROM corpusurl$h)
         |""".stripMargin)
    val histFp = hist.fold("")(h =>
      s"""UNION ALL
         |SELECT doc_id AS url, 'exact_duplicate' AS stage FROM surv$sfx
         |WHERE md5(text) IN (SELECT fp FROM corpusfp$h)
         |""".stripMargin)
    val histElect = hist.fold("")(h =>
      s""" OR 'https://example.com/doc' || (doc_id - 1)
         |      IN (SELECT u FROM corpusurl$h)""".stripMargin)
    s"""SELECT url, 'url_duplicate' AS stage FROM (
       |  SELECT url, row_number() OVER (PARTITION BY url ORDER BY url) AS rn
       |  FROM ok$sfx) WHERE rn > 1
       |$crawled
       |UNION ALL
       |SELECT url, 'robots_disallowed' AS stage FROM rb$sfx
       |WHERE rn = 1 AND NOT coalesce(allow, TRUE)
       |UNION ALL
       |SELECT url, 'noindex' AS stage FROM al$sfx
       |WHERE doc_id % 53 IN (34, 42)
       |UNION ALL
       |SELECT url, 'canonical_variant' AS stage FROM ni$sfx
       |WHERE doc_id % 53 = 12
       |  AND ('https://example.com/doc' || (doc_id - 1)
       |       IN (SELECT url FROM uq$sfx)$histElect)
       |UNION ALL
       |SELECT url, 'no_content' AS stage FROM cv$sfx
       |WHERE url NOT IN (SELECT DISTINCT url FROM cb$sfx)
       |UNION ALL
       |SELECT url, 'paragraph_dup' AS stage FROM pd$sfx WHERE n_kept = 0
       |UNION ALL
       |SELECT doc_id AS url, 'language' AS stage FROM base$sfx
       |WHERE $langCase <> 'en'
       |UNION ALL
       |SELECT doc_id AS url, 'quality' AS stage FROM base$sfx
       |WHERE $langCase = 'en'
       |  AND NOT (n_tokens >= 10 AND n_tokens <= 1000 AND n_stop / n_tokens >= 0.02)
       |UNION ALL
       |SELECT doc_id AS url, 'exact_duplicate' AS stage FROM langq$sfx
       |WHERE doc_id NOT IN (SELECT doc_id FROM exact$sfx)
       |UNION ALL
       |SELECT doc_id AS url, 'near_duplicate' AS stage FROM losers$sfx
       |$histFp""".stripMargin
  }

  private def buildPrelude: String =
    s"""WITH ${LlmQueries.htmlBlockCtes},
       |$rulesCte,
       |${phaseCtes("w", "TRUE", None)}""".stripMargin

  private def incPrelude: String =
    s"""WITH ${LlmQueries.htmlBlockCtes},
       |$rulesCte,
       |${phaseCtes("x1", "doc_id % 6 <> 5", None)},
       |${phaseCtes("x2", "doc_id % 6 = 5", Some("x1"))}""".stripMargin

  /** The two-phase incremental corpus replay — shared by q317 (batch
    * append) and q323 (streaming append), which must agree bit-for-bit. */
  private lazy val incCorpusSql: String =
    s"""$incPrelude,
       |${rankCte("x1", None)},
       |${rankCte("x2", Some("x1"))},
       |u AS (SELECT url, fp, pos FROM rkx1 UNION ALL SELECT url, fp, pos FROM rkx2)
       |SELECT url, fp, CAST(pos AS BIGINT) AS pos,
       |  CAST((pos - 1) // ${WebCorpusApp.ShardSize} AS BIGINT) AS shard
       |FROM u""".stripMargin

  /** Extraction + RFC 3986 resolution over the packed 200-status pages —
    * the q326 chain with the pattern/formula constants interpolated from
    * the operators; the resolved targets ARE canonical on this fixture,
    * so the engine's full canonicalizer must be the identity on them. */
  private val linksCtes: String =
    s"""lpages AS (
       |  SELECT doc_id, url, html FROM read_parquet('$htmlDocs')
       |  WHERE doc_id % 53 NOT IN (7, 21)),
       |ltag AS (SELECT doc_id, url,
       |          unnest(regexp_extract_all(html, '${graft.operators.Html.AnchorTagPattern}', 1)) AS tag
       |        FROM lpages),
       |llk AS (SELECT doc_id, url,
       |          regexp_extract(tag, '${graft.operators.Html.TagHrefPattern}', 1) AS href,
       |          (regexp_matches(tag, '${graft.operators.Html.RelNofollowPattern}')
       |           OR doc_id % 53 = 34) AS nf
       |        FROM ltag
       |        WHERE regexp_extract(tag, '${graft.operators.Html.TagHrefPattern}', 1) <> ''),
       |lrr AS (SELECT url,
       |          ${graft.operators.Html.resolveHrefSqlFor("url", "href")} AS dst,
       |          nf
       |        FROM llk)""".stripMargin

  /** Redirect-map replay + the bounded 4-hop terminal resolution + the
    * fetched gate (r16 — mirrors [[WebCorpusApp.frontierCandidates]]):
    * the map from the warc fixture's 301 formula (even sources chain to
    * the fetched previous doc, odd to the never-fetched /moved),
    * functionalized min(dst) per src, four coalescing hop lookups, loop
    * members dropped (terminal still has an outgoing edge), then minus
    * the decoded page set. Ends at `fr`: the resolved candidate urls.
    * Requires `lrr`/`lpages` from [[linksCtes]] upstream. */
  private def chainCtesFor(extraCand: String): String =
    s"""rmap AS (SELECT 'https://example.com/doc' || doc_id AS src,
       |    CASE WHEN doc_id % 2 = 0
       |      THEN 'https://example.com/doc' || (doc_id - 1)
       |      ELSE 'https://example.com/doc' || doc_id || '/moved?a=1&b=2'
       |    END AS dst
       |  FROM read_parquet('$htmlDocs') WHERE doc_id % 53 = 21),
       |cmap AS (SELECT 'https://example.com/doc' || doc_id AS src,
       |    CASE WHEN doc_id % 53 = 12
       |      THEN 'https://example.com/doc' || (doc_id - 1)
       |      ELSE 'https://example.com/canon' || doc_id
       |    END AS dst
       |  FROM read_parquet('$htmlDocs') WHERE doc_id % 53 IN (12, 46)),
       |rm AS (SELECT src, min(dst) AS dst FROM
       |         (SELECT src, dst FROM rmap UNION ALL SELECT src, dst FROM cmap)
       |       GROUP BY src),
       |cand0 AS (SELECT DISTINCT cu FROM (
       |  SELECT dst AS cu FROM lrr WHERE dst IS NOT NULL AND NOT nf
       |  UNION ALL SELECT dst AS cu FROM cmap$extraCand)),
       |ch1 AS (SELECT c.cu, coalesce(m.dst, c.cu) AS t
       |        FROM cand0 c LEFT JOIN rm m ON c.cu = m.src),
       |ch2 AS (SELECT cu, coalesce(m.dst, t) AS t
       |        FROM ch1 LEFT JOIN rm m ON ch1.t = m.src),
       |ch3 AS (SELECT cu, coalesce(m.dst, t) AS t
       |        FROM ch2 LEFT JOIN rm m ON ch2.t = m.src),
       |ch4 AS (SELECT cu, coalesce(m.dst, t) AS t
       |        FROM ch3 LEFT JOIN rm m ON ch3.t = m.src),
       |res AS (SELECT DISTINCT t AS cu FROM ch4
       |        WHERE t NOT IN (SELECT src FROM rm)),
       |crawled AS (SELECT DISTINCT url FROM lpages),
       |fr AS (SELECT cu FROM res WHERE cu NOT IN (SELECT url FROM crawled))""".stripMargin

  /** The default candidate pool: follow-able link targets ∪ canonical
    * dsts (r17 — nofollow edges never seed; hinted dsts always do). */
  private val chainCtes: String = chainCtesFor("")

  /** PSL longest-match registrable domain over a host-keyed CTE (the
    * q331 machinery, prefix-parameterized so one oracle can map both
    * the candidate hosts and the Crawl-delay sites): listed suffix of k
    * labels → one label + the suffix; unlisted → last two labels. Ends
    * at `${"$"}{p}rd`: (host, registered_domain). */
  private def rdCtesFor(p: String, srcCte: String, hostCol: String): String =
    s"""${p}lab AS (SELECT $hostCol AS host, string_split($hostCol, '.') AS ls
       |        FROM (SELECT DISTINCT $hostCol FROM $srcCte)),
       |${p}cnd AS (SELECT host, g.k AS k,
       |          array_to_string(ls[len(ls) - g.k + 1 : len(ls)], '.') AS suffix
       |        FROM ${p}lab,
       |          LATERAL (SELECT unnest(generate_series(1, least(4, len(ls)))) AS k) g),
       |${p}hit AS (SELECT c.host, max(c.k) AS bestk
       |        FROM ${p}cnd c JOIN read_parquet('$pslFx') s USING (suffix)
       |        GROUP BY c.host),
       |${p}rd AS (SELECT l.host,
       |         array_to_string(
       |           l.ls[len(l.ls) - least(len(l.ls), coalesce(t.bestk + 1, 2)) + 1 : len(l.ls)],
       |           '.') AS registered_domain
       |       FROM ${p}lab l LEFT JOIN ${p}hit t USING (host))""".stripMargin

  /** Robots longest-match gate over `fr` + the PSL domain + the
    * domain-MAX Crawl-delay — shared tail of the two frontier oracles.
    * Ends at `j`: (cu, host, registered_domain, crawl_delay). */
  private val frontierGateCtes: String =
    s"""hp AS (SELECT cu,
       |         regexp_extract(cu, '^https?://(?:[^@/]*@)?([^:/?#]+)', 1) AS host,
       |         CASE WHEN regexp_extract(cu, '^https?://[^/?#]+([^?#]*)', 1) = ''
       |              THEN '/' ELSE regexp_extract(cu, '^https?://[^/?#]+([^?#]*)', 1)
       |         END AS path
       |       FROM fr),
       |rbs AS (SELECT f.cu, f.host, rr.allow, rr.rule_path,
       |          row_number() OVER (PARTITION BY f.cu
       |            ORDER BY len(rr.rule_path) DESC NULLS LAST,
       |                     rr.allow DESC NULLS LAST,
       |                     rr.rule_path DESC NULLS LAST) AS rn
       |        FROM hp f LEFT JOIN rrules rr
       |          ON f.host = rr.site
       |         AND regexp_matches(f.path, ${Robots.patternRegexSqlFor("rr.rule_path")})),
       |alw AS (SELECT cu, host FROM rbs WHERE rn = 1 AND coalesce(allow, TRUE)),
       |${rdCtesFor("h", "alw", "host")},
       |dly AS (SELECT site, exp_crawl_delay FROM read_parquet('$robotsFx')
       |        WHERE exp_crawl_delay IS NOT NULL),
       |${rdCtesFor("d", "dly", "site")},
       |dmax AS (SELECT r.registered_domain,
       |           CAST(max(d.exp_crawl_delay) AS BIGINT) AS crawl_delay
       |         FROM dly d JOIN drd r ON d.site = r.host GROUP BY 1),
       |j AS (SELECT a.cu, a.host, hrd.registered_domain,
       |        CAST(coalesce(m.crawl_delay, 1) AS BIGINT) AS crawl_delay
       |      FROM alw a
       |        JOIN hrd ON a.host = hrd.host
       |        LEFT JOIN dmax m
       |          ON hrd.registered_domain = m.registered_domain)""".stripMargin

  /** The replayed frontier — shared verbatim by q341 (one-shot build)
    * and q345 (incremental state): candidates through chains, the
    * robots gate, PSL domains, and the Crawl-delay wave rule. */
  private lazy val frontierSql: String =
    s"""WITH $linksCtes,
       |$rulesCte,
       |$chainCtes,
       |$frontierGateCtes
       |SELECT cu AS canonical_url, host, registered_domain, crawl_delay,
       |  CAST((row_number() OVER (PARTITION BY registered_domain ORDER BY cu) - 1)
       |       * greatest(crawl_delay, 1) AS BIGINT) AS wave
       |FROM j""".stripMargin

  /** Robots `Sitemap:` declarations (the q346 line walk) + the DECLARED
    * files' `<loc>` entries from the crawl's fetched-sitemap store,
    * entity-decoded and canonicalized (these locs' only decoration is
    * the `?b=2&amp;a=1` query, whose canonical form is the sorted
    * `?a=1&b=2` — stated by formula, the q340 convention). Ends at
    * `smlocs(cu)`. The store's undeclared decoy file is filtered by the
    * declaration join. */
  private val sitemapSeedCtes: String =
    s"""smf AS (SELECT site,
       |    string_split(replace(robots_txt, chr(13), ''), chr(10)) AS ls
       |  FROM read_parquet('$robotsFx')),
       |sml AS (SELECT trim(regexp_replace(ls[g.i], '#.*$$', ''), ' ' || chr(9)) AS line
       |  FROM smf, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g),
       |smdecl AS (SELECT DISTINCT
       |    trim(substr(line, strpos(line, ':') + 1), ' ' || chr(9)) AS u
       |  FROM sml
       |  WHERE strpos(line, ':') > 1
       |    AND lower(trim(substr(line, 1, strpos(line, ':') - 1),
       |                   ' ' || chr(9))) = 'sitemap'
       |    AND trim(substr(line, strpos(line, ':') + 1), ' ' || chr(9)) <> ''),
       |smraw AS (SELECT unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS blk
       |  FROM read_parquet('$crawlSitemapsFx')
       |  WHERE url IN (SELECT u FROM smdecl)),
       |smlocs AS (SELECT replace(replace(
       |    regexp_extract(blk, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1),
       |    '&amp;', '&'), '?b=2&a=1', '?a=1&b=2') AS cu
       |  FROM smraw
       |  WHERE regexp_extract(blk, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1) <> '')""".stripMargin

  /** q348's replay: [[frontierSql]] with the robots-declared sitemap
    * locs unioned into the candidate pool — same chains, same gates. */
  private lazy val frontierSitemapSql: String =
    s"""WITH $linksCtes,
       |$rulesCte,
       |$sitemapSeedCtes,
       |${chainCtesFor("\n  UNION ALL SELECT cu FROM smlocs")},
       |$frontierGateCtes
       |SELECT cu AS canonical_url, host, registered_domain, crawl_delay,
       |  CAST((row_number() OVER (PARTITION BY registered_domain ORDER BY cu) - 1)
       |       * greatest(crawl_delay, 1) AS BIGINT) AS wave
       |FROM j""".stripMargin

  val oracles: Map[String, String] = Map(
    // the written 3xx artifact vs the fixture's Location formula,
    // canonical form stated per the q300 pack-and-recover convention
    "q344_webcorpus_redirects" ->
      s"""SELECT 'https://example.com/doc' || doc_id AS src,
         |  CASE WHEN doc_id % 2 = 0
         |    THEN 'https://example.com/doc' || (doc_id - 1)
         |    ELSE 'https://example.com/doc' || doc_id || '/moved?a=1&b=2'
         |  END AS dst
         |FROM read_parquet('$htmlDocs') WHERE doc_id % 53 = 21""".stripMargin,
    // the written artifact vs the replayed extraction+resolution chain;
    // r17: the follow directive rides along — an edge is nofollow iff
    // every anchor occurrence is (rel=nofollow or the %53==34 page-level
    // meta; the %53==42 X-Robots-Tag population is noindex-ONLY and must
    // read follow here)
    "q340_webcorpus_links" ->
      s"""WITH $linksCtes
         |SELECT url, dst AS dst_canonical, CAST(count(*) AS BIGINT) AS w,
         |  bool_and(nf) AS nofollow
         |FROM lrr WHERE dst IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // link targets redirect-resolved to terminals (r16), minus every
    // decoded page url (corpus ∪ rejects = the decoded set, and page
    // urls are canonical on this fixture), then the robots
    // longest-match + the PSL domain + the crawl-delay wave rule
    "q341_webcorpus_frontier" -> frontierSql,
    // incremental state must compose into the SAME frontier — q345
    // shares q341's oracle verbatim (the q317/q323 convention)
    "q345_webcorpus_frontier_inc" -> frontierSql,
    // the head-injection formulas: %53==12 elects the previous doc,
    // %53==46 hints a never-fetched /canon url (self-hints would drop,
    // none exist in the fixture)
    "q347_webcorpus_canonicals" ->
      s"""SELECT 'https://example.com/doc' || doc_id AS src,
         |  CASE WHEN doc_id % 53 = 12
         |    THEN 'https://example.com/doc' || (doc_id - 1)
         |    ELSE 'https://example.com/canon' || doc_id
         |  END AS dst
         |FROM read_parquet('$htmlDocs') WHERE doc_id % 53 IN (12, 46)""".stripMargin,
    // q341's gating + the robots-declared sitemap locs in the pool
    "q348_webcorpus_frontier_sitemap" -> frontierSitemapSql,
    "q313_webcorpus" ->
      s"""$buildPrelude,
         |${rankCte("w", None)}
         |SELECT r.url, r.fp,
         |  CAST(len(string_split(lower(r.text), ' ')) AS BIGINT) AS n_tokens,
         |  p.n_pars, p.n_kept,
         |  CAST(r.pos AS BIGINT) AS pos,
         |  CAST((r.pos - 1) // ${WebCorpusApp.ShardSize} AS BIGINT) AS shard
         |FROM rkw r JOIN pdw p USING (url)""".stripMargin,
    "q314_webcorpus_rejects" ->
      s"""$buildPrelude
         |${rejectsSql("w", None)}""".stripMargin,
    "q315_webcorpus_manifest" ->
      s"""$buildPrelude,
         |rej AS (${rejectsSql("w", None)})
         |SELECT
         |  (SELECT count(*) FROM rej WHERE stage = 'url_duplicate') AS n_url_duplicate,
         |  (SELECT count(*) FROM rej WHERE stage = 'robots_disallowed') AS n_robots_disallowed,
         |  (SELECT count(*) FROM rej WHERE stage = 'noindex') AS n_noindex,
         |  (SELECT count(*) FROM rej WHERE stage = 'canonical_variant') AS n_canonical_variant,
         |  (SELECT count(*) FROM rej WHERE stage = 'no_content') AS n_no_content,
         |  (SELECT count(*) FROM rej WHERE stage = 'paragraph_dup') AS n_paragraph_dup,
         |  (SELECT count(*) FROM rej WHERE stage = 'language') AS n_language,
         |  (SELECT count(*) FROM rej WHERE stage = 'quality') AS n_quality,
         |  (SELECT count(*) FROM rej WHERE stage = 'exact_duplicate') AS n_exact_duplicate,
         |  (SELECT count(*) FROM rej WHERE stage = 'near_duplicate') AS n_near_duplicate,
         |  (SELECT count(*) FROM survw) AS n_corpus,
         |  (SELECT CAST((count(*) + ${WebCorpusApp.ShardSize} - 1) // ${WebCorpusApp.ShardSize} AS BIGINT) FROM survw) AS n_shards,
         |  (SELECT count(DISTINCT text) FROM cbw) AS n_paragraph_hashes,
         |  (SELECT count(*) FROM okw) AS n_pages""".stripMargin,
    "q316_webcorpus_search" ->
      s"""$buildPrelude,
         |${rankCte("w", None)},
         |d AS (SELECT pos AS doc_id, url, lower(text) AS t FROM rkw),
         |tk AS (SELECT doc_id, url, CAST(len(string_split(t, ' ')) AS BIGINT) AS dl,
         |         unnest(string_split(t, ' ')) AS tok FROM d),
         |tf AS (SELECT doc_id, url, dl, tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM tk WHERE tok IN ('training', 'quality') GROUP BY 1, 2, 3, 4),
         |alltk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM d),
         |dfs AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |        FROM alltk WHERE tok IN ('training', 'quality') GROUP BY tok),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(len(string_split(t, ' '))) AS BIGINT) AS total FROM d),
         |sc AS (SELECT f.doc_id, f.url, f.tok,
         |         ((CAST(st.n - x.df AS DOUBLE) + 0.5) / (CAST(x.df AS DOUBLE) + 0.5))
         |           * (CAST(f.tf AS DOUBLE) * 2.2) /
         |           (CAST(f.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
         |             (CAST(f.dl AS DOUBLE) / (CAST(st.total AS DOUBLE) / CAST(st.n AS DOUBLE))))) AS s
         |       FROM tf f JOIN dfs x USING (tok), st),
         |agg AS (SELECT doc_id, url,
         |          coalesce(sum(CASE WHEN tok = 'training' THEN s END), 0.0)
         |          + coalesce(sum(CASE WHEN tok = 'quality' THEN s END), 0.0) AS score
         |        FROM sc GROUP BY 1, 2)
         |SELECT url, score FROM agg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "q317_webcorpus_append" -> incCorpusSql,
    // streaming arrival must be bit-identical to the batch append —
    // q323 shares q317's oracle by construction
    "q323_webcorpus_stream" -> incCorpusSql,
    // maintenance must be indistinguishable: after the fold, a PLAIN
    // reader serves q317's oracle verbatim (the q328 convention)
    "q342_webcorpus_maintain" -> incCorpusSql,
    // the q327-shaped integer PageRank over the SAME link formula, then
    // the frontier gating, waves ordered (rank DESC, url) within host
    "q343_webcorpus_frontier_ranked" -> {
      def iterCte(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT n.node,
           |    (SELECT base15 FROM consts) +
           |      (85 * COALESCE(c.s, 0)) // 100 AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT p.dst, CAST(sum((r.rank * p.p) // 1000000) AS BIGINT) AS s
           |    FROM p JOIN $prev r ON p.src = r.node GROUP BY p.dst) c
           |  ON n.node = c.dst)""".stripMargin
      s"""WITH $linksCtes,
         |$rulesCte,
         |e AS (SELECT url AS src, dst, count(*) AS w
         |      FROM lrr WHERE dst IS NOT NULL GROUP BY 1, 2
         |      HAVING NOT bool_and(nf)),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY src),
         |p AS (SELECT e.src, e.dst, (e.w * 1000000) // outw.ow AS p
         |      FROM e JOIN outw ON e.src = outw.src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |consts AS (
         |  SELECT 1000000000000 // count(*) AS base,
         |         (15 * (1000000000000 // count(*))) // 100 AS base15
         |  FROM nodes),
         |r0 AS (SELECT node, (SELECT base FROM consts) AS rank FROM nodes),
         |${iterCte("r0", "r1")},
         |${iterCte("r1", "r2")},
         |${iterCte("r2", "r3")},
         |$chainCtes,
         |$frontierGateCtes,
         |jr AS (SELECT j.*, CAST(coalesce(r3.rank, 0) AS BIGINT) AS rank
         |       FROM j LEFT JOIN r3 ON j.cu = r3.node)
         |SELECT cu AS canonical_url, host, rank,
         |  CAST((row_number() OVER (PARTITION BY registered_domain
         |          ORDER BY rank DESC, cu) - 1)
         |       * greatest(crawl_delay, 1) AS BIGINT) AS wave
         |FROM jr""".stripMargin
    },
    // the corpus replay feeds BOTH sides: train = every written page,
    // bench = the sf documents slice + the leaked pos%7 pages
    "q334_webcorpus_decontam" ->
      s"""$buildPrelude,
         |${rankCte("w", None)},
         |bench AS (
         |  SELECT text FROM documents WHERE doc_id % 23 = 0
         |  UNION ALL
         |  SELECT text FROM rkw WHERE pos % 7 = 0),
         |bt AS (SELECT list_filter(string_split(lower(text), ' '),
         |                t -> length(t) > 0) AS ws FROM bench),
         |eg AS (SELECT DISTINCT
         |         concat_ws(' ', ws[i+1], ws[i+2], ws[i+3], ws[i+4],
         |                   ws[i+5], ws[i+6], ws[i+7], ws[i+8]) AS g
         |       FROM bt, LATERAL unnest(generate_series(0, len(ws) - 8)) t(i)
         |       WHERE len(ws) >= 8),
         |ct AS (SELECT url, list_filter(string_split(lower(text), ' '),
         |                t -> length(t) > 0) AS ws FROM rkw),
         |tg AS (SELECT DISTINCT url,
         |         concat_ws(' ', ws[i+1], ws[i+2], ws[i+3], ws[i+4],
         |                   ws[i+5], ws[i+6], ws[i+7], ws[i+8]) AS g
         |       FROM ct, LATERAL unnest(generate_series(0, len(ws) - 8)) t(i)
         |       WHERE len(ws) >= 8),
         |tot AS (SELECT url, CAST(count(*) AS BIGINT) AS n_grams
         |        FROM tg GROUP BY 1),
         |h AS (SELECT tg.url, CAST(count(*) AS BIGINT) AS hit
         |      FROM tg JOIN eg USING (g) GROUP BY 1)
         |SELECT tot.url, tot.n_grams,
         |  CAST(coalesce(h.hit, 0) AS BIGINT) AS hit,
         |  CAST(coalesce(h.hit, 0) * 1000 // tot.n_grams AS BIGINT) AS taint_permille
         |FROM tot LEFT JOIN h USING (url)""".stripMargin,
    "q318_webcorpus_knn" ->
      s"""$buildPrelude,
         |${rankCte("w", None)},
         |tk AS (SELECT pos, url, unnest(string_split(lower(text), ' ')) AS tok FROM rkw),
         |hb AS (SELECT pos, url,
         |         ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tk),
         |sv AS (SELECT pos, url, h % 64 AS bucket,
         |         CASE WHEN (h // 64) % 2 = 1 THEN 1 ELSE -1 END AS sgn FROM hb),
         |vec AS (SELECT pos, url, bucket, CAST(sum(sgn) AS BIGINT) AS v
         |        FROM sv GROUP BY 1, 2, 3),
         |q AS (SELECT bucket, v FROM vec WHERE url = '$Doc0Url'),
         |nq AS (SELECT CAST(sum(v * v) AS BIGINT) AS n2 FROM q),
         |dots AS (SELECT vec.pos, CAST(sum(vec.v * q.v) AS BIGINT) AS dot
         |         FROM vec JOIN q USING (bucket) GROUP BY 1),
         |norms AS (SELECT pos, url, CAST(sum(v * v) AS BIGINT) AS m2
         |          FROM vec GROUP BY 1, 2),
         |c AS (SELECT n.url,
         |        CAST(coalesce(d.dot, 0) AS DOUBLE) /
         |          (sqrt(CAST(n.m2 AS DOUBLE)) * sqrt(CAST((SELECT n2 FROM nq) AS DOUBLE))) AS cos
         |      FROM norms n LEFT JOIN dots d USING (pos)
         |      WHERE n.url <> '$Doc0Url' AND n.m2 > 0)
         |SELECT url, cos FROM c ORDER BY cos DESC, url LIMIT 10""".stripMargin)
}
