package graft.app

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.md5Long
import graft.operators.{Dedup, GlobalOrder, Html, Robots, Url, Warc}
import graft.operators.Sever.SeverOps
import graft.sources.{AnnIndex, Sinks, TextIndex}

/** The runnable WEB-CORPUS builder — the crawl-stack counterpart of
  * [[CorpusApp]]: one call takes raw WARC shards through the complete
  * production pipeline and materializes the corpus plus every derived
  * artifact a downstream trainer or search stack reads:
  *
  *   WARC bytes → HTTP-200 responses → charset-aware decode
  *   → URL canonicalization + dedup → robots permission (RFC 9309,
  *   wildcards included) → HTML content-block extraction
  *   → corpus-wide PARAGRAPH dedup (the CCNet line-dedup step: removes
  *     boilerplate and exact-copy mass without any doc-pair work)
  *   → language + quality gates → exact doc dedup → near-dup ladder
  *   → deterministic global order + training shards
  *
  * Written under `outDir` ([[Sinks.overwriteSwap]] crash guarantees):
  *  - `corpus`           — url, canonical_url, host, charset, fp,
  *                         n_tokens, n_pars, n_kept, text, pos, shard
  *  - `rejects`          — (url, stage): WHY every non-surviving page
  *                         died, stage ∈ url_duplicate | robots_disallowed
  *                         | noindex | canonical_variant | no_content |
  *                         paragraph_dup | language | quality |
  *                         exact_duplicate | near_duplicate —
  *                         the lineage table a curation team audits
  *  - `paragraph_hashes` — one md5 per DISTINCT paragraph ever seen:
  *                         the bounded state (~16 B/paragraph) that makes
  *                         incremental ingest possible without re-reading
  *                         corpus text
  *  - `links`            — (url, dst_canonical, w): the crawl's LINK
  *                         TABLE, extracted at decode time from every
  *                         fetched 200 page (RFC 3986 resolution +
  *                         canonical targets) — what the next-cycle
  *                         frontier, crawl PageRank, and spam heuristics
  *                         read instead of page bytes
  *  - `redirects`        — (src, dst): the crawl's REDIRECT MAP from
  *                         every 3xx response (canonical both sides,
  *                         one dst per src GLOBALLY — within a batch by
  *                         min(dst); across batches FIRST CAPTURE WINS:
  *                         appends anti-join the committed srcs) — the
  *                         frontier resolves link targets through its
  *                         chains so a target that redirects into the
  *                         corpus is never re-scheduled
  *  - `canonicals`       — (src, dst): the publisher's own
  *                         `<link rel=canonical>` election map (r17 —
  *                         same canonical-both-sides, one-dst-per-src
  *                         contract as `redirects`; self-hints dropped):
  *                         the frontier resolves through redirects ∪
  *                         canonicals and schedules hinted dsts
  *  - `manifest`         — one row of per-stage counts: the handshake a
  *                         consumer validates before reading a shard
  *  - `ledger`           — applied-batch ledger (exactly-once appends
  *                         under at-least-once delivery)
  *  - `text_index`       — the persisted inverted index
  *                         ([[graft.sources.TextIndex]]) over the WRITTEN
  *                         corpus, doc_id = pos
  *  - `embeddings`       — 64-dim signed-feature-hash document vectors
  *                         (integer-valued, oracle-replayable)
  *  - `ann_index`        — the persisted IVF-PQ index
  *                         ([[graft.sources.AnnIndex]]) over those vectors.
  *                         Retrieval is TWO-STAGE (the production shape):
  *                         the index generates ADC candidates, then the
  *                         embeddings table reranks them exactly — on
  *                         near-orthogonal hash vectors the 4-centroid PQ
  *                         is a candidate screen, not a ranker
  *                         (WebCorpusAppSpec pins recall@10 ≥ 0.7 at
  *                         nprobe=2 + rerank-50)
  *
  * Determinism: every keeper/order decision keys on (url, pos) or a
  * url hash — no RNG, no timestamps — so the same shards produce the
  * same corpus on every run and [[build]] is a no-op by content.
  *
  * Scale shape: the WARC walk is one task per shard (zero shuffle);
  * extraction and scoring are narrow projections; every dedup stage is
  * an equi-join/groupBy on a hash or url key; robots rules are a
  * broadcast-sized table; paragraph state is per DISTINCT paragraph.
  * The near-dup stage is the PPJoin exact ladder the one-shot clean
  * pins ([[graft.queries.LlmQueries.corpusSurvivorsOf]]'s convention —
  * prefix-filtered candidates, never naive all-pairs); at 100 TB the
  * banded MinHash ladder (q264) is the drop-in screen in front of it.
  *
  * [[append]] ingests a batch by reading only the written STATE tables
  * (canonical-url set, paragraph hashes, corpus fps, max position) —
  * the corpus text is never re-read; cost is linear in the batch. */
object WebCorpusApp {

  /** Docs per training shard — small so fixture scales exercise several
    * shards; production sizes this to the trainer's file budget. */
  val ShardSize = 64L

  val Agent = "graftbot"

  /** Label every Spark job a phase issues (guide §1.5): the description
    * is thread-local and propagated into SQLExecution's thread pool, so
    * the UI (and the job-level profiler) can attribute the app's ~25
    * actions per build/append to their pipeline phase instead of an
    * anonymized lambda call site. Pure metadata — no plan change. */
  private def labeled[T](s: SparkSession, l: String)(body: => T): T = {
    s.sparkContext.setJobDescription(s"webcorpus: $l")
    try body finally s.sparkContext.setJobDescription(null)
  }

  // ---------------------------------------------------------------- build

  def build(spark: SparkSession, shardsPath: String, robotsPath: String,
            outDir: String, shardPred: Column = lit(true)): Unit = {
    // sever after the WARC walk + charset decode: every output write
    // (corpus, rejects, paragraph state, links, redirects) consumes the
    // pipeline — without the cut each would re-walk the crawl bytes
    // (the multi-consumer-recompute trap; same rationale as
    // TextIndex.tablesOf)
    val recs = labeled(spark, "decode+sever")(decodeRecs(
      Warc.readShards(spark, shardsPath).filter(shardPred).toDF()).sever())
    val pages = pagesOf(recs)
    val nPages = labeled(spark, "page count")(pages.count())
    val staged = runPipeline(spark, pages, robotsPath,
      histParHashes = None, corpusFps = None, crawledCanonical = None)
    val corpus = GlobalOrder.rank(staged.survivors, "__h", "url", out = "pos")
      .withColumn("shard", expr(s"(pos - 1) div $ShardSize"))
      .select("url", "canonical_url", "host", "charset", "fp",
        "n_tokens", "n_pars", "n_kept", "text", "pos", "shard")
    // the six output tables derive from already-severed frames and land
    // in six distinct directories — independent writes, overlapped (§2.6)
    Sinks.inParallel(spark)(
      () => labeled(spark, "corpus rank+write")(Sinks.overwriteSwap(corpus, s"$outDir/corpus")),
      () => labeled(spark, "rejects write")(Sinks.overwriteSwap(staged.rejects, s"$outDir/rejects")),
      () => labeled(spark, "paragraph state write")(
        Sinks.overwriteSwap(staged.parHashes, s"$outDir/paragraph_hashes")),
      () => labeled(spark, "links write")(Sinks.overwriteSwap(linksOf(pages), s"$outDir/links")),
      () => labeled(spark, "redirects write")(
        Sinks.overwriteSwap(redirectsOf(recs), s"$outDir/redirects")),
      () => labeled(spark, "canonicals write")(
        Sinks.overwriteSwap(canonicalsOf(pages), s"$outDir/canonicals")))
    refresh(spark, outDir)
    labeled(spark, "ledger")(
      Sinks.commitLedger(spark, s"$outDir/ledger", Map("__init" -> nPages)))
    labeled(spark, "manifest audit")(auditDerived(spark, outDir))
    buildIndexes(spark, outDir)
  }

  /** Incremental ingest: one batch of shards through the same pipeline,
    * gated against the WRITTEN state only — already-crawled canonical
    * urls, the paragraph-hash history, and corpus content fingerprints.
    * Near-dup screening is within-batch (the [[CorpusApp.append]]
    * convention; batch-vs-history near-dup is its own operator, q75).
    * Re-running the same `batchId` is a FULL no-op (ledger-gated). */
  def append(spark: SparkSession, shardsPath: String, robotsPath: String,
             outDir: String, batchId: String, shardPred: Column): Unit =
    appendBatch(spark,
      Warc.readShards(spark, shardsPath).filter(shardPred).toDF(),
      robotsPath, outDir, batchId)

  /** [[append]] over an in-hand shard frame (the [[streamIngest]]
    * micro-batch entry). EXACTLY-ONCE under crash at ANY point, through
    * the one ledgered batch step ([[Sinks.ingestBatch]]):
    *
    *  1. every table/index append is a REVOCABLE tagged file move
    *     ([[Sinks.appendTagged]] — file names carry the batch tag);
    *  2. the LEDGER swap-commit is the single atomic commit point,
    *     written only after every append and the manifest landed;
    *  3. on entry, files whose tag is not in the ledger are PURGED
    *     ([[Sinks.purgeTagged]] — a file listing, never a data read),
    *     so a crashed attempt's partial writes vanish before the
    *     deterministic replay, and a COMMITTED batch replays as a
    *     full no-op.
    *
    * Readers that must not observe in-flight appends consult the
    * ledger (committed tags) — same discipline as any log-structured
    * table format. SINGLE WRITER assumed (also standard): a concurrent
    * append's uncommitted files are indistinguishable from a crashed
    * attempt's and would be purged; serialize appends per corpus. */
  def appendBatch(spark: SparkSession, shards: DataFrame, robotsPath: String,
                  outDir: String, batchId: String): Unit =
    Sinks.ingestBatch(spark, s"$outDir/ledger", batchId,
      appendedTables.map(t => s"$outDir/$t"))(
      applyBatch(spark, shards, robotsPath, outDir, batchId, _))

  /** [[appendBatch]]'s body, run after the purge: every append of the
    * batch and the manifest. Returns the batch's page count for the
    * ledger, or `None` when the batch leaves no trace. */
  private def applyBatch(spark: SparkSession, shards: DataFrame, robotsPath: String,
                         outDir: String, batchId: String,
                         ingest: Sinks.Ingest): Option[Long] = {
    // the build's overwriteSwap tables carry no tags, so the committed
    // set is exactly the ledger's
    val committed = ingest.committedTags
    refresh(spark, outDir)
    val recs = labeled(spark, "decode+sever")(
      decodeRecs(shards).sever()) // the build's recompute cut
    val pages = pagesOf(recs)
    val nPages = labeled(spark, "page count")(pages.count())
    // this batch's 3xx map, deduped against the COMMITTED map (r16
    // advice: the redirects table's one-dst-per-src contract must hold
    // GLOBALLY, not per batch) — FIRST CAPTURE WINS: a recrawled src
    // captured with a different Location in a later batch keeps its
    // original committed row (deterministic under the ledger's batch
    // order; an in-place min-merge would rewrite the whole table per
    // batch for a tie-break no consumer needs — the frontier
    // re-functionalizes through min(dst) either way). The anti-join
    // reads the 3xx-sized map, never corpus data. Severed: it feeds an
    // isEmpty probe and the tagged append below.
    val committedRedirects =
      if (Sinks.exists(spark, s"$outDir/redirects"))
        Sinks.readCommitted(spark, s"$outDir/redirects", committed)
      else {
        import spark.implicits._
        Seq.empty[(String, String)].toDF("src", "dst")
      }
    // NOT severed on the normal path (r17): `recs` is already the cut,
    // [[Sinks.appendTagged]] stage-writes to a side dir (no read-write
    // cycle against the committed table), and the tagged append is the
    // plan's ONLY consumer — a sever here was one pure-overhead
    // materialization per batch. The zero-page branch severs locally
    // (there the frame feeds an isEmpty probe AND the append).
    val newRedirects = redirectsOf(recs)
      .join(committedRedirects.select(col("src")), Seq("src"), "left_anti")
    if (nPages == 0) {
      // a batch with zero decodable PAGES but real 3xx records must NOT
      // no-op (r16 advice): redirects are only re-delivered with the
      // SAME WARC records, so dropping a redirect-only batch loses its
      // map entries permanently. Commit them under the same tagged-file
      // + ledger discipline (nPages = 0). Corpus, rejects, indexes and
      // the manifest are untouched by construction, so the audit is
      // skipped. A batch with NEITHER pages nor new redirects leaves no
      // trace at all: re-delivery recomputes the same no-op, so
      // idempotence holds either way.
      val nr = newRedirects.sever() // isEmpty probe + append: two consumers
      if (nr.isEmpty) return None
      Sinks.appendTagged(nr, s"$outDir/redirects", batchId)
      return Some(0L)
    }
    val written = spark.read.parquet(s"$outDir/corpus")
    val maxPos = labeled(spark, "max pos")(
      written.agg(coalesce(max(col("pos")), lit(0L))).head().getLong(0))
    val staged = runPipeline(spark, pages, robotsPath,
      histParHashes = Some(spark.read.parquet(s"$outDir/paragraph_hashes")),
      corpusFps = Some(written.select("fp")),
      crawledCanonical = Some(written.select("canonical_url")))
    // sever before the writes: the delta folds below re-read these rows,
    // and a post-refresh recompute would re-run the history gates against
    // state that now CONTAINS them (the CorpusApp self-read trap)
    val ranked = labeled(spark, "batch rank+sever")(
      GlobalOrder.rank(staged.survivors, "__h", "url", out = "pos0")
        .withColumn("pos", col("pos0") + maxPos)
        .withColumn("shard", expr(s"(pos - 1) div $ShardSize"))
        .select("url", "canonical_url", "host", "charset", "fp",
          "n_tokens", "n_pars", "n_kept", "text", "pos", "shard")
        .sever())
    val rejects = labeled(spark, "rejects sever")(staged.rejects.sever())
    val newHashes = labeled(spark, "paragraph state sever")(staged.parHashes.sever())
    // canonical hints under the same first-capture-wins discipline as
    // redirects (one dst per src globally)
    val committedCanonicals =
      if (Sinks.exists(spark, s"$outDir/canonicals"))
        Sinks.readCommitted(spark, s"$outDir/canonicals", committed)
      else {
        import spark.implicits._
        Seq.empty[(String, String)].toDF("src", "dst")
      }
    // six independent tagged appends into six distinct directories,
    // overlapped (§2.6); every one lands before the ledger commit below,
    // and a failure in any aborts the batch uncommitted (linksOf reads
    // only the severed decode cut and the tagged append is its single
    // consumer — unsevered on purpose, r17, same as newRedirects)
    Sinks.inParallel(spark)(
      () => labeled(spark, "corpus append")(
        Sinks.appendTagged(ranked, s"$outDir/corpus", batchId)),
      () => labeled(spark, "rejects append")(
        Sinks.appendTagged(rejects, s"$outDir/rejects", batchId)),
      () => labeled(spark, "paragraph state append")(
        Sinks.appendTagged(newHashes, s"$outDir/paragraph_hashes", batchId)),
      () => labeled(spark, "links append")(
        Sinks.appendTagged(linksOf(pages), s"$outDir/links", batchId)),
      () => labeled(spark, "redirects append")(
        Sinks.appendTagged(newRedirects, s"$outDir/redirects", batchId)),
      () => labeled(spark, "canonicals append")(Sinks.appendTagged(
        canonicalsOf(pages)
          .join(committedCanonicals.select(col("src")), Seq("src"), "left_anti"),
        s"$outDir/canonicals", batchId)))
    refresh(spark, outDir)
    // index maintenance BEFORE the commit (a crash here must revoke the
    // batch, not strand the indexes behind the corpus): append-only —
    // postings/df/stat DELTAS for the text index, assign+encode against
    // the WRITTEN quantizers for the ANN index; the history is never
    // re-read (q293/q310 convention)
    // the text-index append and the embeddings→ANN chain both read only
    // the severed `ranked` cut — two independent branches, overlapped
    Sinks.inParallel(spark)(
      () => labeled(spark, "text index append")(
        TextIndex.append(spark, s"$outDir/text_index",
          ranked.select(col("pos").as("doc_id"), col("text")), batchId)),
      () => labeled(spark, "embeddings + ann append") {
        val emb = embeddingsOf(ranked).sever()
        Sinks.appendTagged(emb, s"$outDir/embeddings", batchId)
        AnnIndex.append(spark, s"$outDir/ann_index",
          emb.select(col("vec_id"), col("embedding")), batchId)
      })
    // manifest BEFORE the commit: a crash after the ledger swap must
    // leave nothing stale (replay of a committed batch is a no-op and
    // would never repair it); a crash after the manifest but before the
    // commit is converged by the replay, which purges and rewrites
    labeled(spark, "manifest audit")(auditDerived(spark, outDir,
      nPagesOverride = Some(ingest.applied.values.sum + nPages)))
    // the caller's ledger swap is THE commit point: before it the batch
    // never happened (the next call purges its files); after it, replay
    // is a no-op
    Some(nPages)
  }

  /** The crawl's LINK TABLE from one decoded page set — the artifact a
    * crawler's next-cycle planning reads (the reference analog: the
    * scraped link table its DAGs crawl from). Extracted HERE, at decode
    * time, because this is the only moment the raw page bytes are in
    * hand — every downstream consumer (frontier, PageRank, spam
    * heuristics) reads (url, dst_canonical, w) and never re-touches
    * crawl bytes. Links come from EVERY fetched 200 page (a crawler
    * harvests from duplicates and rejects too — their links are real);
    * targets resolve through the RFC 3986 subset ([[Html.resolveHref]])
    * and land CANONICALIZED, the key the frontier dedups on.
    * Each edge carries the publisher's FOLLOW directive (r16 verdict
    * #3): `nofollow` is true iff every anchor occurrence says so —
    * rel=nofollow on the anchor, or page-level nofollow from
    * `<meta name=robots>` / the X-Robots-Tag header. The edge stays IN
    * the table (the artifact records; consumers decide): the frontier
    * and the crawl PageRank filter it out. */
  private def linksOf(pages: DataFrame): DataFrame =
    Html.linkEdgesRel(pages, urlCol = "url", htmlCol = "html",
        pageNofollow = col("meta_robots").contains("nofollow") ||
          lower(col("x_robots")).contains("nofollow"))
      .select(col("src").as("url"),
        Url.canonicalize(col("dst")).as("dst_canonical"), col("w"),
        col("nofollow"))
      .groupBy("url", "dst_canonical")
      .agg(sum(col("w")).as("w"), bool_and(col("nofollow")).as("nofollow"))

  /** The crawl's CANONICAL-HINT MAP (r16 verdict #4) — the publisher's
    * own `<link rel=canonical>` election, harvested in the SAME decoded
    * page set as [[linksOf]] (every fetched 200 page, rejected or not:
    * the hint is real either way): (src, dst), both canonical, hint
    * resolved against the page url through the RFC 3986 subset,
    * SELF-canonical hints dropped (the ubiquitous no-op), min(dst) per
    * src (the [[Url.resolveChains]] functionalization). The frontier
    * resolves targets through redirects ∪ canonicals and seeds the
    * hinted dsts; the pipeline's election gate rejects fetched variants
    * whose hint names another fetched page. */
  private def canonicalsOf(pages: DataFrame): DataFrame =
    pages.withColumn("__hint", col("canonical_hint"))
      .filter(col("__hint") =!= "")
      .withColumn("__dst0", Html.resolveHref(col("url"), col("__hint")))
      .filter(col("__dst0").isNotNull)
      .select(Url.canonicalize(col("url")).as("src"),
        Url.canonicalize(col("__dst0")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src").agg(min(col("dst")).as("dst"))

  /** Every table an append contributes tagged files to (purge targets —
    * the index roots are walked recursively, partition dirs included). */
  private val appendedTables = Seq("corpus", "rejects", "paragraph_hashes",
    "links", "redirects", "canonicals", "embeddings", "text_index/postings",
    "text_index/lexicon", "text_index/stats", "ann_index/postings")

  /** STREAMING incremental ingest — the crawl front door running
    * continuously against the WRITTEN corpus: WARC shard files land in
    * `srcDir`, the file source discovers them (`maxFilesPerTrigger`
    * bounds a micro-batch), and each micro-batch runs [[appendBatch]]'s
    * full pipeline via foreachBatch. Exactly-once composition:
    * Spark's checkpoint fixes the file→batch-id assignment (a restart
    * re-delivers the SAME files under the SAME id), and [[appendBatch]]
    * makes each id's application atomic (ledger commit) and its replay
    * a no-op — so crash at any point, including mid-batch, converges to
    * the once-only corpus. The batch and streaming paths are the same
    * code; arrival order affects only position offsets. */
  def streamIngest(spark: SparkSession, srcDir: String, robotsPath: String,
                   outDir: String, maxFilesPerTrigger: Int = 1): Unit = {
    // the shard schema is the CONTRACT, not a property of whatever files
    // happen to be present — inferring from srcDir would crash a stream
    // started before the first shard lands
    val schema = org.apache.spark.sql.Encoders.product[graft.operators.WarcShard].schema
    val shards = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    val q = shards.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // the micro-batch frame is re-playable but not free — pin it
        // once; appendBatch drives several actions over it
        appendBatch(spark, batch.sever(), robotsPath, outDir, s"stream-$bid")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/stream_ckpt")
      .start()
    q.awaitTermination()
  }

  // ------------------------------------------------------------- pipeline

  private case class Staged(survivors: DataFrame, rejects: DataFrame,
                            parHashes: DataFrame)

  /** ONE WARC walk feeding BOTH decode consumers (r15 verdict #3): the
    * status-200 pages charset-decoded AND the 3xx redirect rows with
    * their Location header — (url, http_status, http_location, charset,
    * html, meta_robots, canonical_hint). Harvesting redirects in the
    * page walk costs nothing extra (the walk already parses every
    * response record); a separate 3xx pass would re-read the raw crawl
    * bytes end to end. The two PAGE-DIRECTIVE scalars (`meta_robots`,
    * `canonical_hint` — r17) are extracted HERE, inside the severed
    * frame, on purpose: three downstream branches (links, canonicals
    * map, the pipeline's noindex + election gates) consume them, and
    * each branch re-running its own full-html regex pass was the
    * dominant cost of the r17 append regression (probe max task
    * 0.28 s → 1.53 s before this cut). Callers sever THIS frame once,
    * then [[pagesOf]]/[[redirectsOf]] are narrow post-cut projections
    * and the directive regexes run exactly once per page. */
  private def decodeRecs(shards: DataFrame): DataFrame = {
    import shards.sparkSession.implicits._
    Warc.responses(shards.as[graft.operators.WarcShard], status = None)
      .map { r =>
        val st = r.http_status.getOrElse(-1)
        val (cs, text) =
          if (st == 200)
            Warc.decodeBody(r.body.getOrElse(Array.emptyByteArray),
              r.http_content_type)
          else ("", "") // 3xx/4xx bodies never enter the corpus
        (r.target_uri.getOrElse(""), st, r.http_location.getOrElse(""),
          r.http_robots_tag.getOrElse(""), cs, text)
      }
      .toDF("url", "http_status", "http_location", "x_robots",
        "charset", "html")
      .withColumn("meta_robots", Html.metaRobots(col("html")))
      .withColumn("canonical_hint", Html.canonicalHref(col("html")))
  }

  /** HTTP-200 responses of a decoded walk: (url, x_robots, charset,
    * html, meta_robots, canonical_hint) — `x_robots` is the raw
    * X-Robots-Tag header ('' when absent), the header-level twin of the
    * `<meta name=robots>` directive; the last two are the decode-time
    * directive scalars (see [[decodeRecs]]). */
  private def pagesOf(recs: DataFrame): DataFrame =
    recs.filter(col("http_status") === 200 && col("url") =!= "")
      .select(col("url"), col("x_robots"), col("charset"), col("html"),
        col("meta_robots"), col("canonical_hint"))

  /** The crawl's REDIRECT MAP from one decoded walk — (src, dst), both
    * canonical, functionalized to one dst per src (min — the
    * [[Url.resolveChains]] contract): what the next-cycle frontier
    * resolves link targets through so a target that 301-chains into the
    * already-fetched corpus is never re-scheduled. 3xx statuses only;
    * a 3xx without a Location is unusable and dropped. */
  private def redirectsOf(recs: DataFrame): DataFrame =
    recs.filter(col("http_status").isin(301, 302, 303, 307, 308) &&
        col("url") =!= "" && col("http_location") =!= "")
      .select(Url.canonicalize(col("url")).as("src"),
        Url.canonicalize(col("http_location")).as("dst"))
      .groupBy("src").agg(min(col("dst")).as("dst"))

  /** The full clean over one page set. History gates (`Some(...)`) turn
    * the same pipeline into the append path; `None`s make it the build.
    * Returns survivors carrying the rank hash `__h`, the (url, stage)
    * reject ledger, and the NEW distinct paragraph hashes. */
  private def runPipeline(spark: SparkSession, pages: DataFrame,
                          robotsPath: String,
                          histParHashes: Option[DataFrame],
                          corpusFps: Option[DataFrame],
                          crawledCanonical: Option[DataFrame]): Staged = {
    // 1.-2c. THE GATE LEDGER (r17 — guide §2.3/§2.4): every pre-content
    //    gate (url dedup, already-crawled, robots, noindex, canonical
    //    election) verdicts in ONE narrow pass over the key columns —
    //    page bytes never enter it. The old shape derived each reject
    //    leg from its own stage of the chain, so the rejects union
    //    re-ran canonicalization ~6×, the keeper window, the robots
    //    longest-match and the hint resolution 2× each; the ledger runs
    //    each exactly once, is severed once (~60 B/page), and every
    //    consumer (the reject rows, the survivor gate, the page-metadata
    //    re-attach) is a filter over the cut. Verdict PRIORITY is the
    //    pipeline's stage order, pinned by the when-chain below: a page
    //    that is both a url-duplicate and robots-disallowed attributes
    //    as url_duplicate, exactly like the staged chain it replaces.
    val canon = pages
      .withColumn("canonical_url", Url.canonicalize(col("url")))
      .withColumn("host", Url.host(col("url")))
      .withColumn("path", Url.normPath(col("url")))
    val keys0 = canon.select("url", "canonical_url", "host", "path",
      "charset", "meta_robots", "x_robots", "canonical_hint")
    // already-crawled flag (append): left join + flag, not an anti join —
    // the crawled rows must stay IN the frame to take their reject stage
    val keys1 = crawledCanonical.fold(keys0.withColumn("__crawled", lit(false)))(
      c => keys0.join(c.distinct().withColumn("__crawled", lit(true)),
          Seq("canonical_url"), "left")
        .withColumn("__crawled", coalesce(col("__crawled"), lit(false))))
    // keeper = min url among the NON-crawled rows of a canonical group
    // (min-over-window — one keyed exchange; conditional min ignores the
    // crawled rows exactly like the old pre-window anti join did)
    val keys2 = keys1.withColumn("__keep",
      min(when(!col("__crawled"), col("url")))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("canonical_url")))
    // robots longest-match verdict, once per url (the groupBy inside
    // allowDecisions dedups; joined back so frame row-identity — and any
    // duplicate-url rows — survive verbatim)
    val verd = Robots.allowDecisions(
      keys0.select(col("url"), col("host"), col("path")),
      Robots.rules(Robots.readRobots(spark, robotsPath), Agent), keyCol = "url")
      .select(col("url").as("__vu"), col("allowed"))
    // electorate for the canonical election (r16 verdict #4): this run's
    // url-deduped canonical set ∪ the written corpus — rejected history
    // pages never elect (their content was never kept)
    val electorate = crawledCanonical
      .fold(keys2.filter(!col("__crawled")).select(col("canonical_url")))(c =>
        keys2.filter(!col("__crawled")).select(col("canonical_url"))
          .unionByName(c.distinct()))
      .distinct().select(col("canonical_url").as("__e"))
    val verdicted = keys2
      .join(verd, col("url") === col("__vu"), "left").drop("__vu")
      .withColumn("__noidx", col("meta_robots").contains("noindex") ||
        lower(col("x_robots")).contains("noindex"))
      .withColumn("__hint", when(col("canonical_hint") === "", lit(null))
        .otherwise(Url.canonicalize(
          Html.resolveHref(col("url"), col("canonical_hint")))))
      .withColumn("__stage",
        when(col("__crawled"), "url_duplicate")
          .when(col("url") =!= col("__keep"), "url_duplicate")
          .when(!coalesce(col("allowed"), lit(true)), "robots_disallowed")
          .when(col("__noidx"), "noindex"))
      .select("url", "canonical_url", "host", "charset", "__hint", "__stage")
    // the election needs membership of __hint in the electorate — a left
    // join with a flag (null hints match nothing); a hint to a
    // never-fetched url keeps the page (dropping it would lose the only
    // copy); the hint still seeds the frontier via the canonicals table
    val ledger = labeled(spark, "gate ledger sever")(verdicted
      .join(electorate.withColumn("__elect", lit(true)),
        verdicted("__hint") === col("__e"), "left")
      .withColumn("__stage", coalesce(col("__stage"),
        when(col("__hint").isNotNull && col("__hint") =!= col("canonical_url")
          && coalesce(col("__elect"), lit(false)), "canonical_variant")))
      .select("url", "canonical_url", "host", "charset", "__stage")
      .sever())
    val rejPre = ledger.filter(col("__stage").isNotNull)
      .select(col("url"), col("__stage").as("stage"))
    val electedKeys = ledger.filter(col("__stage").isNull).select("url")
    val elected = pages.join(electedKeys, Seq("url"), "left_semi")

    // 3. content-block extraction (link-density rule); pages with no
    //    qualifying block at all are the link-farm rejects
    // severed: the regex extraction is the per-byte hot loop, and blocks
    // feed paragraph dedup, the paragraph-hash state AND the no-content
    // rejects — three consumers, one extraction pass
    val blocks = labeled(spark, "block extraction sever")(
      Html.blocks(elected, idCol = "url", htmlCol = "html")
        .filter(col("is_content"))
        .select(col("url"), col("pos"), col("text"))
        .sever())
    val rejNoContent = electedKeys.join(blocks.select("url").distinct(),
        Seq("url"), "left_anti")
      .select(col("url"), lit("no_content").as("stage"))

    // 4. paragraph dedup — corpus-wide first occurrence by (url, pos),
    //    against the written hash history on append. Docs losing EVERY
    //    paragraph are the boilerplate/exact-copy rejects.
    // severed: the dedup's groupBy+join output feeds the paragraph_dup
    // rejects, the doc reassembly AND (via scored) every later stage
    val pd = labeled(spark, "paragraph dedup sever")(
      Dedup.paragraphDedup(blocks, "url", histParHashes).sever())
    val rejParDup = pd.filter(col("n_kept") === 0)
      .select(col("url"), lit("paragraph_dup").as("stage"))
    val docs = pd.filter(col("n_kept") > 0)
      .select(col("url"), col("n_pars"), col("n_kept"),
        col("clean_text").as("text"))
    // the new distinct paragraph hashes this page set contributes
    val parHashes = {
      val all = blocks.select(md5(col("text")).as("par_hash")).distinct()
      histParHashes.fold(all)(h =>
        all.join(h.select(col(h.columns.head).as("par_hash")),
          Seq("par_hash"), "left_anti"))
    }

    // 5. language + quality gates — the ONE scoring definition shared
    //    with the one-shot clean (corpusScoredOf), language first.
    // severed HERE, at the scoring output (r17): the lexicon-hit scoring
    // chain is the pipeline's per-token hot loop and THREE branches
    // consume it (the language rejects, the quality rejects, and the
    // qualified survivors) — before this cut the two reject legs each
    // re-ran the full scoring projection inside the rejects union
    val scored = labeled(spark, "scoring sever")(graft.queries.LlmQueries
      .corpusScoredOf(docs.select(col("url").as("doc_id"), col("text")))
      .select(col("doc_id").as("url"), col("n_tokens"),
        col("predicted_lang"), col("is_quality"))
      .join(docs, "url")
      .sever())
    val rejLang = scored.filter(col("predicted_lang") =!= "en")
      .select(col("url"), lit("language").as("stage"))
    val rejQuality = scored.filter(col("predicted_lang") === "en" && !col("is_quality"))
      .select(col("url"), lit("quality").as("stage"))
    // severed: the fp hash feeds the exact-dedup window, the near-dup
    // shingles AND the survivor projection — one md5 pass, three readers
    val qualified = labeled(spark, "quality score sever")(
      scored.filter(col("predicted_lang") === "en" && col("is_quality"))
        .withColumn("fp", md5(col("text")))
        .sever())

    // 6. exact dedup within the page set on the cleaned text (min url
    //    keeps) — min-over-window, same §2.4 rationale as the url layer
    val withFpKeep = qualified.withColumn("__keep",
      min(col("url")).over(org.apache.spark.sql.expressions.Window
        .partitionBy("fp")))
    val exact = withFpKeep.filter(col("url") === col("__keep")).drop("__keep")
    val rejExact = withFpKeep.filter(col("url") =!= col("__keep"))
      .select(col("url"), lit("exact_duplicate").as("stage"))

    // 7. near-dup ladder: PPJoin exact 3-shingle Jaccard >= 4/5, loser =
    //    the lexicographically larger url (the q64 convention)
    val sets = labeled(pages.sparkSession, "neardup shingles checkpoint")(
      Dedup.shingleSets(
        exact.select(col("url").as("doc_id"), col("text")), "doc_id", "text", 3)
        .sever()) // feeds both sides of the candidate self-join
    // severed (r17): the PPJoin candidate self-join is the pipeline's
    // most expensive join and BOTH the near-dup rejects and the survivor
    // anti-join consume its output — without the cut the candidate join
    // ran twice per build/append
    val losers = labeled(pages.sparkSession, "neardup losers sever")(
      Dedup.jaccardPairsExactOnSets(sets, thresholdNum = 4, thresholdDen = 5)
        .select(col("id_b").as("url")).distinct()
        .sever())
    val rejNear = losers.select(col("url"), lit("near_duplicate").as("stage"))
    val cleaned = exact.join(losers, Seq("url"), "left_anti")

    // 8. append only: the corpus-fp history gate AFTER the within-batch
    //    clean (the CorpusApp.append convention — the within-batch
    //    pipeline is identical in both modes, then history dedup gates
    //    what may enter)
    val gatedClean = corpusFps.fold(cleaned)(fps =>
      cleaned.join(fps.distinct(), Seq("fp"), "left_anti"))
    val rejHistFp = corpusFps.fold(spark.emptyDataFrame.limit(0)) { fps =>
      cleaned.join(fps.distinct(), Seq("fp"), "left_semi")
        .select(col("url"), lit("exact_duplicate").as("stage"))
    }
    // re-attach the page-level metadata the paragraph groupBy dropped
    val meta = ledger.select("url", "canonical_url", "host", "charset")
    val survivors = gatedClean
      .join(meta, "url")
      .withColumn("__h", md5Long(col("url")))
      .select("url", "canonical_url", "host", "charset", "fp",
        "n_tokens", "n_pars", "n_kept", "text", "__h")

    val rejects = Seq(rejPre, rejNoContent,
      rejParDup, rejLang, rejQuality, rejExact, rejNear, rejHistFp)
      .filter(_.columns.nonEmpty)
      .reduce(_ unionByName _)
    Staged(survivors, rejects, parHashes)
  }

  // ----------------------------------------------------------- embeddings

  /** 64-dim signed feature-hash document vectors over the corpus text —
    * integer bucket sums (md5-keyed, the q267 convention) densified to
    * array<float>, so the oracle can replay every value exactly from
    * the sparse relational form and the IVF-PQ index trains on them. */
  private[graft] def embeddingsOf(corpus: DataFrame): DataFrame = {
    val toks = corpus.select(col("pos").as("vec_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", md5Long(col("tok")))
    toks.select(col("vec_id"), (col("h") % 64).cast("int").as("bucket"),
        when(shiftright(col("h"), 6).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy("vec_id", "bucket").agg(sum("sgn").as("v"))
      .groupBy("vec_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("v")))).as("m"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => coalesce(element_at(col("m"), i), lit(0L)).cast("float"))
          .as("embedding"))
  }

  // ------------------------------------------------------ derived tables

  /** Corpus MAINTENANCE (r14 verdict #7): every tagged append leaves
    * per-batch files, so after thousands of batches every read pays
    * file-count-proportional footer/open overhead long before data
    * volume matters. One scheduled pass folds the debt:
    *
    *  1. purge uncommitted tags (crash leftovers) — compaction must
    *     fold COMMITTED rows only;
    *  2. compact each flat table ([[Sinks.compact]]: footer-count
    *     sizing, round-robin rewrite, swap-commit — rows unchanged);
    *  3. fold the text index's df/stat DELTA rows
    *     ([[TextIndex.compact]]) and compact both partitioned postings
    *     tables in one partitioned rewrite each
    *     ([[Sinks.compactPartitioned]]: bucket/cell structure — and
    *     therefore partition pruning — preserved);
    *  4. recompute the manifest from the rewritten tables (damage in
    *     the fold would surface against the oracle here).
    *
    * Crash-safe under the SAME ledger discipline as ingest: each
    * rewrite is an atomic swap of content-identical rows, so a crash
    * at ANY point leaves every table in a committed state (old or
    * compacted layout — same rows either way), the ledger untouched
    * (replayed batch ids still no-op), and the next maintain() or
    * append converges. Single writer, as always. */
  def maintain(spark: SparkSession, outDir: String,
               targetRowsPerFile: Long = 1L << 20): Unit = {
    Sinks.purgeUncommitted(spark, appendedTables.map(t => s"$outDir/$t"),
      Sinks.ledger(spark, s"$outDir/ledger"))
    refresh(spark, outDir)
    // every compaction rewrites its own table directory (atomic swap of
    // content-identical rows) — independent maintenance units, overlapped
    // 3-wide (§2.6); each postings table is one partitioned rewrite
    // (Sinks.compactPartitioned)
    val flat = Seq("corpus", "rejects", "paragraph_hashes", "links",
        "redirects", "canonicals", "embeddings")
      .filter(t => Sinks.exists(spark, s"$outDir/$t"))
      .map(t => () => labeled(spark, s"compact $t") {
        Sinks.compact(spark, s"$outDir/$t", targetRowsPerFile)
        spark.catalog.refreshByPath(s"$outDir/$t")
      })
    val idx =
      (if (Sinks.exists(spark, s"$outDir/text_index"))
        Seq(() => labeled(spark, "text index compact")(TextIndex.compact(spark, s"$outDir/text_index")))
      else Nil) ++
      Seq(s"$outDir/text_index/postings", s"$outDir/ann_index/postings")
        .filter(p => Sinks.exists(spark, p))
        .map(p => () => labeled(spark, s"compact $p")(Sinks.compactPartitioned(spark, p, targetRowsPerFile)))
    Sinks.inParallel(spark)(flat ++ idx: _*)
    auditDerived(spark, outDir)
  }

  /** Per-registrable-domain frontier budget (r15 verdict #4): a
    * mega-host with millions of undiscovered urls must not put its
    * whole candidate set through one scheduler window — real crawlers
    * cap per-site frontier size before wave assignment. Far above every
    * fixture frontier (the cap is the 100-TB guard, not a fixture
    * behavior change); production tunes it per crawl budget. */
  val FrontierDomainCap = 10000

  /** The NEXT-CRAWL FRONTIER from written state alone (r15 — closes the
    * crawl loop; r16 — production-honest): distinct canonical link
    * targets resolved through the written REDIRECT MAP to their chain
    * TERMINAL ([[Url.resolveChains]] — a target that 301-chains into
    * the already-fetched corpus is never re-scheduled, and what gets
    * scheduled is the terminal the fetch would land on; redirect loops
    * drop), minus every already-fetched canonical url (corpus ∪ rejects
    * — by the accounting invariant that IS the decoded page set),
    * through the robots longest-match verdict, scheduled per
    * REGISTRABLE DOMAIN (the politeness key q331/q339 use — same-domain
    * hosts share one budget) under the declared Crawl-delay (fetch k of
    * a domain at wave k·max(1,d)), capped at `maxPerDomain` candidates
    * per domain (FIFO by canonical url). Output: (canonical_url, host,
    * registered_domain, crawl_delay, wave). Zero page bytes touched —
    * the links + redirects artifacts, key columns, and broadcast-sized
    * robots/PSL tables; the scheduler window is bounded by the
    * two-phase cap. */
  def frontier(spark: SparkSession, outDir: String, robotsPath: String,
               psl: Option[DataFrame] = None,
               maxPerDomain: Int = FrontierDomainCap,
               sitemaps: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = frontierCandidates(spark, outDir, robotsPath, psl, sitemaps)
    // two-phase per-domain top-N: phase 1 keeps N per (domain, salt) so
    // the final window reads at most N·64 rows per domain — one
    // mega-domain never funnels its whole candidate set through a
    // single window task
    val phase1 = cands
      .withColumn("__salt", pmod(xxhash64(col("canonical_url")), lit(64)))
      .withColumn("__r1", row_number().over(
        Window.partitionBy(col("registered_domain"), col("__salt"))
          .orderBy("canonical_url")))
      .filter(col("__r1") <= maxPerDomain)
      .drop("__salt", "__r1")
    phase1
      .withColumn("rn", row_number().over(
        Window.partitionBy("registered_domain").orderBy("canonical_url")))
      .filter(col("rn") <= maxPerDomain)
      .select(col("canonical_url"), col("host"), col("registered_domain"),
        col("crawl_delay"),
        ((col("rn") - 1).cast("long") *
          greatest(col("crawl_delay"), lit(1L))).as("wave"))
  }

  /** [[frontier]]'s gated candidate set BEFORE wave assignment —
    * (canonical_url, host, registered_domain, crawl_delay): link
    * targets redirect-resolved to terminals, minus fetched,
    * robots-allowed, per-domain delay attached. Exposed so schedulers
    * can pick their own within-domain order (FIFO in [[frontier]];
    * harvest rank in the q343 composition).
    *
    * `psl`: the public-suffix table for [[Url.withRegisteredDomain]];
    * None falls back to the pinned-constant [[Url.registeredDomain]]
    * rule. The Crawl-delay politeness key is the registrable domain on
    * BOTH sides: robots sites map through the same rule and a domain's
    * delay is the MAX over its sites (conservative — the q339
    * convention).
    *
    * `sitemaps`: the crawl's fetched-sitemap store — (url, xml) rows
    * (r16 verdict #5). When provided, the `<loc>` entries of every
    * ROBOTS-DECLARED file ([[Robots.sitemapUrls]] — undeclared files in
    * the store are never read) seed the candidate pool alongside link
    * targets, canonicalized and pushed through the same chain / fetched
    * / robots / politeness gates — a crawler's whole point in reading
    * `Sitemap:` lines is to schedule the listed URLs. */
  def frontierCandidates(spark: SparkSession, outDir: String,
                         robotsPath: String,
                         psl: Option[DataFrame] = None,
                         sitemaps: Option[DataFrame] = None): DataFrame = {
    val links = readCommitted(spark, outDir, "links")
    // nofollow edges (r17) never seed the frontier — the publisher
    // asserted the target is not endorsed; legacy link tables predate
    // the column and read as all-follow
    val followed =
      if (links.columns.contains("nofollow")) links.filter(!col("nofollow"))
      else links
    val crawled = readCommitted(spark, outDir, "corpus")
      .select(col("canonical_url"))
      .unionByName(readCommitted(spark, outDir, "rejects")
        .select(Url.canonicalize(col("url")).as("canonical_url")))
      .distinct()
    // resolve each target through the written redirect map ∪ the
    // publisher canonical map (r17 — a canonical hint is just another
    // functionalized src→dst edge): fetch the chain TERMINAL (self when
    // no edge), drop loops (unterminated — fetching any loop member is
    // wasted budget). A corpus written before these artifacts existed
    // reads as an empty map (a missing dir must not throw)
    def mapTable(name: String): DataFrame =
      if (Sinks.exists(spark, s"$outDir/$name"))
        readCommitted(spark, outDir, name).select(col("src"), col("dst"))
      else {
        import spark.implicits._
        Seq.empty[(String, String)].toDF("src", "dst")
      }
    val canonicals = mapTable("canonicals")
    val edges = mapTable("redirects").unionByName(canonicals)
    val chains = Url.resolveChains(edges, "src", "dst", maxHops = 4)
    // candidate pool: follow-able link targets ∪ canonical-hint dsts
    // (the publisher named them: discovery signals even when nothing
    // links there yet) ∪ robots-declared sitemap locs (when provided)
    val smLocs = sitemaps.fold {
      import spark.implicits._
      Seq.empty[String].toDF("__target")
    } { sm =>
      val declared = Robots.sitemapUrls(Robots.readRobots(spark, robotsPath))
        .select(col("sitemap_url").as("__sm")).distinct()
      graft.operators.Sitemap.urls(
          sm.join(declared, sm("url") === col("__sm"), "left_semi"))
        .select(Url.canonicalize(col("loc")).as("__target"))
    }
    val cands = followed.select(col("dst_canonical").as("__target"))
      .unionByName(canonicals.select(col("dst").as("__target")))
      .unionByName(smLocs)
      .distinct()
      .join(chains, col("__target") === col("url"), "left")
      .filter(col("unterminated").isNull || !col("unterminated"))
      .select(coalesce(col("terminal_url"), col("__target")).as("canonical_url"))
      .distinct()
      .join(crawled, Seq("canonical_url"), "left_anti")
      .withColumn("host", Url.host(col("canonical_url")))
      .withColumn("path", Url.normPath(col("canonical_url")))
    val gated = Robots.allowDecisions(cands,
        Robots.rules(Robots.readRobots(spark, robotsPath), Agent),
        keyCol = "canonical_url")
      .filter(col("allowed"))
    def domained(df: DataFrame, hostCol: String): DataFrame = psl.fold(
      df.withColumn("registered_domain", Url.registeredDomain(col(hostCol))))(
      p => Url.withRegisteredDomain(df, hostCol, p))
    val delays = domained(
        Robots.crawlDelays(Robots.readRobots(spark, robotsPath), Agent), "site")
      .groupBy(col("registered_domain").as("__dly_domain"))
      .agg(max(col("crawl_delay")).as("crawl_delay"))
    domained(gated, "host")
      .join(broadcast(delays),
        col("registered_domain") === col("__dly_domain"), "left")
      .withColumn("crawl_delay",
        coalesce(col("crawl_delay"), lit(1)).cast("long"))
      .select("canonical_url", "host", "registered_domain", "crawl_delay")
  }

  /** COMMITTED read of an appended table (r14 advice): the shipped read
    * path for corpus consumers. [[appendBatch]]'s uncommitted tagged
    * files are visible to a plain `spark.read.parquet` between the
    * table append and the ledger commit (and after a crash, until the
    * next append purges) — this reader consults the LEDGER and drops
    * files whose batch tag is uncommitted ([[Sinks.readCommitted]]; one
    * file listing, never a data read). The text/ANN index read paths
    * take raw paths and stay purge-disciplined instead: they are only
    * consistent after purge-on-entry or a clean commit — the
    * single-writer constraint [[appendBatch]] documents. */
  def readCommitted(spark: SparkSession, outDir: String,
                    table: String): DataFrame =
    Sinks.readCommitted(spark, s"$outDir/$table",
      Sinks.ledger(spark, s"$outDir/ledger").keySet.map(Sinks.tagOf))

  private def refresh(spark: SparkSession, outDir: String): Unit =
    Seq("corpus", "rejects", "paragraph_hashes", "links", "redirects",
        "canonicals")
      .foreach(t => spark.catalog.refreshByPath(s"$outDir/$t"))

  /** Manifest recomputed from the WRITTEN tables (write damage surfaces
    * against the oracle): per-stage reject counts + corpus/shard/state
    * sizes + the cumulative page count from the ledger. The scan cost
    * is rejects+corpus metadata, not raw crawl bytes. */
  def auditDerived(spark: SparkSession, outDir: String,
                   nPagesOverride: Option[Long] = None): Unit = {
    val nPages = nPagesOverride.getOrElse(Sinks.ledger(spark, s"$outDir/ledger").values.sum)
    val corpus = spark.read.parquet(s"$outDir/corpus")
    val rejects = spark.read.parquet(s"$outDir/rejects")
    val parHashes = spark.read.parquet(s"$outDir/paragraph_hashes")
    val stages = Seq("url_duplicate", "robots_disallowed", "noindex",
      "canonical_variant", "no_content",
      "paragraph_dup", "language", "quality", "exact_duplicate", "near_duplicate")
    val stageCounts = stages.map(st =>
      sum(when(col("stage") === st, 1L).otherwise(0L)).as(s"n_$st"))
    val rej = rejects.agg(stageCounts.head, stageCounts.tail: _*)
    val core = corpus.agg(
      count(lit(1)).as("n_corpus"),
      countDistinct(col("shard")).as("n_shards"))
    val nPar = parHashes.agg(count(lit(1)).as("n_paragraph_hashes"))
    Sinks.overwriteSwap(
      rej.crossJoin(core).crossJoin(nPar).withColumn("n_pages", lit(nPages)),
      s"$outDir/manifest")
    spark.catalog.refreshByPath(s"$outDir/manifest")
  }

  /** Persisted search artifacts built FROM THE WRITTEN corpus (the q81
    * convention: damage on the corpus write path surfaces in the index
    * queries too). */
  private def buildIndexes(spark: SparkSession, outDir: String): Unit = {
    val written = spark.read.parquet(s"$outDir/corpus")
    // the text index and the embeddings→ANN chain both read only the
    // written corpus — two independent branches, overlapped (§2.6)
    Sinks.inParallel(spark)(
      () => labeled(spark, "text index build")(TextIndex.buildFrom(spark,
        written.select(col("pos").as("doc_id"), col("text")), s"$outDir/text_index")),
      () => labeled(spark, "embeddings + ann build") {
        Sinks.overwriteSwap(embeddingsOf(written), s"$outDir/embeddings")
        spark.catalog.refreshByPath(s"$outDir/embeddings")
        AnnIndex.buildFrom(spark,
          spark.read.parquet(s"$outDir/embeddings")
            .select(col("vec_id"), col("embedding")), s"$outDir/ann_index")
      })
  }
}
