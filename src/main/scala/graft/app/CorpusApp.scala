package graft.app

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{md5Long, tokens}
import graft.operators.GlobalOrder
import graft.sources.{Sinks, Tables}

/** The runnable training-corpus builder — the LLM-data counterpart to the
  * star-schema app: one call takes a raw documents table through the full
  * clean (language + quality filters, exact dedup, exact near-dup removal —
  * the verified q64 pipeline), assigns every survivor a reproducible
  * global-shuffle position and training shard, and materializes three
  * tables with [[Sinks.overwriteSwap]]'s crash guarantees:
  *
  *  - `corpus`       — doc_id, source, lang, fp, n_tokens, pos, shard
  *  - `corpus_stats` — per-source doc/token counts: computed from the
  *                     WRITTEN corpus at [[build]] (so write damage breaks
  *                     the oracle match), folded incrementally per
  *                     [[append]] batch (old stats ⊎ batch delta — an
  *                     append never rescans the corpus), re-derivable in
  *                     full via [[auditDerived]]
  *  - `manifest`     — one row: raw/clean counts and shard count, the
  *                     handshake a downstream trainer validates before
  *                     reading a single shard
  *  - `ledger`       — applied batches with their raw doc counts
  *                     ([[Sinks.commitLedger]]): what makes [[append]]
  *                     idempotent END TO END (data AND manifest counters)
  *                     under at-least-once batch delivery
  *
  * Deterministic end to end: same input -> byte-identical corpus, every
  * run, every partitioning (hash-derived order, no RNG, no timestamps) —
  * which is what makes a 100-TB build restartable and auditable. Re-running
  * [[build]] over the same input is a no-op by content.
  */
object CorpusApp {

  /** Docs per training shard — small here so test scales exercise multiple
    * shards; production sizes this to the trainer's file budget. */
  val ShardSize = 100L

  /** Survivor rows of one cleaned batch, in the corpus schema minus
    * position/shard (plus the 60-bit order hash `__h`). */
  private def cleanBatch(batch: DataFrame): DataFrame =
    graft.queries.LlmQueries.corpusSurvivorsOf(batch)
      .join(batch.select("doc_id", "source", "lang"), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"),
        md5(col("text")).as("fp"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        md5Long(col("doc_id").cast("string")).as("__h"))

  /** Per-source doc/token counts of a corpus frame. */
  private def statsOf(corpus: DataFrame): DataFrame =
    corpus.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("n_tokens"))

  /** Recompute the derived tables from the WRITTEN corpus — the AUDIT
    * path (any write damage surfaces against the oracle) and the [[build]]
    * init path, where the corpus IS the batch so full-scan cost is batch
    * cost. Appends use [[mergeDerived]] instead: a weekly 100-TB append
    * must not pay a full-corpus scan for a ≤#sources-row stats table.
    * The cumulative raw count comes from the ledger, so an audit after any
    * append sequence reproduces exactly what the increments maintained —
    * CorpusAppSpec asserts that equality. */
  def auditDerived(spark: SparkSession, outDir: String): Unit = {
    val nRaw = Sinks.ledger(spark, s"$outDir/ledger").values.sum
    val written = spark.read.parquet(s"$outDir/corpus")
    Sinks.overwriteSwap(statsOf(written), s"$outDir/corpus_stats")
    Sinks.overwriteSwap(
      written.agg(
        lit(nRaw).as("n_raw"),
        count(lit(1)).as("n_clean"),
        countDistinct(col("shard")).as("n_shards")),
      s"$outDir/manifest")
    spark.catalog.refreshByPath(s"$outDir/corpus_stats")
    spark.catalog.refreshByPath(s"$outDir/manifest")
  }

  /** Incrementally fold ONE appended batch into the derived tables:
    * `base` stats ⊎ batch delta (a ≤#sources-row union-aggregate — the
    * batch rows are already in memory as the append's checkpoint),
    * manifest counters from the ledger and position arithmetic. Nothing
    * here reads the written corpus; positions are contiguous 1..n
    * (CorpusAppSpec), so `n_shards = ceil(n_clean / ShardSize)` exactly
    * equals the audit path's `countDistinct(shard)`. */
  private def mergeDerived(spark: SparkSession, outDir: String, base: Option[DataFrame],
                           delta: DataFrame, nRaw: Long, nClean: Long): Unit = {
    import spark.implicits._
    val statsPath = s"$outDir/corpus_stats"
    val merged = base.fold(statsOf(delta))(_.unionByName(statsOf(delta)))
      .groupBy("source")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      // sever lineage from the path being overwritten (tiny: ≤#sources rows)
      .sever()
    Sinks.overwriteSwap(merged, statsPath)
    val nShards = (nClean + ShardSize - 1) / ShardSize
    Sinks.overwriteSwap(
      Seq((nRaw, nClean, nShards)).toDF("n_raw", "n_clean", "n_shards"),
      s"$outDir/manifest")
    spark.catalog.refreshByPath(statsPath)
    spark.catalog.refreshByPath(s"$outDir/manifest")
  }

  def build(spark: SparkSession, rawDir: String, outDir: String,
            pred: org.apache.spark.sql.Column = lit(true)): Unit = {
    val batch = Tables.documents(spark, rawDir).filter(pred)
    // persisted: GlobalOrder.rank makes TWO passes over its input (bucket
    // counts, then the rank itself) — without the cache each pass re-runs
    // the whole 4-stage clean, the most expensive subtree of the build.
    // The cached rows are corpus-thin (ids + counters, no text).
    val survivors = cleanBatch(batch).persist()
    try {
      val corpus = GlobalOrder.rank(survivors, "__h", "doc_id", out = "pos")
        .withColumn("shard", expr(s"(pos - 1) div $ShardSize"))
        .select("doc_id", "source", "lang", "fp", "n_tokens", "pos", "shard")
      Sinks.overwriteSwap(corpus, s"$outDir/corpus")
    } finally survivors.unpersist()
    spark.catalog.refreshByPath(s"$outDir/corpus")
    val nRaw = batch.count()
    Sinks.commitLedger(spark, s"$outDir/ledger", Map("__init" -> nRaw))
    auditDerived(spark, outDir)
  }

  /** Incremental ingest — the corpus counterpart of the star schema's
    * weekly catchup: clean ONE batch, gate it against the WRITTEN corpus,
    * and append; existing shards and positions never move (what keeps a
    * 100-TB corpus append restartable and cheap — the write is linear in
    * the batch, not the corpus).
    *
    *  - within-batch clean is the full verified pipeline
    *    ([[graft.queries.LlmQueries.corpusSurvivors]] under `pred`);
    *  - the history gate is an exact content-fingerprint anti join against
    *    the written corpus (batch ⋈ corpus on `fp` — hash equi-join, never
    *    re-reads raw history). Near-dup-vs-history is available as its own
    *    operator ([[graft.operators.Dedup.simhashNearDupAgainst]], q75)
    *    and is kept out of this append so the append's oracle stays an
    *    exact-set mirror;
    *  - new rows rank AFTER the current max position (same hash order
    *    within the batch), so growth only appends shards; the last partial
    *    shard fills up first by construction of `(pos-1) div ShardSize`.
    *
    * Re-running the same `batchId` is a FULL no-op (ledger-gated: data,
    * stats, and manifest counters all unchanged); even without the ledger
    * the data is safe — every row's fp is already in the corpus, so the
    * anti join would leave nothing to append. */
  def append(spark: SparkSession, rawDir: String, outDir: String,
             batchId: String, pred: org.apache.spark.sql.Column): Unit =
    appendBatch(spark, outDir, batchId,
      Tables.documents(spark, rawDir).filter(pred))

  /** [[append]] over an arbitrary batch frame — the form a STREAMING
    * ingest drives from `foreachBatch` (see
    * [[graft.streaming.Streams.corpusIngest]]): Structured Streaming
    * replays a failed micro-batch with the same batch id, and the ledger
    * gate turns that at-least-once delivery into exactly-once corpus
    * growth. The first batch creates the corpus (positions from 1).
    *
    * Crash-safe through [[Sinks.ingestBatch]]: a tagged corpus append,
    * then `corpus_stats` and `manifest`, then the ledger commit. A crashed
    * attempt may already have folded the batch into `corpus_stats`, so a
    * replay whose purge deleted anything folds onto stats recomputed from
    * the committed corpus (a full scan, paid only on recovery). */
  def appendBatch(spark: SparkSession, outDir: String, batchId: String,
                  batch: DataFrame): Unit = {
    val corpusPath = s"$outDir/corpus"
    Sinks.ingestBatch(spark, s"$outDir/ledger", batchId, Seq(corpusPath)) { ingest =>
      // a listing, never a data read: a first batch's crashed attempt can
      // leave the corpus directory behind with every file purged
      val hasCorpus = Sinks.dataFileCount(spark, corpusPath) > 0
      // bounded driver read: current max position
      val maxPos =
        if (!hasCorpus) 0L
        else spark.read.parquet(corpusPath)
          .agg(coalesce(max(col("pos")), lit(0L))).head().getLong(0)
      val cleaned = cleanBatch(batch)
      // persisted for rank's two passes, same as build — otherwise the
      // batch clean + fp anti-join both run twice
      val fresh =
        (if (!hasCorpus) cleaned
        else cleaned.join(
          spark.read.parquet(corpusPath).select("fp"), Seq("fp"), "left_anti"))
          .persist()
      // sever lineage BEFORE the append: the delta-stats fold below
      // re-reads these rows, and a recompute after refreshByPath would
      // re-run the fp anti-join against a corpus that now CONTAINS them.
      // Batch-sized, never corpus-sized.
      val ranked = GlobalOrder.rank(fresh, "__h", "doc_id", out = "pos0")
        .withColumn("pos", col("pos0") + maxPos)
        .withColumn("shard", expr(s"(pos - 1) div $ShardSize"))
        .select("doc_id", "source", "lang", "fp", "n_tokens", "pos", "shard")
        .sever()
      fresh.unpersist() // the eager checkpoint owns the rows now
      val base =
        if (!hasCorpus) None
        else if (ingest.purged) Some(statsOf(spark.read.parquet(corpusPath)).sever())
        else Some(spark.read.parquet(s"$outDir/corpus_stats"))
      Sinks.appendTagged(ranked, corpusPath, batchId)
      val nRaw = batch.count()
      mergeDerived(spark, outDir, base, delta = ranked,
        nRaw = ingest.applied.values.sum + nRaw, nClean = maxPos + ranked.count())
      Some(nRaw)
    }
  }
}
