package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sever.SeverOps

/** The PERSISTED INVERTED INDEX — the lexical twin of [[AnnIndex]]: the
  * in-plan BM25 query (q105) tokenizes and aggregates the WHOLE corpus
  * inside every search plan (correct, and the right shape for a
  * one-shot query), but a production search path builds the posting
  * lists ONCE and serves every query from the written tables
  * (write-once/read-many, the [[CoPurchaseGraph]] contract).
  *
  * Written tables under one root:
  *  - `postings/term_bucket=N/` — (tok, doc_id, tf, dl), PARTITIONED BY
  *    a deterministic md5 bucket of the term: a term lookup computes
  *    its buckets DRIVER-side and reads only those directories
  *    (filesystem-level pruning — at 100 TB the postings read IS the
  *    search cost, and (vocab−queried)/vocab of it is skipped before
  *    any row is decoded). `dl` is denormalized into the posting (the
  *    classic impact-style layout) so scoring needs NO doc-length join.
  *  - `lexicon/` — (tok, df) rows, APPEND-ONLY: document frequency is
  *    additive across disjoint ingest batches, so an append writes df
  *    DELTAS and readers sum — no vocabulary rewrite on ingest.
  *  - `stats/` — (n_docs, total_tokens) rows, append-only for the same
  *    reason; BM25's N and avgdl are exact sums at read time.
  *
  * [[append]] ingests a batch by writing ITS postings/df-deltas/stats
  * only — the history is never re-read, re-tokenized, or re-aggregated
  * (the q265/q283/AnnIndex incremental convention). Because tf, df,
  * n_docs and total_tokens are exact integers that add across disjoint
  * batches, an incrementally-built index serves BIT-IDENTICAL scores
  * to a from-scratch build — there is no drift caveat here, unlike the
  * ANN quantizers. */
object TextIndex extends Md5Buckets {

  /** Root of the FULL-corpus index for `dir`, building on first use. */
  def path(s: SparkSession, dir: String): String =
    Materialized.dir(s"textindex:full:$dir", perPass = false)(
      build(s, Tables.documents(s, dir), _))

  /** Root of the INCREMENTALLY-built index: built on the history
    * (doc_id % 5 ≠ 2), then the batch (doc_id % 5 = 2) APPENDED. */
  def pathIncremental(s: SparkSession, dir: String): String =
    Materialized.dir(s"textindex:incr:$dir", perPass = false) { out =>
      val docs = Tables.documents(s, dir)
      build(s, docs.filter(col("doc_id") % 5 =!= 2), out)
      append(s, out, docs.filter(col("doc_id") % 5 === 2), batchId = "incr")
    }

  private def postingsOf(docs: DataFrame): DataFrame = {
    val toks = split(lower(col("text")), " ")
    docs.select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("tok"))
      .groupBy("doc_id", "dl", "tok")
      .agg(count(lit(1)).as("tf"))
  }

  /** The three index tables of `docs` as (frame, sub-table, partition
    * columns), all derived from ONE materialized tokenize+aggregate:
    * three writers consume it, and without the cut each would re-run
    * the full corpus tokenization — the multi-consumer-recompute trap. */
  private def tablesOf(docs: DataFrame, buckets: Int): Seq[(DataFrame, String, Seq[String])] = {
    val tf = postingsOf(docs.select(col("doc_id"), col("text"))).sever()
    Seq(
      (tf.select(col("tok"), col("doc_id"), col("tf"), col("dl"),
        bucketCol(col("tok"), buckets).as("term_bucket")), "postings", Seq("term_bucket")),
      (tf.groupBy("tok").agg(count(lit(1)).as("df")), "lexicon", Nil),
      // stats derive from tf too (dl repeats per posting; one row per doc
      // via the distinct) — no third corpus scan
      (tf.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).cast("long").as("total_tokens")), "stats", Nil))
  }

  private def build(s: SparkSession, docs: DataFrame, out: String): Unit =
    buildFrom(s, docs, out)

  /** Build an index at a caller-managed root over an arbitrary
    * (doc_id, text) frame — the entry the corpus apps use to index the
    * corpus THEY just wrote ([[graft.app.WebCorpusApp]]); the memoized
    * [[path]]/[[pathIncremental]] stay the fixture-corpus surfaces.
    * `buckets` is the postings-partition knob, persisted in `meta/` so
    * every later reader and append probes with the written count. */
  def buildFrom(s: SparkSession, docs: DataFrame, out: String,
                buckets: Int = Buckets): Unit = {
    import s.implicits._
    tablesOf(docs, buckets).foreach { case (df, t, parts) =>
      val w = df.write.mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(s"$out/$t")
    }
    Seq(buckets).toDF("n_buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/meta")
  }

  /** Compact the APPEND-ONLY delta tables: many appends accumulate one
    * df-delta row per (batch, term) and one stats row per batch — the
    * read path stays CORRECT (readers sum), but its cost grows with the
    * append count. Compaction rewrites lexicon and stats to their
    * summed form (rewrite-and-swap via [[Sinks.overwriteSwap]]'s crash
    * guarantees; lineage severed before the overwrite — the CorpusApp
    * self-read rule). Because df/n_docs/total_tokens are exact integers
    * that ADD, the compacted index serves BIT-IDENTICAL scores
    * (TextIndexSpec pins it). Postings need no compaction: batches
    * write disjoint (doc, term) rows. */
  def compact(s: SparkSession, root: String): Unit = {
    val lex = s.read.parquet(s"$root/lexicon")
      .groupBy("tok").agg(sum(col("df")).as("df"))
      .sever() // materialized BEFORE the path it came from is replaced
    Sinks.overwriteSwap(lex, s"$root/lexicon")
    val st = s.read.parquet(s"$root/stats")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).cast("long").as("total_tokens"))
      .sever()
    Sinks.overwriteSwap(st, s"$root/stats")
    Seq(s"$root/lexicon", s"$root/stats").foreach(s.catalog.refreshByPath)
  }

  /** Ingest a batch into an EXISTING index: the batch's postings, df
    * DELTAS and stat deltas are appended; nothing else is touched. The
    * three appends are revocable tagged file moves under `batchId`
    * ([[Sinks.appendTagged]]): a caller that commits the batch to a
    * ledger afterwards ([[Sinks.ingestBatch]]) gets crash-atomic index
    * maintenance. */
  def append(s: SparkSession, root: String, batch: DataFrame, batchId: String): Unit =
    tablesOf(batch, bucketsOf(s, root)).foreach { case (df, t, parts) =>
      Sinks.appendTagged(df, s"$root/$t", batchId, parts)
    }

  /** Exact corpus stats from the written (append-only) stats rows. */
  def readStats(s: SparkSession, root: String): (Long, Long) = {
    val r = s.read.parquet(s"$root/stats")
      .agg(sum("n_docs"), sum("total_tokens")).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Per-term document frequency (delta rows summed), query terms only. */
  def readDf(s: SparkSession, root: String, terms: Seq[String]): DataFrame =
    s.read.parquet(s"$root/lexicon")
      .filter(col("tok").isin(terms: _*))
      .groupBy("tok").agg(sum(col("df")).as("df"))

  /** The probed postings: ONLY the query terms' bucket directories are
    * read (partition pruning), then the in-bucket term filter. */
  def readPostings(s: SparkSession, root: String, terms: Seq[String]): DataFrame = {
    val n = bucketsOf(s, root)
    val buckets = terms.map(bucketOf(_, n)).distinct
    s.read.parquet(s"$root/postings")
      .filter(col("term_bucket").isin(buckets: _*))
      .filter(col("tok").isin(terms: _*))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
  }
}
