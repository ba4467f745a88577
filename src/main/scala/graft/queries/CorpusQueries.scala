package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.CorpusApp
import graft.sources.Materialized

/** End-to-end corpus-app queries: the training corpus is BUILT (full clean
  * + shard assignment + real `Sinks` writes to a temp dir) and the queries
  * read the WRITTEN tables — verifying the whole materialization chain,
  * exactly like the star-schema entries (StarQueries). The DuckDB oracles
  * recompute from the raw documents table: a divergence anywhere in the
  * pipeline or the write path breaks the hash match. */
object CorpusQueries {

  /** Build once per (pass, sf dir) — queries at different scales build
    * their own corpus. */
  private def built(spark: SparkSession, dir: String): String =
    Materialized.dir(s"corpus:$dir", perPass = true)(CorpusApp.build(spark, dir, _))

  /** The INCREMENTAL materialization: init from the even-id half of the
    * raw table, then [[CorpusApp.append]] the odd-id half as an ingest
    * batch. Memoized separately from [[built]]. */
  private def builtIncremental(spark: SparkSession, dir: String): String =
    Materialized.dir(s"corpus:inc:$dir", perPass = true) { out =>
      CorpusApp.build(spark, dir, out, pred = col("doc_id") % 2 === 0)
      CorpusApp.append(spark, dir, out, batchId = "odd-half",
        pred = col("doc_id") % 2 === 1)
    }

  /** Per-source doc/token totals read from the WRITTEN corpus_stats table. */
  def q81CorpusStats(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${built(s, dir)}/corpus_stats")

  /** Shard occupancy read from the WRITTEN corpus table — checks the
    * global-shuffle rank and shard split survived materialization. */
  def q82CorpusShards(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${built(s, dir)}/corpus")
      .groupBy("shard").agg(count(lit(1)).as("n_docs"))

  /** Every (doc_id, pos, shard) of the incrementally built corpus — the
    * strongest possible check of [[CorpusApp.append]]: the oracle
    * recomputes BOTH phases (even-id init, odd-id batch minus the exact-fp
    * history gate, ranks offset by the init count) from the raw table, so
    * one wrong position, one dup slipping the gate, or one shifted
    * pre-existing row breaks the hash match. */
  def q89CorpusAppend(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${builtIncremental(s, dir)}/corpus")
      .select("doc_id", "pos", "shard")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_corpus_stats" -> (q81CorpusStats _),
    "q82_corpus_shards" -> (q82CorpusShards _),
    "q89_corpus_append" -> (q89CorpusAppend _))

  val oracles: Map[String, String] = Map(
    "q81_corpus_stats" ->
      s"""WITH ${LlmQueries.corpusSurvivorCtes}
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(lower(v.text), ' '))) AS BIGINT) AS n_tokens
         |FROM surv v JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,
    "q82_corpus_shards" ->
      s"""WITH ${LlmQueries.corpusSurvivorCtes},
         |r AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id) AS pos
         |  FROM surv)
         |SELECT CAST((pos - 1) // ${CorpusApp.ShardSize} AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM r GROUP BY 1""".stripMargin,
    "q89_corpus_append" ->
      s"""WITH ${LlmQueries.corpusSurvivorCtesFor("1", "doc_id % 2 = 0")},
         |${LlmQueries.corpusSurvivorCtesFor("2", "doc_id % 2 = 1")},
         |r1 AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id) AS pos
         |  FROM surv1),
         |gated AS (
         |  SELECT doc_id FROM surv2
         |  WHERE md5(text) NOT IN (SELECT md5(text) FROM surv1)),
         |r2 AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id)
         |    + (SELECT count(*) FROM surv1) AS pos
         |  FROM gated),
         |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  CAST((pos - 1) // ${CorpusApp.ShardSize} AS BIGINT) AS shard
         |FROM u""".stripMargin)
}
