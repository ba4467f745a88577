package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.Streams

/** Structured Streaming coverage, oracle-checked by running the stream to
  * completion (Trigger.AvailableNow) and comparing the final state against
  * the batch-equivalent SQL — the streaming/batch unification Spark
  * promises, used as a correctness gate. */
object StreamingQueries {

  /** Watermarked tumbling-window hourly counts over the events table,
    * executed as a complete-mode stream into a memory sink. */
  def q41StreamHourly(s: SparkSession, dir: String): DataFrame =
    Streams.hourlyCountsOnce(s, dir)

  /** Gap-based session windows per user via `session_window` state,
    * complete-mode AvailableNow stream, against the batch islands-SQL
    * oracle. */
  def q112StreamSessions(s: SparkSession, dir: String): DataFrame =
    Streams.sessionCountsOnce(s, dir)

  /** HyperLogLog distinct-user estimate per event type, maintained as
    * 64-byte streaming aggregation state (exact streaming DISTINCT is
    * unsupported and unboundable); the oracle rebuilds every register
    * from the raw rows. */
  def q137StreamDistinct(s: SparkSession, dir: String): DataFrame =
    Streams.hllDistinctOnce(s, dir)

  /** Stream-stream interval join (view → purchase attribution within 2
    * hours, per user) across two watermarked file-source streams; the
    * two-sided time bound keeps join state expirable, and the batch
    * interval-join SQL verifies every emitted pair. */
  def q143StreamJoin(s: SparkSession, dir: String): DataFrame =
    Streams.intervalJoinOnce(s, dir)

  /** Streaming per-hour top-3 events by value — bounded K-entry
    * [[graft.expressions.TopKByScore]] state per window instead of a
    * rank window over the closed hour; exact integer micro-unit scores
    * keep the selection engine-portable. */
  def q166StreamTopk(s: SparkSession, dir: String): DataFrame =
    Streams.topKPerHourOnce(s, dir)

  /** Stream-static enrichment join — each streamed event joined to a
    * batch-computed user activity tier (broadcast, no stream-side
    * shuffle), aggregated per (tier, event_type) with exact micro-unit
    * value sums. */
  def q172StreamEnrich(s: SparkSession, dir: String): DataFrame =
    Streams.staticEnrichOnce(s, dir)

  /** Hopping-window (2h size, 1h slide) event counts — overlapping
    * windows from watermark-bounded state; the oracle fans each event
    * into its two covering windows. */
  def q185StreamHopping(s: SparkSession, dir: String): DataFrame =
    Streams.hoppingCountsOnce(s, dir)

  /** STREAMING WARC ingestion — crawl shards arriving as files (2 per
    * micro-batch), each batch's records parsed and APPENDED exactly
    * once; the batch pack-and-recover oracle (q295's formulas) verifies
    * the final table, so arrival order and batching must not change a
    * parsed byte. */
  def q311WarcStream(s: SparkSession, dir: String): DataFrame =
    Streams.warcStreamOnce(s, s"${graft.sources.Tables.fixtureDir}/warc_shards.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q311_warc_stream" -> (q311WarcStream _),
    "q172_stream_enrich" -> (q172StreamEnrich _),
    "q185_stream_hopping" -> (q185StreamHopping _),
    "q166_stream_topk" -> (q166StreamTopk _),
    "q41_stream_hourly" -> (q41StreamHourly _),
    "q112_stream_sessions" -> (q112StreamSessions _),
    "q137_stream_distinct" -> (q137StreamDistinct _),
    "q143_stream_join" -> (q143StreamJoin _))

  val oracles: Map[String, String] = Map(
    // the q295 pack-and-recover formulas over the packed source — the
    // stream's final table must equal the batch walk byte-for-byte
    "q311_warc_stream" ->
      s"""SELECT url,
        |  CAST(CASE WHEN doc_id % 53 = 7 THEN 404
        |            WHEN doc_id % 53 = 21 THEN 301 ELSE 200 END AS INT) AS http_status,
        |  md5(CASE WHEN doc_id % 53 = 21 THEN '' ELSE html END) AS body_md5
        |FROM read_parquet('${graft.sources.Tables.fixtureDir}/html_docs.parquet')""".stripMargin,
    "q172_stream_enrich" ->
      """WITH tiers AS (
        |  SELECT user_id,
        |    CAST(length(bin(count(*))) - 1 AS BIGINT) AS tier
        |  FROM events GROUP BY user_id)
        |SELECT t.tier, e.event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(floor(e.value * 1000000) AS BIGINT)) AS BIGINT)
        |    AS value_micros
        |FROM events e JOIN tiers t ON e.user_id = t.user_id
        |GROUP BY t.tier, e.event_type""".stripMargin,
    // each event belongs to the hop starting at its truncated hour and
    // the one an hour earlier (2h window, 1h slide, epoch-aligned)
    "q185_stream_hopping" ->
      """WITH w AS (
        |  SELECT unnest([date_trunc('hour', ts)::TIMESTAMP,
        |                 date_trunc('hour', ts)::TIMESTAMP - INTERVAL 1 HOUR])
        |    AS window_start
        |  FROM events)
        |SELECT window_start, CAST(count(*) AS BIGINT) AS cnt
        |FROM w GROUP BY window_start""".stripMargin,
    // the batch rank-window over the same micro-unit integer scores; the
    // stream must land on the identical top-3 per closed hour
    "q166_stream_topk" ->
      """WITH s AS (
        |  SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_start, event_id,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS score
        |  FROM events),
        |r AS (
        |  SELECT hour_start, event_id, score,
        |    CAST(row_number() OVER (PARTITION BY hour_start
        |      ORDER BY score DESC, event_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT hour_start, rank, event_id, score FROM r WHERE rank <= 3""".stripMargin,
    "q41_stream_hourly" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_start, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,
    // islands with a >= cut: session_window closes a session when the next
    // event lands exactly gap after the previous (window end is exclusive)
    "q112_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS st
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts,
        |    CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts
        |                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM m)
        |SELECT user_id, min(ts)::TIMESTAMP AS session_start, count(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin,
    // every HLL register rebuilt from the raw md5 hashes (same derivation
    // as the batch q131 oracle), so the streaming state-store merge path
    // must land on identical registers
    // the batch interval join over the same truncated-to-micros event
    // times; pairs must match exactly, including both boundary instants
    "q143_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
        |FROM events v JOIN events p
        |  ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND date_trunc('microseconds', p.ts) >= date_trunc('microseconds', v.ts)
        | AND date_trunc('microseconds', p.ts)
        |     <= date_trunc('microseconds', v.ts) + INTERVAL 2 HOUR""".stripMargin,
    "q137_stream_distinct" ->
      """WITH h AS (
        |  SELECT event_type,
        |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, CAST(h >> 54 AS INT) AS j,
        |    CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
        |         ELSE strpos(lpad(bin(h & ((1::BIGINT << 54) - 1)), 54, '0'), '1')
        |    END AS rho
        |  FROM h),
        |mx AS (SELECT event_type, j, max(rho) AS mr FROM r GROUP BY event_type, j),
        |g AS (
        |  SELECT event_type, CAST(64 - count(*) AS INT) AS zeros,
        |    CAST(sum(1::BIGINT << (55 - mr))
        |         + (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS hsum
        |  FROM mx GROUP BY event_type)
        |SELECT event_type, zeros, hsum,
        |  CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0
        |    / CAST(hsum AS DOUBLE) AS est
        |FROM g""".stripMargin)
}
