package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import graft.sources.Materialized

/** Structured Streaming re-hosting of the reference's incremental batch
  * semantics (SURVEY.md §2.11): the Airflow weekly catchup run becomes a
  * file-source stream with `Trigger.AvailableNow` — new-file discovery,
  * exactly-once progress via checkpoint, then stop. No always-on cluster,
  * same incremental guarantees.
  *
  * Scale notes: the file source lists and rate-limits new files
  * (`maxFilesPerTrigger`), the windowed aggregate keeps state only until
  * the watermark passes (bounded state at any corpus size), and
  * [[latestPerUser]] shows the `flatMapGroupsWithState` shape for custom
  * state — state is partitioned by key, so it scales horizontally like any
  * keyed shuffle.
  */
object Streams {

  /** Executed physical plan of the FINAL micro-batch of each one-shot
    * streaming run, keyed by the sink query name — the PlanGuard hook.
    * Batch queries hand PlanGuardSpec a lazy DataFrame whose plan it
    * inspects; q41/q112 execute their stream inside the query function, so
    * the runner records the micro-batch's `IncrementalExecution` plan here
    * and the spec applies the same cartesian/scale-key-window checks to
    * streaming plans that batch plans get. (Every micro-batch of an
    * AvailableNow run compiles the same shape; the last one is as good as
    * any.) */
  val recordedMicroBatchPlans =
    scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.execution.SparkPlan]()

  /** Reflective unwrap of the StreamingQueryWrapper → StreamExecution →
    * lastExecution chain (diagnostics-only internals access; the data path
    * never touches it). Silently skips if Spark internals move — the
    * PlanGuard test asserts the plan WAS recorded, so breakage surfaces
    * there, loudly, not here. */
  private def recordMicroBatchPlan(
      name: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      val se = q.getClass.getMethod("streamingQuery").invoke(q)
      val qe = se.getClass.getMethod("lastExecution").invoke(se)
        .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
      if (qe != null) recordedMicroBatchPlans(name) = qe.executedPlan
    } catch { case _: ReflectiveOperationException => () }

  /** Incremental ingestion: stream every file under `srcDir` into an
    * append-mode parquet sink, processing exactly the files available now
    * (the weekly catchup run, minus Airflow). Re-running with the same
    * checkpoint ingests only files not yet seen — the idempotence the
    * reference delegated to Redshift UPSERT. */
  def ingestAvailableNow(spark: SparkSession, srcDir: String, schema: StructType,
                         dstDir: String, checkpointDir: String): Unit = {
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .format("parquet")
      .option("path", dstDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window count per hour — the streaming analog of
    * the per-hour dashboard rollup. Late data beyond the watermark is
    * dropped; window state is freed once the watermark passes. */
  def hourlyCounts(events: DataFrame, tsCol: String): DataFrame =
    events
      .withWatermark(tsCol, "1 hour")
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("hour_start"), col("cnt"))

  /** Stream INTO the keyed warehouse: each microbatch merges through
    * [[graft.sources.Sinks.upsert]] (or the partition-scoped variant via
    * `partitionCol`), so an at-least-once source converges to
    * exactly-once-per-key table contents — the streaming version of the
    * weekly UPSERT load. `foreachBatch` is the idiomatic bridge from a
    * stream to a batch sink Spark has no streaming writer for; the
    * checkpoint makes re-runs resume after the last merged batch, and a
    * REPLAYED batch re-merges idempotently. */
  def streamUpsert(stream: DataFrame, path: String, keys: Seq[String],
                   checkpointDir: String, partitionCol: Option[String] = None): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        partitionCol match {
          case Some(p) => graft.sources.Sinks.upsertPartitioned(spark, path, batch.toDF(), keys, p)
          case None => graft.sources.Sinks.upsert(spark, path, batch.toDF(), keys)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked stream-STREAM interval join — the attribution shape: each
    * left event joins right events of the same key whose event time falls
    * within [leftTs, leftTs + horizon]. Both inputs carry watermarks and
    * the join condition bounds event-time distance in both directions —
    * that bound is what lets Spark EXPIRE buffered join state (left rows
    * are droppable `horizon`+watermark past their event time, right rows
    * `watermark` past theirs); an unbounded-time stream-stream join would
    * buffer both streams forever, the state-size failure mode at
    * 100 TB/day. Inner-join rows emit as soon as both sides arrive. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         watermark: String, horizon: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs AND " +
          s"$rightTs <= $leftTs + INTERVAL $horizon"))

  /** Streaming exactly-once-per-key dedup: drop every record whose key was
    * already seen, keeping per-key state only within the event-time
    * watermark — the streaming half of the batch keyed dedup (A3) and what
    * an at-least-once upstream (a re-delivered week, a replayed log) needs
    * before an append-only sink. State is bounded by keys-per-watermark
    * window, not stream lifetime; at 100 TB/day that bound is what makes
    * the operator runnable at all. */
  def dedupByKeyStream(df: DataFrame, keyCol: String, tsCol: String,
                       watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  case class Event(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
  case class Latest(user_id: Long, event_id: Long, value: Double)

  /** Custom keyed state via flatMapGroupsWithState: the streaming version
    * of q07's deterministic dedup-latest — per user, keep the (ts,
    * event_id)-max event across triggers. Emits the new champion whenever
    * it changes (Update mode). */
  def latestPerUser(events: Dataset[Event]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Event, Latest](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[Event]) =>
          val ord = Ordering.by[Event, (Long, Long)](e => (e.ts.getTime, e.event_id))
          val candidates = state.getOption.iterator ++ batch
          val best = candidates.max(ord)
          val changed = state.getOption.forall(prev => ord.compare(best, prev) > 0)
          state.update(best)
          if (changed) Iterator(Latest(user, best.event_id, best.value))
          else Iterator.empty
      }
  }

  /** Run the hourly-count aggregate over `dir/events.parquet` as a
    * complete-mode AvailableNow stream into a memory sink and return the
    * final table — lets the batch oracle verify the streaming path. The
    * nano-timestamp column is truncated to micros exactly as the batch
    * loader does (graft.sources.Tables.load). */
  def hourlyCountsOnce(spark: SparkSession, dir: String): DataFrame = {
    val stream = graft.sources.Tables.loadStream(spark, dir, "events")
    val checkpoint = Materialized.tempRoot("graft-ckpt-")
    val q = hourlyCounts(stream, "ts")
      .writeStream
      .format("memory")
      .queryName("graft_stream_hourly")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
    recordMicroBatchPlan("graft_stream_hourly", q)
    spark.table("graft_stream_hourly")
  }

  /** Gap-based session windows (`session_window`, 30-minute gap) per user
    * over `dir/events.parquet`, run as a complete-mode AvailableNow stream
    * into a memory sink. This is the STREAMING sessionizer — state merges
    * windows as events arrive, so sessions form incrementally without the
    * batch sessionizer's per-user sort ([[graft.operators.Sessionize]]
    * computes the same islands with a lag window); the batch oracle
    * (islands SQL with a >= gap cut, matching session_window's
    * close-at-exactly-gap rule) verifies the unification. */
  def sessionCountsOnce(spark: SparkSession, dir: String): DataFrame = {
    val stream = graft.sources.Tables.loadStream(spark, dir, "events")
    val checkpoint = Materialized.tempRoot("graft-ckpt-")
    val q = stream
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))
      .writeStream
      .format("memory")
      .queryName("graft_stream_sessions")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
    recordMicroBatchPlan("graft_stream_sessions", q)
    spark.table("graft_stream_sessions")
  }

  /** STREAMING distinct-count sketch: HyperLogLog register vectors
    * ([[graft.expressions.HllRegisters]], 64 one-byte registers) as the
    * aggregation state of a streaming groupBy — per event type, the
    * distinct-user estimate is maintained in 64 bytes of state per group
    * no matter how many events or users flow through. Exact streaming
    * `count(DISTINCT ...)` is unsupported by Spark (unbounded state and
    * non-mergeable retraction); the sketch is the scale-correct
    * replacement, and its merge-by-max is exactly the state-store merge a
    * micro-batch needs. The final registers are summarized to
    * zeros/harmonic-sum/estimate with integer ops so the batch oracle
    * reproduces them bit-for-bit from the raw table (same derivation as
    * the batch q131). */
  /** STREAMING WARC ingestion — the crawl front door running
    * continuously: shard files land, the file source discovers them
    * (rate-limited to 2 per micro-batch, so the fixture's 6 shards
    * arrive across ≥3 batches — the production drip, not one big
    * batch), each batch walks its shards' records
    * ([[graft.operators.Warc.records]] — per-shard state only, so the
    * stateless streaming plan needs no watermark), and parsed responses
    * APPEND to the sink exactly once via the checkpoint. The batch
    * q295 oracle verifies the final table: streaming-arrival order must
    * not change a single parsed byte. */
  def warcStreamOnce(spark: SparkSession, fixturePath: String): DataFrame = {
    import spark.implicits._
    val tmp = Materialized.tempRoot("graft-warc-stream-")
    val src = s"$tmp/shards"
    // land each shard in its OWN file: the unit of arrival. An explicit
    // per-shard write (not repartition(6, shard_id), which hash-partitions
    // and can collide two ids into one file leaving others empty — r13
    // advice) guarantees the documented drip: 6 files at
    // maxFilesPerTrigger=2 means >=3 micro-batches.
    Files.createDirectories(java.nio.file.Paths.get(src))
    val fixture = spark.read.parquet(fixturePath)
    val ids = fixture.select("shard_id").distinct()
      .collect().map(_.getLong(0)).sorted // bounded: one row per shard file
    ids.foreach { id =>
      val stage = s"$tmp/stage/$id"
      fixture.filter(col("shard_id") === id).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for shard $id"))
      Files.move(part.toPath, java.nio.file.Paths.get(s"$src/shard-$id.parquet"))
    }
    val schema = spark.read.parquet(src).schema
    val shards = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(src)
      .selectExpr("shard_id", "gz", "payload")
      .as[graft.operators.WarcShard]
    val recs = graft.operators.Warc.records(shards)
      .filter(col("warc_type") === "response")
      .select(col("target_uri").as("url"), col("http_status"),
        md5(col("body")).as("body_md5"))
    val q = recs.writeStream
      .format("memory")
      .queryName("graft_warc_stream")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.awaitTermination()
    recordMicroBatchPlan("graft_warc_stream", q)
    spark.table("graft_warc_stream")
  }

  def hllDistinctOnce(spark: SparkSession, dir: String): DataFrame = {
    val stream = graft.sources.Tables.loadStream(spark, dir, "events")
    val maxRho = 55 // 60-bit hash, b=6 -> 64 registers, rho in [1, 55]
    val q = stream
      .select(col("event_type"),
        graft.functions.TextFunctions.md5Long(col("user_id").cast("string")).as("h"))
      .groupBy("event_type")
      .agg(graft.expressions.GraftFunctions.hllRegisters(col("h"), 6).as("regs"))
      .select(col("event_type"),
        expr("CAST(size(filter(regs, x -> x = 0)) AS INT)").as("zeros"),
        expr(s"aggregate(regs, CAST(0 AS BIGINT), " +
          s"(acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), $maxRho - x))").as("hsum"))
      .withColumn("est",
        lit(0.709 * 4096.0 * 36028797018963968.0) / col("hsum").cast("double"))
      .writeStream
      .format("memory")
      .queryName("graft_stream_distinct")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Materialized.tempRoot("graft-ckpt-"))
      .start()
    q.awaitTermination()
    recordMicroBatchPlan("graft_stream_distinct", q)
    spark.table("graft_stream_distinct")
  }

  /** STREAMING per-window top-K: the hour's K highest-value events,
    * maintained as the K-entry [[graft.expressions.TopKByScore]] buffer
    * per window — the same bounded-state argument as the streaming HLL:
    * a rank window over the closed hour would buffer the hour's full
    * event stream per key, while this aggregate's state is K (score, id)
    * pairs per window no matter the event rate, and its merge is exactly
    * the state-store merge a micro-batch needs. Scores are exact integer
    * micro-units (DECIMAL(18,6)·10⁶) so the selection order is total and
    * engine-portable; the array is exploded to ranks AFTER the stream
    * completes (a generator after a streaming aggregation is unsupported
    * in-stream). */
  def topKPerHourOnce(spark: SparkSession, dir: String): DataFrame = {
    val stream = graft.sources.Tables.loadStream(spark, dir, "events")
    val q = stream
      .select(col("ts"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").as("score"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.expressions.GraftFunctions
        .topKByScore(col("score"), col("event_id"), 3).as("top"))
      .select(col("w.start").as("hour_start"), col("top"))
      .writeStream
      .format("memory")
      .queryName("graft_stream_topk")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Materialized.tempRoot("graft-ckpt-"))
      .start()
    q.awaitTermination()
    recordMicroBatchPlan("graft_stream_topk", q)
    spark.table("graft_stream_topk")
      .select(col("hour_start"), posexplode(col("top")))
      .select(col("hour_start"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("event_id"), col("col.score").as("score"))
  }

  /** The stream-STREAM interval join as an oracle-checked query: view →
    * purchase attribution over the events table, each view matched to the
    * same user's purchases within the following 2 hours. TWO independent
    * file-source streams (not a self-join on one) drive
    * [[intervalJoinStream]], whose two-sided event-time bound is what
    * keeps the buffered join state expirable; inner-join rows emit as
    * soon as both sides arrive (append mode — matched pairs never need
    * to wait for the watermark), so the AvailableNow run terminates with
    * every pair present and the batch interval-join SQL is an exact
    * oracle. */
  def intervalJoinOnce(spark: SparkSession, dir: String): DataFrame = {
    def src(): DataFrame = graft.sources.Tables.loadStream(spark, dir, "events")
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    val q = intervalJoinStream(views, purchases, "v_user", "p_user",
        "v_ts", "p_ts", watermark = "1 hour", horizon = "2 hours")
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"))
      .writeStream
      .format("memory")
      .queryName("graft_stream_join")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Materialized.tempRoot("graft-ckpt-"))
      .start()
    q.awaitTermination()
    recordMicroBatchPlan("graft_stream_join", q)
    spark.table("graft_stream_join")
  }

  /** Stream-STATIC enrichment join: the event stream joined per
    * micro-batch against a BATCH-computed dimension (each user's activity
    * tier — the log₂ bucket of their total historical event count), then
    * aggregated per (tier, event_type). The stream-static join is the
    * third join family next to batch-batch and stream-stream: the static
    * side is planned fresh each micro-batch (no state to expire — only
    * stream rows flow), and with a compact dimension Spark broadcasts it,
    * so the enrichment adds NO shuffle to the stream path. The tier is
    * bit-length bucketing (`bin()` string length), the same
    * integer-portable log₂ the CCDF query uses — no floating log to
    * disagree with the oracle over. */
  def staticEnrichOnce(spark: SparkSession, dir: String): DataFrame = {
    val tiers = graft.sources.Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("total"))
      .select(col("user_id"),
        (length(bin(col("total"))) - 1).cast("long").as("tier"))
    val stream = graft.sources.Tables.loadStream(spark, dir, "events")
    val q = stream
      .join(broadcast(tiers), "user_id")
      .groupBy("tier", "event_type")
      .agg(count(lit(1)).as("cnt"), sum(floor(col("value").cast("double") * 1000000d).cast("long")).as("value_micros"))
      .writeStream
      .format("memory")
      .queryName("graft_stream_enrich")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Materialized.tempRoot("graft-ckpt-"))
      .start()
    q.awaitTermination()
    recordMicroBatchPlan("graft_stream_enrich", q)
    spark.table("graft_stream_enrich")
  }

  /** Watermarked HOPPING-window counts (2-hour window sliding by 1 hour):
    * every event lands in exactly two overlapping windows, the smoothing
    * shape dashboards want when tumbling hours are too jumpy. State cost
    * is (size/slide)× tumbling — still watermark-bounded, freed as the
    * watermark passes each window end; the overlap factor, not the
    * stream length, is the multiplier, which is why hopping windows
    * survive scale where arbitrary self-joins would not. */
  def hoppingCountsOnce(spark: SparkSession, dir: String): DataFrame = {
    val stream = graft.sources.Tables.loadStream(spark, dir, "events")
    val q = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("cnt"))
      .writeStream
      .format("memory")
      .queryName("graft_stream_hopping")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Materialized.tempRoot("graft-ckpt-"))
      .start()
    q.awaitTermination()
    recordMicroBatchPlan("graft_stream_hopping", q)
    spark.table("graft_stream_hopping")
  }

  /** STREAMING corpus ingest: raw document micro-batches drive
    * [[graft.app.CorpusApp.appendBatch]] through `foreachBatch` — each
    * batch is cleaned by the full verified pipeline, gated against the
    * written corpus, and appended after the current max position.
    * Structured Streaming's contract is at-least-once `foreachBatch`
    * delivery with a STABLE batch id on replay; the corpus app's
    * applied-batch ledger keyed on that id turns it into exactly-once
    * corpus growth (a replayed batch is a full no-op — data, stats, and
    * manifest). This is the same ledger the batch caller uses, so batch
    * backfill and streaming ingest can share one corpus. */
  def corpusIngest(stream: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.app.CorpusApp.appendBatch(
          batch.sparkSession, outDir, s"stream-$id", batch.toDF())
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
