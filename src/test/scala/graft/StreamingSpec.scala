package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.{Event, Latest}

class StreamingSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("intervalJoinStream: purchases attribute to views within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val out = Streams.intervalJoinStream(
      views.toDF.toDF("v_user", "v_ts"), buys.toDF.toDF("b_user", "b_ts"),
      "v_user", "b_user", "v_ts", "b_ts", watermark = "10 minutes", horizon = "1 hour")
    val q = out.writeStream.format("memory").queryName("ij_test")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    views.addData((1L, ts(1000)), (2L, ts(1000)))
    buys.addData((1L, ts(1000 + 1800)), // 30 min later: in horizon
      (2L, ts(1000 + 7200)),            // 2 h later: past horizon
      (3L, ts(1200)))                   // no view for user 3
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ij_test").select("v_user").as[Long].collect().toSeq
    assert(rows == Seq(1L))
  }

  test("ingestAvailableNow ingests all files once; rerun with same checkpoint is a no-op") {
    val src = Files.createTempDirectory("graft-src-").toString
    val dst = Files.createTempDirectory("graft-dst-").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ck-").toString
    val schema = Seq((1L, "a")).toDF("id", "v").schema
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(src)
    Streams.ingestAvailableNow(spark, src, schema, dst, ckpt)
    assert(spark.read.parquet(dst).count() == 2)
    // rerun without new files: nothing re-ingested (checkpoint-driven idempotence)
    Streams.ingestAvailableNow(spark, src, schema, dst, ckpt)
    assert(spark.read.parquet(dst).count() == 2)
    // a new file arrives: only it is picked up
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(src)
    Streams.ingestAvailableNow(spark, src, schema, dst, ckpt)
    assert(spark.read.parquet(dst).count() == 3)
  }

  test("streamUpsert merges file-stream batches into a keyed table; replays converge") {
    val src = Files.createTempDirectory("graft-su-src-").toString
    val table = Files.createTempDirectory("graft-su-t-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-su-ck-").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("append").parquet(src)
    Streams.streamUpsert(spark.readStream.schema(schema).parquet(src), table, Seq("k"), ckpt)
    assert(spark.read.parquet(table).count() == 2)
    // a new file updates key 2 and adds key 3; keys stay unique
    Seq((2L, "B"), (3L, "c")).toDF("k", "v").write.mode("append").parquet(src)
    Streams.streamUpsert(spark.readStream.schema(schema).parquet(src), table, Seq("k"), ckpt)
    val rows = spark.read.parquet(table).sort("k").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // rerun with the same checkpoint: nothing re-merged, table unchanged
    Streams.streamUpsert(spark.readStream.schema(schema).parquet(src), table, Seq("k"), ckpt)
    assert(spark.read.parquet(table).sort("k").as[(Long, String)].collect().toSeq == rows)
  }

  test("streamUpsert crash mid-run: restart on the same checkpoint equals the single clean run") {
    // The at-least-once recovery contract, exercised at its worst-case
    // window: the injected crash lands AFTER the batch's merge side
    // effect but BEFORE the checkpoint commit, so the restart REPLAYS
    // that batch — and the keyed merge must absorb the replay
    // idempotently. maxFilesPerTrigger=1 splits the backlog into one
    // batch per file so there is a genuine "mid-run" to die in.
    val src = Files.createTempDirectory("graft-cr-src-").toString
    val table = Files.createTempDirectory("graft-cr-t-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-cr-ck-").toString
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("append").parquet(src)
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(src)
    Seq((4L, "d")).toDF("k", "v").write.mode("append").parquet(src)

    val failing = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.sources.Sinks.upsert(batch.sparkSession, table, batch.toDF(), Seq("k"))
        if (id == 0L)
          throw new RuntimeException("injected crash: merged but uncommitted")
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      failing.awaitTermination()
    }
    assert(e.getMessage.contains("injected crash"))
    // the crash window is real: batch 0's merge landed, the rest did not
    val partial = spark.read.parquet(table).count()
    assert(partial > 0 && partial < 4, s"expected a mid-run table, got $partial rows")

    // restart the REAL operator on the kept checkpoint: batch 0 replays
    // into the idempotent merge, the remaining files process once
    Streams.streamUpsert(spark.readStream.schema(schema).parquet(src), table, Seq("k"), ckpt)
    val recovered = spark.read.parquet(table).sort("k")
      .as[(Long, String)].collect().toSeq

    // reference: one clean uninterrupted run over the same source
    val table2 = Files.createTempDirectory("graft-cr-t2-").toString + "/t"
    val ckpt2 = Files.createTempDirectory("graft-cr-ck2-").toString
    Streams.streamUpsert(spark.readStream.schema(schema).parquet(src), table2, Seq("k"), ckpt2)
    val clean = spark.read.parquet(table2).sort("k")
      .as[(Long, String)].collect().toSeq
    assert(recovered == clean)
    assert(recovered == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("corpusIngest: streamed batches grow the corpus exactly once; replay run is a no-op") {
    val src = Files.createTempDirectory("graft-ci-src-").toString
    val out = Files.createTempDirectory("graft-ci-out-").toString
    val ckpt = Files.createTempDirectory("graft-ci-ck-").toString
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val schema = raw.schema
    raw.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    Streams.corpusIngest(spark.readStream.schema(schema).parquet(src), out, ckpt)
    val n1 = spark.read.parquet(s"$out/corpus").count()
    assert(n1 > 0)

    // second file drop: only the new batch is cleaned and appended
    raw.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    Streams.corpusIngest(spark.readStream.schema(schema).parquet(src), out, ckpt)
    val corpus = spark.read.parquet(s"$out/corpus")
    val n2 = corpus.count()
    assert(n2 > n1)
    // growth appended: positions stay a total 1..n rank, fps stay unique
    val agg = corpus.agg(min("pos"), max("pos"), countDistinct("pos"),
      countDistinct("fp")).head()
    assert(agg.getLong(0) == 1L && agg.getLong(1) == n2 &&
      agg.getLong(2) == n2 && agg.getLong(3) == n2)

    // rerun with no new files: checkpoint + ledger leave everything unchanged
    Streams.corpusIngest(spark.readStream.schema(schema).parquet(src), out, ckpt)
    assert(spark.read.parquet(s"$out/corpus").count() == n2)
    assert(spark.read.parquet(s"$out/manifest").head().getAs[Long]("n_raw") == raw.count())
  }

  test("corpusIngest crash at the ledger swap: restart on the same checkpoint equals a clean streamed run") {
    val src = Files.createTempDirectory("graft-ci-src-").toString
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val schema = raw.schema
    def ingest(out: String, ckpt: String): Unit =
      Streams.corpusIngest(spark.readStream.schema(schema).parquet(src), out, ckpt)
    val Seq(clean, cleanCk, out, ck) = Seq("out", "ck", "out", "ck")
      .map(p => Files.createTempDirectory(s"graft-ci-$p-").toString)
    raw.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    ingest(clean, cleanCk)
    ingest(out, ck)
    raw.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    ingest(clean, cleanCk)
    // the second micro-batch dies on the ledger swap's first rename: its
    // corpus rows, stats and manifest landed, the commit did not
    val e = intercept[Exception] {
      CrashingFs.around(spark, failAt = Some(s"$out/ledger.__old"))(ingest(out, ck))
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("injected crash"), s"unexpected failure: $chain")
    // restart: the checkpoint re-delivers the same files under the same id
    ingest(out, ck)
    def rows(dir: String, t: String) = {
      val df = spark.read.parquet(s"$dir/$t")
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSet
    }
    for (t <- Seq("corpus_stats", "corpus", "manifest", "ledger"))
      assert(rows(out, t) == rows(clean, t), s"$t diverged from the clean streamed run")
  }

  test("stream-static join enriches a stream with a batch dimension per microbatch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF.toDF("event_id", "user_id")
      .join(dim, "user_id") // stream-static: dim re-read per microbatch, no state
      .writeStream.format("memory").queryName("ss_join_test")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    mem.addData((10L, 1L), (11L, 2L), (12L, 99L)) // 99 has no dim row -> dropped
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_join_test")
      .select("event_id", "tier").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(10L -> "gold", 11L -> "basic"))
  }

  test("mergeSchema read: later batches may add columns; earlier rows surface nulls") {
    val dir = Files.createTempDirectory("graft-evolve-").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2L, "b", 7.5)).toDF("id", "v", "score").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", true).parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "score", "v"))
    val byId = merged.collect().map(r => r.getLong(0) -> Option(r.getAs[Any]("score"))).toMap
    assert(byId(1L).isEmpty && byId(2L).contains(7.5))
  }

  test("dedupByKeyStream drops re-delivered keys across triggers within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Streams.dedupByKeyStream(mem.toDF.toDF("k", "ts", "v"), "k", "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    // trigger 1: key 1 twice in-batch, key 2 once
    mem.addData((1L, ts(100), "a"), (1L, ts(150), "a2"), (2L, ts(200), "b"))
    q.processAllAvailable()
    // trigger 2: key 1 re-delivered (dropped), key 3 new (kept)
    mem.addData((1L, ts(300), "a3"), (3L, ts(400), "c"))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_test").select("k").as[Long].collect().sorted.toSeq
    assert(keys == Seq(1L, 2L, 3L))
  }

  test("hourlyCounts windows align to the hour and count all events (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    mem.addData((ts(3600), 1L), (ts(3660), 2L), (ts(7300), 3L))
    val q = Streams.hourlyCounts(mem.toDF.toDF("ts", "id"), "ts")
      .writeStream.format("memory").queryName("hc_test")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("hc_test").orderBy("hour_start")
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1)))
    assert(out.toSeq == Seq((3600L, 2L), (7200L, 1L)))
  }

  test("latestPerUser keeps per-key state across triggers and emits only on change") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.latestPerUser(mem.toDS())
      .writeStream.format("memory").queryName("lpu_test")
      .outputMode(OutputMode.Update).start()
    mem.addData(Event(1L, 10L, ts(100), 1.0), Event(1L, 11L, ts(200), 2.0))
    q.processAllAvailable()
    // an older event arrives late: champion unchanged, nothing emitted
    mem.addData(Event(1L, 9L, ts(50), 0.5))
    q.processAllAvailable()
    // a newer event arrives: new champion emitted
    mem.addData(Event(1L, 12L, ts(300), 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("lpu_test").as[Latest].collect().toSeq
    assert(rows == Seq(Latest(1L, 11L, 2.0), Latest(1L, 12L, 3.0)))
  }

  test("hourlyCountsOnce equals the batch aggregate over the same table") {
    val streamed = Streams.hourlyCountsOnce(spark, "/root/testdata/sf0.001")
      .orderBy("hour_start").collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    val batch = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("hour_start").collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(streamed == batch)
  }

  test("hllDistinctOnce: streaming sketch state equals the batch-built registers") {
    val streamed = Streams.hllDistinctOnce(spark, "/root/testdata/sf0.001")
      .select("event_type", "zeros", "hsum")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    // batch rebuild: same expression, same registers — the micro-batch
    // state-store merge must be invisible in the final sketch
    val maxRho = 55
    val batch = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"),
        graft.functions.TextFunctions.md5Long(col("user_id").cast("string")).as("h"))
      .groupBy("event_type")
      .agg(graft.expressions.GraftFunctions.hllRegisters(col("h"), 6).as("regs"))
      .select(col("event_type"),
        expr("CAST(size(filter(regs, x -> x = 0)) AS INT)").as("zeros"),
        expr(s"aggregate(regs, CAST(0 AS BIGINT), " +
          s"(acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), $maxRho - x))").as("hsum"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(streamed == batch)
  }

  test("warc stream to a PARQUET sink: checkpointed restart is exactly-once, equals the batch walk") {
    // the q311 surface uses a memory sink as the oracle-checked table; a
    // production crawl appends to files — this leg pins the file-sink +
    // checkpoint path: stop after the first window, land more shards,
    // restart on the same checkpoint, and the final table must equal the
    // batch container walk with zero duplicates (_spark_metadata commits
    // make partially-written batches invisible to readers).
    import graft.operators.{Warc, WarcShard}
    val fixture = s"${graft.sources.Tables.fixtureDir}/warc_shards.parquet"
    val tmp = Files.createTempDirectory("graft-warc-file-sink").toString
    val src = s"$tmp/shards"
    Files.createDirectories(java.nio.file.Paths.get(src))
    def land(id: Long): Unit = {
      val stage = s"$tmp/stage/$id"
      spark.read.parquet(fixture).filter(col("shard_id") === id)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for shard $id"))
      val dst = java.nio.file.Paths.get(s"$src/shard-$id.parquet")
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + id * 1000L)
    }
    def runOnce(): Unit = {
      val schema = spark.read.parquet(src).schema
      val shards = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
        .selectExpr("shard_id", "gz", "payload").as[WarcShard]
      val q = Warc.records(shards)
        .filter(col("warc_type") === "response")
        .select(col("target_uri").as("url"), col("http_status"),
          md5(col("body")).as("body_md5"))
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (0L to 3L).foreach(land); runOnce() // first life: 4 shards
    land(4L); land(5L); runOnce()       // restart: only the 2 new files
    val streamed = spark.read.parquet(s"$tmp/out")
    val batch = Warc.records(Warc.readShards(spark, fixture))
      .filter(col("warc_type") === "response")
      .select(col("target_uri").as("url"), col("http_status"),
        md5(col("body")).as("body_md5"))
    assert(streamed.count() == batch.count(), "duplicate or missing rows after restart")
    val streamedSet = streamed.collect().map(_.toSeq).toSet
    assert(streamedSet == batch.collect().map(_.toSeq).toSet)
  }
}
