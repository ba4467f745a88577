package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Warc
import graft.sources.CdxIndex

/** The persisted CDX index: full-coverage invariants the oracle rows
  * (q324/q325 — a url sample) can't pin — every response locatable,
  * every location re-fetchable bit-exactly (both framings), bucket
  * pruning real at the file level, malformed slices harmless. */
class CdxIndexSpec extends AnyFunSuite with SharedSpark {

  private val fixture = s"${graft.sources.Tables.fixtureDir}/warc_shards.parquet"
  private lazy val root = CdxIndex.path(spark, fixture)

  private lazy val walkTruth =
    Warc.responses(Warc.readShards(spark, fixture))
      .select(col("target_uri").as("url"), col("shard_id"),
        md5(col("body")).as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap

  test("locations cover every response exactly once, across both framings") {
    val locs = spark.read.parquet(s"$root/locations")
    assert(locs.count() == walkTruth.size)
    assert(locs.select("url").distinct().count() == walkTruth.size)
    // the gzipped shard (5) contributes member-extent locations
    assert(locs.filter(col("shard_id") === 5).count() > 0)
    // index digests equal the full walk's
    val idx = locs.select("url", "shard_id", "body_md5")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(idx == walkTruth)
  }

  test("every location re-fetches its record bit-exactly (offsets + member boundaries)") {
    val all = spark.read.parquet(s"$root/locations")
      .select("url").collect().map(_.getString(0)).toSeq
    val fetched = CdxIndex.fetch(spark, root, fixture, all)
      .select(col("target_uri").as("url"), md5(col("body")).as("m"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fetched.size == walkTruth.size)
    assert(fetched == walkTruth.map { case (u, (_, m)) => u -> m })
  }

  test("lookup prunes to the queried urls' bucket directories (partition filter in the scan)") {
    val url = walkTruth.keys.min
    val df = CdxIndex.lookup(spark, root, Seq(url))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("url_bucket"),
      s"no bucket pruning in:\n$plan")
    assert(df.count() == 1)
  }

  test("fetch reads only the named shards (pushdown prunes the rest)") {
    // a single url names a single shard — the scan's pushed filter must
    // restrict shard_id before any payload is touched
    val url = walkTruth.keys.min
    val df = CdxIndex.fetch(spark, root, fixture, Seq(url))
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(l => l.contains("PushedFilters") && l.contains("shard_id"))
    assert(scanLine.exists(_.matches(".*PushedFilters[^\\]]*shard_id.*")),
      s"shard_id not pushed into the shard scan:\n${df.queryExecution.executedPlan}")
    assert(df.count() == 1)
  }

  test("incremental append is indistinguishable from a fresh build (every location row)") {
    val inc = CdxIndex.pathIncremental(spark, fixture)
    def rows(r: String) = spark.read.parquet(s"$r/locations")
      .select("url", "shard_id", "offset", "length", "http_status",
        "body_md5", "url_bucket")
      .collect().map(_.toSeq).toSet
    assert(rows(inc) == rows(root))
  }

  test("CDX over the WET sidecar: conversion records indexed and fetched from gzip members") {
    // the engine's own WARC WRITER feeds its own CDX: pack documents as
    // gz conversion shards, index with warcTypes=conversion, and every
    // fetched body must hash to the source text
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(concat(lit("wet://doc/"), col("doc_id")).as("url"),
        col("text"), (col("doc_id") % 4).as("shard_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft-wet-cdx").toString
    Warc.packConversions(docs, "url", "text", "shard_id",
        date = "2026-01-01T00:00:00Z", gz = true)
      .toDF().write.parquet(s"$dir/shards")
    CdxIndex.buildFrom(spark, Warc.readShards(spark, s"$dir/shards"),
      s"$dir/cdx", warcTypes = Set("conversion"))
    val truth = docs.select(col("url"), md5(col("text")).as("m"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val locs = spark.read.parquet(s"$dir/cdx/locations")
    assert(locs.count() == truth.size) // every conversion record located once
    val sample = truth.keys.toSeq.sorted.take(7)
    val fetched = CdxIndex.fetch(spark, s"$dir/cdx", s"$dir/shards", sample)
      .select(col("target_uri").as("url"), md5(col("body")).as("m"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fetched == sample.map(u => u -> truth(u)).toMap)
  }

  test("a gz member packing SEVERAL records: slice_idx walks the fetch to the right one") {
    // legal WARC, not the CC norm: two conversion records in ONE gzip
    // member — the member extent is shared, so without the slice index a
    // fetch of the second url would silently return the first record
    def rec(url: String, text: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $url\r\n" +
        s"Content-Type: text/plain\r\nContent-Length: ${text.length}\r\n\r\n" +
        text + "\r\n\r\n").getBytes("UTF-8")
    val member = rec("wet://a", "alpha text") ++ rec("wet://b", "beta text")
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(member); g.close()
    val shard = graft.operators.WarcShard(0L, gz = true, bos.toByteArray)
    val locs = Warc.locateShard(shard, Set("conversion"))
    assert(locs.map(l => (l.url, l.slice_idx)).toSet ==
      Set(("wet://a", 0), ("wet://b", 1)))
    assert(locs.map(l => (l.offset, l.length)).distinct.size == 1,
      "both records must share the member extent")
    val fetched = locs.map(l => Warc.fetchRecord(0L, gz = true, shard.payload,
      l.offset, l.length, l.slice_idx).get)
    assert(fetched.map(r => (r.target_uri.get,
      new String(r.body.get, "UTF-8"))).toSet ==
      Set(("wet://a", "alpha text"), ("wet://b", "beta text")))
  }

  test("malformed slices are harmless: out-of-range and torn fetches yield None") {
    val payload = "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 4\r\n\r\nabcd".getBytes("US-ASCII")
    assert(Warc.fetchRecord(0L, gz = false, payload, -1L, 10L).isEmpty)
    assert(Warc.fetchRecord(0L, gz = false, payload, 0L, payload.length + 1L).isEmpty)
    assert(Warc.fetchRecord(0L, gz = false, payload, 0L, 0L).isEmpty)
    // a non-gzip slice fetched as gz must not throw
    assert(Warc.fetchRecord(0L, gz = true, payload, 0L, payload.length.toLong).isEmpty)
  }
}
