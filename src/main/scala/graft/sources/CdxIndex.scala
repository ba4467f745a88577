package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Warc, WarcShard}

/** Persisted CDX-style index over a WARC shard store — the third
  * persisted-index family next to [[TextIndex]] (lexical) and
  * [[AnnIndex]] (vector): url → (shard, offset, length) plus the
  * identity fields a lookup serves (http status, content digest).
  * Common Crawl's CDX(J) artifact re-expressed Spark-first:
  *
  *  - BUILD walks the shards ONCE (one task per shard, zero shuffle
  *    before the bucket write) and persists the location table
  *    partitioned by a deterministic md5 url bucket;
  *  - LOOKUP reads ONLY the queried urls' bucket directories
  *    (filesystem-level pruning, the [[TextIndex]] probe discipline)
  *    and never touches crawl bytes;
  *  - FETCH reads ONLY the shards the looked-up locations name
  *    (`shard_id` pushed into the scan) and re-parses each record from
  *    its (offset, length) slice via [[Warc.fetchRecord]] — for `gz`
  *    shards the slice is the record's own gzip member, so a production
  *    object store serves it as one ranged GET with no shard walk.
  *
  * Scale shape: an index row is ~100 B/page — a 10^10-page crawl
  * indexes in ~1 TB, itself bucket-partitioned so even the index is
  * never scanned whole. The lookup url set is driver-held by
  * construction (a fetch API call), which is what makes the
  * shard-pruning `isin` and the broadcast join bounded. */
object CdxIndex {

  /** Fixture-scale bucket knob (persisted in `meta/`, the TextIndex
    * convention — readers and future appends probe with the written
    * count; production sizes this to keep bucket dirs listable). */
  val Buckets = 16

  def buildFrom(s: SparkSession, shards: org.apache.spark.sql.Dataset[WarcShard],
                out: String, buckets: Int = Buckets,
                warcTypes: Set[String] = Set("response")): Unit = {
    import s.implicits._
    val locs = Warc.recordLocations(shards, warcTypes).toDF()
      .withColumn("url_bucket", bucketCol(col("url"), buckets))
    Sinks.overwriteSwapPartitioned(locs, s"$out/locations", "url_bucket")
    Seq(buckets).toDF("n_buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/meta")
  }

  /** Ingest new shards into an EXISTING index: locate the BATCH only
    * (one task per new shard — the history is never re-walked) and
    * append its rows under their buckets. With `batchTag` the append is
    * a revocable tagged file move ([[Sinks.appendTagged]], the
    * crash-atomic convention the corpus apps commit via their ledger). */
  def append(s: SparkSession, root: String,
             shards: org.apache.spark.sql.Dataset[WarcShard],
             batchTag: Option[String] = None): Unit = {
    val locs = Warc.recordLocations(shards).toDF()
      .withColumn("url_bucket", bucketCol(col("url"), bucketsOf(s, root)))
    batchTag match {
      case Some(b) => Sinks.appendTagged(locs, s"$root/locations", b,
        Seq("url_bucket"))
      case None => locs.write.mode("append").partitionBy("url_bucket")
        .parquet(s"$root/locations")
    }
    s.catalog.refreshByPath(s"$root/locations")
  }

  /** Serve url → location rows from the WRITTEN index: only the urls'
    * bucket directories are read (partition pruning), then the in-bucket
    * url filter. Crawl bytes are never touched. */
  def lookup(s: SparkSession, root: String, urls: Seq[String]): DataFrame = {
    val n = bucketsOf(s, root)
    val buckets = urls.map(bucketOf(_, n)).distinct
    s.read.parquet(s"$root/locations")
      .filter(col("url_bucket").isin(buckets: _*))
      .filter(col("url").isin(urls: _*))
      .select("url", "shard_id", "rec_idx", "slice_idx", "offset", "length",
        "http_status", "body_md5")
  }

  /** Random-access re-fetch of the looked-up pages: the bounded location
    * set is collected (it IS the API argument, bounded by construction),
    * the shard scan is pruned to exactly the named shards, and each
    * record is re-parsed from its slice — never a shard walk. Returns
    * the parsed [[graft.operators.WarcRec]] rows. */
  def fetch(s: SparkSession, root: String, shardsPath: String,
            urls: Seq[String]): DataFrame = {
    import s.implicits._
    val locs = lookup(s, root, urls)
      .select("shard_id", "offset", "length", "slice_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val shardIds = locs.map(_._1).distinct.toSeq
    val locDf = locs.toSeq.toDF("shard_id", "offset", "length", "slice_idx")
    Warc.readShards(s, shardsPath)
      .filter(col("shard_id").isin(shardIds: _*)) // pushed to the scan
      .toDF()
      .join(broadcast(locDf), Seq("shard_id"))
      .select(col("shard_id"), col("gz"), col("payload"),
        col("offset"), col("length"), col("slice_idx"))
      .as[(Long, Boolean, Array[Byte], Long, Long, Int)]
      .flatMap { case (sid, gz, payload, off, len, si) =>
        Warc.fetchRecord(sid, gz, payload, off, len, si)
      }
      .toDF()
  }

  private def bucketCol(url: org.apache.spark.sql.Column, buckets: Int) =
    conv(substring(md5(url), 1, 8), 16, 10).cast("long") % buckets

  /** Driver-side twin of [[bucketCol]] for probe planning. */
  private[graft] def bucketOf(url: String, buckets: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(url.getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  private[graft] def bucketsOf(s: SparkSession, root: String): Int =
    if (!Sinks.exists(s, s"$root/meta")) Buckets
    else s.read.parquet(s"$root/meta").head().getAs[Int]("n_buckets")

  // ------------------------------------------------- fixture memoization

  /** Built once per (JVM, shard store) — the [[TextIndex.path]] memo
    * convention. */
  def path(s: SparkSession, shardsPath: String): String =
    Materialized.dir(s"cdx:full:$shardsPath", perPass = false)(
      buildFrom(s, Warc.readShards(s, shardsPath), _))

  /** The INCREMENTAL memo: built over all shards but the last, then the
    * last appended as a batch — the q293/q310 maintenance convention.
    * Same lookup truth as [[path]]: the oracle cannot tell them apart,
    * which is the point. */
  def pathIncremental(s: SparkSession, shardsPath: String): String =
    Materialized.dir(s"cdx:incr:$shardsPath", perPass = false) { out =>
      val all = Warc.readShards(s, shardsPath)
      val last = all.agg(max(col("shard_id"))).head().getLong(0)
      buildFrom(s, all.filter(col("shard_id") =!= last), out)
      append(s, out, all.filter(col("shard_id") === last))
    }
}
