package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{conv, md5, substring}

/** Deterministic md5 buckets for bucket-partitioned index tables
  * ([[TextIndex]] postings by term, [[CdxIndex]] locations by url): a
  * key's bucket is its first 8 md5 hex chars as a long, mod the count. */
private[graft] trait Md5Buckets {

  /** Default bucket count, a FIXTURE-SCALE pin (production sizes a bucket
    * dir to ~a few GB). An index persists its count in `meta/`, so readers
    * and appends probe with the WRITTEN count ([[bucketsOf]]). */
  private[graft] val Buckets = 16

  /** The key's bucket as a column; [[bucketOf]] is the identical
    * driver-side form. */
  protected def bucketCol(key: Column, buckets: Int): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast("long") % buckets

  /** Driver-side twin of [[bucketCol]] for probe planning. */
  private[graft] def bucketOf(key: String, buckets: Int = Buckets): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  /** The bucket count the index at `root` was written with. */
  private[graft] def bucketsOf(s: SparkSession, root: String): Int =
    if (!Sinks.exists(s, s"$root/meta")) Buckets
    else s.read.parquet(s"$root/meta").head().getAs[Int]("n_buckets")
}
