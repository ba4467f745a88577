package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Tables, TextIndex}

class TextIndexSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("build writes bucket-partitioned postings + lexicon + stats; totals are exact") {
    val root = TextIndex.path(spark, sfDir)
    val buckets = new java.io.File(s"$root/postings").listFiles()
      .filter(_.getName.startsWith("term_bucket="))
    assert(buckets.length >= 8, s"expected term_bucket= dirs, got ${buckets.length}")
    val docs = Tables.documents(spark, sfDir)
    val (n, total) = TextIndex.readStats(spark, root)
    assert(n == docs.count())
    val expTotal = docs.agg(sum(size(split(lower(col("text")), " "))))
      .first().getLong(0)
    assert(total == expTotal)
    // one posting per distinct (doc, term)
    val expPostings = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .distinct().count()
    assert(spark.read.parquet(s"$root/postings").count() == expPostings)
  }

  test("driver-side bucketOf equals the written term_bucket for every term") {
    val root = TextIndex.path(spark, sfDir)
    val sample = spark.read.parquet(s"$root/postings")
      .select("tok", "term_bucket").distinct().limit(500).collect()
    sample.foreach { r =>
      // the partition column reads back as the narrowest integral type
      assert(TextIndex.bucketOf(r.getString(0)) ==
        r.getAs[Number]("term_bucket").longValue(),
        s"bucket mismatch for '${r.getString(0)}'")
    }
  }

  test("search reads ONLY index tables and prunes unqueried buckets") {
    val root = TextIndex.path(spark, sfDir)
    val df = TextIndex.readPostings(spark, root, Seq("join", "stream"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents"), s"search touched the corpus:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"),
      s"no bucket pruning in:\n$plan")
    // df sums equal direct per-term doc counts
    val gotDf = TextIndex.readDf(spark, root, Seq("join"))
      .first().getLong(1)
    val expDf = Tables.documents(spark, sfDir)
      .filter(array_contains(split(lower(col("text")), " "), "join")).count()
    assert(gotDf == expDf)
  }

  test("append-only deltas: the incremental index serves BIT-IDENTICAL state to a full build") {
    val full = TextIndex.path(spark, sfDir)
    val incr = TextIndex.pathIncremental(spark, sfDir)
    assert(TextIndex.readStats(spark, incr) == TextIndex.readStats(spark, full))
    val t = Seq("join", "stream", "filter", "sort")
    val dfFull = TextIndex.readDf(spark, full, t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfIncr = TextIndex.readDf(spark, incr, t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfFull == dfIncr)
    // postings row sets agree term-by-term
    val pf = TextIndex.readPostings(spark, full, t)
    val pi = TextIndex.readPostings(spark, incr, t)
    assert(pf.exceptAll(pi).isEmpty && pi.exceptAll(pf).isEmpty)
  }

  test("the memoized root is stable: repeated searches pay no build") {
    assert(TextIndex.path(spark, sfDir) == TextIndex.path(spark, sfDir))
  }

  test("compact: many appends collapse to summed rows with BIT-IDENTICAL read state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ti-compact").toString + "/idx"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // build on one slice, append four more: 5 stats rows, 5 df-delta
    // generations accumulate
    TextIndex.buildFrom(spark, docs.filter(col("doc_id") % 5 === 0), root)
    (1 to 4).foreach(k =>
      TextIndex.append(spark, root, docs.filter(col("doc_id") % 5 === k), s"b$k"))
    val terms = Seq("join", "stream", "filter")
    val statsBefore = TextIndex.readStats(spark, root)
    val dfBefore = TextIndex.readDf(spark, root, terms)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val postBefore = TextIndex.readPostings(spark, root, terms)
      .collect().map(_.toSeq).toSet
    val lexRowsBefore = spark.read.parquet(s"$root/lexicon").count()
    val statRowsBefore = spark.read.parquet(s"$root/stats").count()
    assert(statRowsBefore == 5L)
    TextIndex.compact(spark, root)
    // every read-path value is unchanged (exact integers summed)
    assert(TextIndex.readStats(spark, root) == statsBefore)
    assert(TextIndex.readDf(spark, root, terms)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == dfBefore)
    assert(TextIndex.readPostings(spark, root, terms)
      .collect().map(_.toSeq).toSet == postBefore)
    // the delta accumulation is gone: one stats row, one row per term
    assert(spark.read.parquet(s"$root/stats").count() == 1L)
    val lexAfter = spark.read.parquet(s"$root/lexicon")
    assert(lexAfter.count() < lexRowsBefore)
    assert(lexAfter.groupBy("tok").count().filter(col("count") > 1).count() == 0)
    // and a LATER append still composes (deltas on top of the compacted rows)
    TextIndex.append(spark, root, docs.filter(col("doc_id") % 5 === 4), "b5")
    val (n2, tot2) = TextIndex.readStats(spark, root)
    assert(n2 > statsBefore._1 && tot2 > statsBefore._2)
  }

  test("bucket-count knob: the written meta drives every later probe") {
    val root = java.nio.file.Files.createTempDirectory("graft-ti-b4").toString + "/idx"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    TextIndex.buildFrom(spark, docs, root, buckets = 4)
    val dirs = new java.io.File(s"$root/postings").listFiles()
      .filter(_.getName.startsWith("term_bucket=")).map(_.getName).sorted
    assert(dirs.length == 4, dirs.mkString(","))
    // probe pruning uses the WRITTEN count: df/postings agree with the
    // default-bucket index for the same terms
    val def16 = TextIndex.path(spark, sfDir)
    val terms = Seq("join", "stream")
    val a = TextIndex.readPostings(spark, root, terms).collect().map(_.toSeq).toSet
    val b = TextIndex.readPostings(spark, def16, terms).collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
