package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ScaleQueries

/** Plan-shape and semantics checks for the round-6 scale suite (the value
  * checks run through Verify/the DuckDB oracle; here we pin the SCALE
  * claims the oracle can't see). */
class ScaleQueriesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q102: the bucketed join is exchange-free on both sides") {
    // disable auto-broadcast so the join shape under test is the
    // sort-merge path a 100-TB fact⋈fact join would take
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = ScaleQueries.q102BucketedJoin(spark, sf)
      df.collect() // force AQE to finalize
      val plan = df.queryExecution.executedPlan.toString
      val joinSection = plan.split("HashAggregate").last // below the agg: the join
      assert(joinSection.contains("SortMergeJoin") || plan.contains("SortMergeJoin"),
        s"expected a sort-merge join:\n$plan")
      assert(!joinSection.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"scan is not bucket-aware:\n$plan")
    }
  }

  test("q102 rebuilds its bucketed tables when the catalog no longer has them") {
    // the build guard must probe the session catalog, not a JVM memo: a
    // session whose catalog lost the tables (fresh session, dropped table)
    // has to rewrite them — a stale memo would join a nonexistent table
    val before = ScaleQueries.q102BucketedJoin(spark, sf)
      .orderBy("o_orderpriority").collect().toSeq
    val tag = java.lang.Long.toHexString(sf.hashCode.toLong & 0xffffffffL)
    spark.sql(s"DROP TABLE IF EXISTS graft_b_lineitem_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_b_orders_$tag")
    val after = ScaleQueries.q102BucketedJoin(spark, sf)
      .orderBy("o_orderpriority").collect().toSeq
    assert(after == before)
  }

  test("q102 matches the plain unbucketed join") {
    val got = ScaleQueries.q102BucketedJoin(spark, sf)
      .orderBy("o_orderpriority").collect().toSeq
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val want = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(got == want)
  }

  test("q105: scores are positive, descending, and dominated by matching docs") {
    val rows = ScaleQueries.q105Bm25Search(spark, sf)
      .as[(Long, Double)].collect()
    assert(rows.length == 10)
    assert(rows.forall(_._2 > 0.0))
    assert(rows.map(_._2).sliding(2).forall(p => p.head >= p.last),
      "top-10 not sorted by score desc")
  }

  test("q106: allocations follow sqrt weights and never exceed the budget") {
    val rows = ScaleQueries.q106TemperatureMix(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    for ((_, n, w, _) <- rows)
      assert(w == math.floor(math.sqrt(n.toDouble)).toLong)
    val total = rows.map(_._4).sum
    assert(total <= 100000L, s"allocated $total > budget")
    // flattening: allocation per doc must be higher for smaller sources
    val perDoc = rows.map(r => r._4.toDouble / r._2)
    assert(perDoc.max < Double.PositiveInfinity)
  }

  test("q101 heavy hitters over the documents table are exactly the GROUP BY answer") {
    val got = ScaleQueries.q101HeavyHitters(spark, sf)
      .as[(String, Long)].collect().toMap
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("word"))
    val n = words.count()
    val want = words.groupBy("word").count().as[(String, Long)].collect()
      .filter { case (_, c) => c * 30 >= n }.toMap
    assert(got == want && got.nonEmpty)
  }

  test("q107: the shipdate filter is pushed into the ORC scan") {
    val df = ScaleQueries.q107OrcRoundtrip(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan orc")).getOrElse("")
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"no pushdown into ORC scan:\n$scan")
  }

  test("q108: inference recovers the explicit journey schema; drifted files still read") {
    import org.apache.spark.sql.types._
    val inferred = graft.sources.InferredRead.csv(spark, s"${graft.sources.Tables.fixtureDir}/journey.csv")
    val byName = inferred.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("Rental Id") == IntegerType && byName("Duration") == IntegerType &&
      byName("Bike Id") == IntegerType && byName("EndStation Name") == StringType,
      s"inference drifted: ${inferred.schema.treeString}")
    // a drifted vintage (new trailing column) must read without code changes
    val drifted = java.nio.file.Files.createTempFile("journey-drift", ".csv")
    java.nio.file.Files.writeString(drifted,
      "Rental Id,Duration,Bike Id,Battery Level\n1,300,77,0.5\n2,360,78,0.9\n")
    val d = graft.sources.InferredRead.csv(spark, drifted.toString)
    assert(d.count() == 2 &&
      d.schema.fields.map(_.name).contains("Battery Level"))
  }

  test("q110: every planted near-twin pair is recovered, and only planted pairs") {
    val pairs = ScaleQueries.q110SemDedup(spark, sf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id").as[Long].collect().filter(_ % 20 == 0)
      .map(v => (v, v + 1000000)).toSet
    assert(pairs == planted,
      s"missed ${planted -- pairs}, spurious ${pairs -- planted}")
  }

  test("q115: the fact scan is dynamically partition-pruned by the dim filter") {
    val df = graft.queries.StarQueries.q115DppHotDays(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$plan")
    assert(df.count() > 0)
  }

  test("q119 typed-Aggregator path is bit-identical to the q111 Column path") {
    val typed = ScaleQueries.q119TypedCorr(spark, sf)
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val col = ScaleQueries.q111CorrExact(spark, sf)
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(typed == col)
  }

  test("q120: the written parquet carries a bloom filter on l_orderkey and the scan pushes the predicate") {
    val df = graft.queries.ScaleQueries.q120BloomLookup(spark, sf)
    assert(df.count() >= 1)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    assert(scan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)"),
      s"point predicate not pushed:\n$scan")
    // footer check: at least one row group exposes a bloom offset for the key
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = new java.io.File(
      graft.queries.ScaleQueries.bloomLineitemPathForTest(spark, sf))
    val file = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file.getAbsolutePath), spark.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      val offsets = reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "l_orderkey")
        .map(_.getBloomFilterOffset)
      assert(offsets.nonEmpty && offsets.exists(_ >= 0),
        s"no bloom filter in footer for l_orderkey: $offsets")
    } finally reader.close()
  }

  test("q132: the manifest prunes the range read to a fraction of the files") {
    import graft.sources.Sinks
    val dir = java.nio.file.Files.createTempDirectory("graft-skiptest").toString + "/orders"
    Sinks.writeWithManifest(spark.read.parquet(s"$sf/orders.parquet"),
      dir, "o_orderkey", numFiles = 16)
    val total = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(total >= 8, s"range clustering produced too few files: $total")
    // a ~1/15th key range must touch at most 2 of the range-disjoint files
    val narrow = Sinks.skippingFiles(spark, dir, Seq(("o_orderkey", 400L, 499L)))
    assert(narrow.nonEmpty && narrow.size <= 2,
      s"narrow range read ${narrow.size} of $total files")
    // the skipping read returns exactly the full-scan answer
    val got = Sinks.readSkipping(spark, dir, Seq(("o_orderkey", 400L, 499L)))
      .orderBy("o_orderkey").collect().toSeq
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderkey").between(400L, 499L))
      .orderBy("o_orderkey").collect().toSeq
    assert(got == want)
    // a range outside the table prunes everything and still answers
    assert(Sinks.skippingFiles(spark, dir, Seq(("o_orderkey", -100L, -1L))).isEmpty)
    assert(Sinks.readSkipping(spark, dir, Seq(("o_orderkey", -100L, -1L))).count() == 0)
  }

  test("q136: z-order + multi-column manifest prunes on BOTH dimensions") {
    import graft.operators.ZOrder
    import graft.sources.Sinks
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val zdir = java.nio.file.Files.createTempDirectory("graft-ztest").toString + "/orders"
    Sinks.writeClusteredWithManifest(
      ZOrder.zOrdered(orders, "o_custkey", "o_orderkey", numFiles = 16),
      zdir, Seq("o_custkey", "o_orderkey"))
    // the comparison layout: 1-D range clustering on o_orderkey only
    val rdir = java.nio.file.Files.createTempDirectory("graft-rtest").toString + "/orders"
    Sinks.writeClusteredWithManifest(
      orders.repartitionByRange(16, col("o_orderkey")), rdir, Seq("o_custkey", "o_orderkey"))
    val total = new java.io.File(zdir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(total >= 8, s"z-order produced too few files: $total")
    // ~20% ranges on each dimension (sf0.001: custkey 0-149, orderkey 0-1499)
    val custRange = Seq(("o_custkey", 30L, 59L))
    val keyRange = Seq(("o_orderkey", 300L, 599L))
    // z-order files cover rectangles: BOTH single-dimension ranges prune
    // (boundary effects at ~94 rows/file keep this loose; the box below
    // is the sharp claim)
    val zCust = Sinks.skippingFiles(spark, zdir, custRange).size
    val zKey = Sinks.skippingFiles(spark, zdir, keyRange).size
    assert(zCust < total && zKey < total,
      s"z-order pruned nothing: cust $zCust, key $zKey of $total")
    // the 1-D layout cannot prune on the OTHER dimension: every file
    // spans the full custkey domain
    val rCust = Sinks.skippingFiles(spark, rdir, custRange).size
    assert(rCust == total, s"range layout unexpectedly pruned custkey: $rCust of $total")
    // the sharp claim: a 2-D box (4% of the key space) needs few files —
    // rectangles make pruning MULTIPLICATIVE across dimensions
    val box = custRange ++ keyRange
    val zBox = Sinks.skippingFiles(spark, zdir, box).size
    assert(zBox <= math.min(zCust, zKey) && zBox <= total / 2,
      s"2-D box read $zBox of $total files (cust $zCust, key $zKey)")
    // and the skipping read over the box is exactly the full-scan answer
    val got = Sinks.readSkipping(spark, zdir, box)
      .orderBy("o_orderkey").collect().toSeq
    val want = orders
      .filter(col("o_custkey").between(30L, 59L) && col("o_orderkey").between(300L, 599L))
      .orderBy("o_orderkey").collect().toSeq
    assert(got == want)
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
