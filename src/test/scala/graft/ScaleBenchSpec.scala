package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale harness's replication must produce a corpus whose scaled
  * claims are trustworthy: per-replica keys DISJOINT (entity counts grow
  * exactly n-fold, no accidental key collisions that would densify the
  * graph), non-key columns untouched (same content distribution), and
  * every id far below the 2³¹ packed-key guard. */
class ScaleBenchSpec extends AnyFunSuite with SharedSpark {

  test("replicate: disjoint offset keys, untouched payload columns, id headroom") {
    import spark.implicits._
    val base = Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 20L, "c"))
      .toDF("k", "fk", "payload")
    val out = ScaleBench.replicate(base, 10,
      Map("k" -> 1000000L, "fk" -> 1000000L))
    assert(out.count() == 30)
    // disjoint keys: 3 per replica, all distinct
    assert(out.select("k").distinct().count() == 30)
    // fk remapped CONSISTENTLY with k (same offset -> referential joins
    // stay intra-replica)
    val badFk = out.filter((col("fk") % 1000000L) =!= when(col("fk") % 1000000L === 10, 10L)
        .otherwise(20L)).count()
    assert(badFk == 0)
    // per-replica content identical: payload histogram is 10x the base
    val hist = out.groupBy("payload").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist == Map("a" -> 10L, "b" -> 10L, "c" -> 10L))
    // headroom: max id stays far under the 2^31 packed-key guard
    val maxK = out.agg(max("k")).head().getLong(0)
    assert(maxK == 9000003L && maxK < (1L << 31) / 100)
  }

  test("replicate with no offsets (dimension table) is the identity") {
    import spark.implicits._
    val dim = Seq((1L, "EU"), (2L, "US")).toDF("id", "name")
    val out = ScaleBench.replicate(dim, 10, Map.empty)
    assert(out.collect().toSet == dim.collect().toSet)
  }

  test("every offset table's offsets cover only existing columns") {
    // a typo'd column name in the Offsets map would throw at build time
    // deep in a 10-minute run; pin the names against the real tables here
    val expected = Map(
      "customer" -> Set("c_custkey"), "supplier" -> Set("s_suppkey"),
      "part" -> Set("p_partkey"),
      "orders" -> Set("o_orderkey", "o_custkey"),
      "lineitem" -> Set("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Set("event_id", "user_id"),
      "documents" -> Set("doc_id"), "embeddings" -> Set("vec_id"),
      "region" -> Set.empty[String], "nation" -> Set.empty[String])
    assert(ScaleBench.Offsets.view.mapValues(_.keySet).toMap == expected)
    val sf = "/root/testdata/sf0.001"
    expected.foreach { case (table, offCols) =>
      val cols = spark.read.parquet(s"$sf/$table.parquet").columns.toSet
      assert(offCols.subsetOf(cols), s"$table: $offCols vs $cols")
    }
  }

  test("every default query is a registry name") {
    // a typo'd name would fail only when its turn comes in a ×10 run
    val unknown = ScaleBench.DefaultQueries.filterNot(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: $unknown")
  }

  test("bench pins q153's AQE floor to the session parallelism (r15 verdict #1)") {
    // the q153 regime law (LinkPredict scaladoc, SCALE_EVIDENCE §q153):
    // sort-merge-regime AQE re-coalesces the exploding candidate join to
    // ~cores spilling tasks unless coalescePartitions.minPartitionNum is
    // floored — the bench applies it around the timed run only
    val pins = Bench.queryConfs(spark)
    val q153 = pins("q153_link_predict")
    val want = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt).toString
    assert(q153 ==
      Map("spark.sql.adaptive.coalescePartitions.minPartitionNum" -> want))
    // every pinned name is a real registry query
    assert(pins.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
