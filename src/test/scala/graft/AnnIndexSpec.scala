package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{AnnIndex, Tables}
import graft.operators.{Pq, Similarity}

class AnnIndexSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("build writes centroid/codebook/postings tables, postings partitioned by cell") {
    val root = AnnIndex.path(spark, sfDir)
    assert(new java.io.File(s"$root/centroids").exists)
    assert(new java.io.File(s"$root/codebooks").exists)
    // cell partitioning is a DIRECTORY structure: a probe prunes at the
    // filesystem level before any row is decoded
    val cells = new java.io.File(s"$root/postings").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cells.length >= 2, s"expected cell= partition dirs, got ${cells.mkString(",")}")
    // every corpus vector has exactly one posting
    val n = Tables.embeddings(spark, sfDir).count()
    assert(spark.read.parquet(s"$root/postings").count() == n)
  }

  test("the written quantizers are exactly the q46/q100 training results") {
    val root = AnnIndex.path(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val expectCents = Similarity.trainCentroidsLite(e, "vec_id", "embedding", 4, 10L, 1000, 1)
    assert(AnnIndex.readCentroids(spark, root) == expectCents)
    val expectCbs = Pq.trainCodebooks(e, "vec_id", "embedding", 4, 4, 10, 1000)
    val got = AnnIndex.readCodebooks(spark, root)
    assert(got.map(_.map(_.toSeq)) == expectCbs.map(_.map(_.toSeq)))
  }

  test("search reads ONLY index tables and prunes unprobed cells") {
    val root = AnnIndex.path(spark, sfDir)
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 7)
      .select(col("embedding")).first().getSeq[Float](0).toArray.map(_.toDouble)
    val df = AnnIndex.searchTopK(spark, root, q, nprobe = 2, excludeId = 7L, topK = 10)
    val plan = df.queryExecution.executedPlan.toString
    // no corpus scan: the embeddings table does not appear in the plan
    assert(!plan.contains("embeddings"), s"search touched the corpus:\n$plan")
    // partition pruning: the scan carries a cell partition filter
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no cell partition pruning in:\n$plan")
    assert(df.count() == 10)
  }

  test("append assigns/encodes the batch against WRITTEN quantizers — no retrain") {
    val root = AnnIndex.pathIncremental(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    // quantizers must equal the HISTORY-trained ones (batch never leaks
    // into the sample: a retrain-on-append bug would change them)
    val hist = e.filter(col("vec_id") % 7 =!= 3)
    val expectCents = Similarity.trainCentroidsLite(hist, "vec_id", "embedding", 4, 10L, 1000, 1)
    assert(AnnIndex.readCentroids(spark, root) == expectCents)
    // but the postings cover history AND batch
    assert(spark.read.parquet(s"$root/postings").count() == e.count())
    // and batch rows carry the cell the WRITTEN centroids assign
    val batchIds = spark.read.parquet(s"$root/postings")
      .join(e.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
    val recomputed = e.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id"), Similarity.ivfAssign(col("embedding"), expectCents).as("cell2"))
    assert(batchIds.join(recomputed, "vec_id")
      .filter(col("cell") =!= col("cell2")).count() == 0)
  }

  test("repeated searches pay no training: the memoized root is stable") {
    val r1 = AnnIndex.path(spark, sfDir)
    val r2 = AnnIndex.path(spark, sfDir)
    assert(r1 == r2)
  }
}
