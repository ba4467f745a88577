package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KCore, Sever}

/** The cluster-scale checkpoint knob: `spark.graft.checkpoint.reliable`
  * routes every iterative-operator sever through a reliable
  * `Dataset.checkpoint` into the SparkContext checkpoint dir (executor
  * loss costs one re-read, not a severed-prefix recomputation), and the
  * knob refuses to run without a checkpoint dir rather than silently
  * falling back to executor-local storage. */
class SeverSpec extends AnyFunSuite with SharedSpark {

  private def edges() = {
    import spark.implicits._
    Seq(
    (1L, 2L), (2L, 3L), (1L, 3L), // triangle: the 2-core
    (3L, 4L), (4L, 5L)            // pendant path: peeled at k=2
  ).toDF("a", "b")
  }

  /** newSession shares the SparkContext, and Spark exposes no public
    * UNSET for the checkpoint dir — so to make this test deterministic
    * under any suite/test ordering (the sibling reliable-path test SETS
    * the dir on the shared context), clear it through the Scala setter
    * (`private[spark]` compiles to a public method in bytecode) and
    * restore the captured value afterwards. */
  private def withNoCheckpointDir[A](body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val setter = sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[_]])
    setter.invoke(sc, None)
    try body
    finally prev.foreach(sc.setCheckpointDir)
  }

  test("reliable=true without a checkpoint dir fails loudly, never falls back") {
    withNoCheckpointDir {
      val fresh = spark.newSession()
      fresh.conf.set(Sever.ReliableKey, "true")
      assert(fresh.sparkContext.getCheckpointDir.isEmpty,
        "withNoCheckpointDir must leave the shared context dir-less")
      val e = intercept[IllegalArgumentException] {
        Sever(fresh.range(3).toDF())
      }
      assert(e.getMessage.contains(Sever.ReliableKey))
    }
  }
  test("reliable path writes RDD checkpoints and yields the same result") {
    val localRes = KCore.kCoreIncremental(edges(), "a", "b", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val ckptDir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt-")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.conf.set(Sever.ReliableKey, "true")
    try {
      val reliableRes = KCore.kCoreIncremental(edges(), "a", "b", k = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(reliableRes == localRes)
      assert(reliableRes == Set((1L, 2L), (2L, 2L), (3L, 2L)))
      // the reliable run must have actually persisted round results into
      // the fault-tolerant dir (rdd-* subdirs with part files)
      val persisted = java.nio.file.Files.walk(ckptDir).toArray.map(_.toString)
      assert(persisted.exists(_.contains("rdd-")),
        s"no rdd checkpoint written under $ckptDir")
    } finally {
      spark.conf.set(Sever.ReliableKey, "false")
    }
  }

  test("TextIndex.buildFrom follows the knob: no checkpoint dir throws, a dir leaves the index unchanged") {
    import org.apache.spark.sql.SparkSession
    import graft.sources.TextIndex
    def built(s: SparkSession): Map[String, Set[String]] = {
      val root = java.nio.file.Files.createTempDirectory("graft-sever-ti").toString + "/idx"
      TextIndex.buildFrom(s, s.createDataFrame(Seq((1L, "a b"), (2L, "b c"), (3L, "c c d")))
        .toDF("doc_id", "text"), root)
      Seq("postings", "lexicon", "stats").map(t =>
        t -> spark.read.parquet(s"$root/$t").collect().map(_.toString).toSet).toMap
    }
    def reliable(): SparkSession = {
      val fresh = spark.newSession()
      fresh.conf.set(Sever.ReliableKey, "true")
      fresh
    }
    val local = built(spark)
    withNoCheckpointDir {
      val e = intercept[IllegalArgumentException](built(reliable()))
      assert(e.getMessage.contains(Sever.ReliableKey))
    }
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-reliable-ckpt-").toString)
    assert(built(reliable()) == local)
  }


  test("declareCheckpointLayout rejects a partition count the checkpoint does not have") {
    import org.apache.spark.sql.graft.GraftSqlBridge
    val cut = spark.range(100).toDF().repartition(4, col("id")).localCheckpoint()
    assert(GraftSqlBridge.declareCheckpointLayout(cut, Seq("id"), 4).count() == 100)
    val e = intercept[IllegalArgumentException](
      GraftSqlBridge.declareCheckpointLayout(cut, Seq("id"), 8))
    assert(e.getMessage.contains("declared 8 partitions"))
  }
}
