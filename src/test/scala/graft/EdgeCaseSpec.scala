package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.GraftFunctions
import graft.operators._

/** Degenerate-input robustness: every operator family must return a sane
  * empty/identity answer on empty and single-row inputs — the shapes a
  * production pipeline hits on day one (empty first batch), after an
  * aggressive filter, or on a cold backfill partition. */
class EdgeCaseSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private val oneDoc = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")

  test("hits: empty edges and a single edge") {
    val empty = Seq.empty[(Long, Long)].toDF("s", "p")
    assert(Hits.scores(empty, "s", "p", rounds = 2).count() == 0)
    val one = Seq((1L, 10L)).toDF("s", "p")
    val got = Hits.scores(one, "s", "p", rounds = 2)
      .as[(String, Long, Long)].collect().toSet
    // a single edge rescales to the unit score on both sides
    assert(got == Set(("hub", 1L, Hits.One), ("auth", 10L, Hits.One)))
  }

  test("labeled BFS: empty edges leave seeds at distance 0") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val seeds = Seq((7L, 7L)).toDF("lm", "node")
    val got = Bfs.labeledHopDistances(empty, "a", "b", seeds, "lm", "node", 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((7L, 7L, 0L)))
  }

  test("dedup family: empty and singleton corpora") {
    assert(Dedup.exactClusters(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.nearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.nearDupPairs(oneDoc, "doc_id", "text").count() == 0)
    val sets = Dedup.shingleSets(oneDoc, "doc_id", "text", 3)
    assert(Dedup.jaccardPairsExactOnSets(sets, 4, 5).count() == 0)
  }

  test("sampling: empty input, all rates") {
    for (rate <- Seq(0.0, 0.5, 1.0))
      assert(Sampling.bernoulli(emptyDocs, "doc_id", rate, "e").count() == 0)
    assert(Sampling.heavyHitters(
      emptyDocs.select($"text".as("item")), "item", 15, 10L).count() == 0)
  }

  test("aggregates: empty input yields empty-state results, not errors") {
    val empty = Seq.empty[String].toDF("item")
    assert(empty.agg(GraftFunctions.misraGries($"item", 5))
      .first().getSeq[String](0).isEmpty)
    val sk = empty.agg(GraftFunctions.countMin($"item", 2, 8)).first().getSeq[Long](0)
    assert(sk.length == 16 && sk.forall(_ == 0L))
  }

  test("pagerank: no edges means pure teleport shares; empty node set is empty") {
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val r = PageRank.ranks(spark, Seq(1L, 2L).toDF("node"), noEdges, iters = 2)
      .as[(Long, Long)].collect().toMap
    val teleport = (15L * (PageRank.RankScale / 2)) / 100L
    assert(r == Map(1L -> teleport, 2L -> teleport))
    // empty node universe: empty rank vector, not a divide-by-zero
    val noNodes = Seq.empty[Long].toDF("node")
    assert(PageRank.ranks(spark, noNodes, noEdges, iters = 2).count() == 0)
  }

  test("fuzzy: empty set and identical strings") {
    assert(Fuzzy.editDistance1Pairs(Seq.empty[String].toDF("str"), "str").count() == 0)
    // distinct inputs assumed, but duplicates must not produce (x, x) pairs
    assert(Fuzzy.editDistance1Pairs(Seq("aa", "aa").toDF("str"), "str").count() == 0)
  }

  test("prefix sum: empty input and one row") {
    val empty = Seq.empty[(String, Long, Long)].toDF("g", "ord", "v")
    assert(PrefixSum.inclusive(empty, Seq("g"), "ord", "v", "ps").count() == 0)
    val one = PrefixSum.inclusive(Seq(("g", 5L, 7L)).toDF("g", "ord", "v"),
      Seq("g"), "ord", "v", "ps").select("ps").as[Long].collect()
    assert(one.toSeq == Seq(7L))
  }

  test("sessionize: single event is session 1; empty stream is empty") {
    val empty = Seq.empty[(Long, Long, java.sql.Timestamp)].toDF("event_id", "user_id", "ts")
    assert(Sessionize.assignSessions(empty, Seq("user_id"), "ts", "event_id").count() == 0)
    val one = Seq((1L, 9L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    assert(Sessionize.assignSessions(one, Seq("user_id"), "ts", "event_id")
      .select("session_idx").as[Long].head() == 1L)
  }

  test("malformed CSV rows: PERMISSIVE quarantines into _corrupt_record, FAILFAST throws") {
    import org.apache.spark.sql.types._
    val bad = java.nio.file.Files.createTempFile("graft-bad", ".csv")
    java.nio.file.Files.writeString(bad,
      "id,n\n1,10\n2,not_a_number\n3,30\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("n", IntegerType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(bad.toString).cache() // corrupt-record column needs a materialized read
    assert(permissive.count() == 3)
    assert(permissive.filter($"_corrupt_record".isNotNull).count() == 1)
    assert(permissive.filter($"n".isNotNull).count() == 2)
    val strictSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("n", IntegerType)))
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(strictSchema)
        .option("header", "true").option("mode", "FAILFAST")
        .csv(bad.toString).collect()
    }
  }

  test("gzip and plain CSV of the same content transform identically") {
    val plain = graft.pipeline.JourneyJob.transform(spark, s"${graft.sources.Tables.fixtureDir}/journey.csv")
    val gz = graft.pipeline.JourneyJob.transform(spark, s"${graft.sources.Tables.fixtureDir}/journey.csv.gz")
    assert(plain.exceptAll(gz).isEmpty && gz.exceptAll(plain).isEmpty)
  }

  test("similarity: semDedup on a corpus smaller than k fails loudly, not wrongly") {
    // trainCentroidsLite requires enough sample points for k cells — a
    // 2-vector corpus cannot train 8 centroids and must say so
    val tiny = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.semDedupPairs(tiny, "vec_id", "embedding",
        k = 8, sampleMod = 1L, maxSample = 10, thresholdNum = 99L, thresholdDen = 100L)
    }
  }

  test("hll: empty input gives the all-zero register vector, not an error") {
    val regs = Seq.empty[Long].toDF("h")
      .agg(GraftFunctions.hllRegisters(col("h"), 6).as("regs"))
      .select(expr("aggregate(regs, 0, (a, x) -> a + CAST(x AS INT))"))
      .head().getInt(0)
    assert(regs == 0) // 64 registers, all zero => harmonic sum is defined, no div-by-zero
  }

  test("bpe: empty corpus and single-character vocab train zero merges") {
    assert(BpeTrain.trainOnText(spark, emptyDocs, "text", numMerges = 4).count() == 0)
    val singles = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assert(BpeTrain.trainOnText(spark, singles, "text", numMerges = 4).count() == 0)
  }

  test("zOrdered: empty table fails loudly on unbounded keys") {
    val empty = Seq.empty[(Long, Long)].toDF("x", "y")
    intercept[IllegalArgumentException] {
      ZOrder.zOrdered(empty, "x", "y", numFiles = 4)
    }
  }

  test("appendWithManifest without a manifest fails loudly, not silently") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edge-m").toString + "/t"
    val df = Seq((1L, "a")).toDF("k", "v")
    df.write.parquet(dir) // plain table, no manifest
    intercept[IllegalArgumentException] {
      graft.sources.Sinks.appendWithManifest(df, dir, Seq("k"))
    }
  }
}
