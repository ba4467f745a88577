package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PageRank

/** Fixed-point PageRank: hand-checkable structure + bit-determinism. */
class PageRankSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def nodes(ids: Long*) = ids.toDF("node")

  test("uniform cycle stays uniform (up to floor decay)") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val r = PageRank.ranks(spark, nodes(1L, 2L, 3L), e, iters = 3)
      .as[(Long, Long)].collect().toMap
    val base = PageRank.RankScale / 3
    assert(r.values.toSet.size == 1, s"cycle must stay symmetric: $r")
    assert(r(1L) <= base && r(1L) > (base * 99) / 100,
      s"floor decay must be tiny: ${r(1L)} vs base $base")
  }

  test("a sink of two spokes outranks the spokes; dangling nodes keep teleport share") {
    // 2 -> 1, 3 -> 1; node 1 dangles (no out-edges)
    val e = Seq((2L, 1L, 5L), (3L, 1L, 5L)).toDF("src", "dst", "w")
    val r = PageRank.ranks(spark, nodes(1L, 2L, 3L), e, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(r(1L) > r(2L) && r(2L) == r(3L), s"hub must dominate: $r")
    val base = PageRank.RankScale / 3
    val teleport = (15L * base) / 100L
    assert(r(2L) == teleport, s"pure-source node rank must be exactly the teleport share: $r")
  }

  test("weights matter: a 9:1 edge split ranks the heavy target higher") {
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r = PageRank.ranks(spark, nodes(1L, 2L, 3L), e, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r(2L) > r(3L), s"weighted edge must dominate: $r")
  }

  test("bit-deterministic under repartitioning and re-runs") {
    val e = Seq.tabulate(200)(i =>
      ((i % 17).toLong, (i % 13).toLong, (i % 5 + 1).toLong))
      .toDF("src", "dst", "w")
    val ns = nodes((0L until 17L): _*)
    val a = PageRank.ranks(spark, ns, e, iters = 3).as[(Long, Long)].collect().toMap
    val b = PageRank.ranks(spark, ns.repartition(7), e.repartition(11), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "fixed-point ranks changed under repartitioning")
  }

  test("personalized: the all-nodes seed set degenerates to uniform PageRank") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 3L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val ns = nodes(1L, 2L, 3L)
    val uniform = PageRank.ranks(spark, ns, e, iters = 3)
      .as[(Long, Long)].collect().toMap
    val seeded = PageRank.personalizedRanks(spark, ns, e, ns, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(uniform == seeded,
      s"seeds == nodes must reproduce uniform PageRank: $uniform vs $seeded")
  }

  test("personalized: mass stays on the seed component of a disconnected graph") {
    // two disjoint cycles; seed in the first only
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L), (6L, 4L, 1L)).toDF("src", "dst", "w")
    val r = PageRank.personalizedRanks(spark, nodes(1L, 2L, 3L, 4L, 5L, 6L),
        e, nodes(1L), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(4L, 5L, 6L).forall(r(_) == 0L),
      s"unreachable component must hold zero mass: $r")
    assert(r(1L) > 0 && r(2L) > 0 && r(3L) > 0,
      s"walk mass must reach every node of the seed cycle: $r")
    val total = Seq(1L, 2L, 3L).map(r).sum
    assert(total <= PageRank.RankScale && total > (PageRank.RankScale * 9) / 10,
      s"seed-component mass must stay near 1.0 (minus floor loss): $r")
  }

  test("personalized: a non-seed pure source holds exactly zero rank") {
    // 2 -> 1 with seed 1: node 2 gets neither teleport nor in-flow;
    // empty seed set short-circuits to the all-zero vector
    val e = Seq((2L, 1L, 1L)).toDF("src", "dst", "w")
    val ns = nodes(1L, 2L)
    val r = PageRank.personalizedRanks(spark, ns, e, nodes(1L), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(r(2L) == 0L, s"non-seed source must hold zero: $r")
    assert(r(1L) > 0L, s"seed must hold mass: $r")
    val empty = PageRank.personalizedRanks(spark, ns, e, nodes(), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(empty.values.forall(_ == 0L), s"empty seed set must zero out: $empty")
  }

  test("personalized: bit-deterministic under repartitioning") {
    val e = Seq.tabulate(200)(i =>
      ((i % 17).toLong, (i % 13).toLong, (i % 5 + 1).toLong))
      .toDF("src", "dst", "w")
    val ns = nodes((0L until 17L): _*)
    val seeds = nodes(0L, 3L, 7L)
    val a = PageRank.personalizedRanks(spark, ns, e, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    val b = PageRank.personalizedRanks(spark, ns.repartition(7),
        e.repartition(11), seeds.repartition(3), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "personalized fixed-point ranks changed under repartitioning")
  }

  /** Naive in-memory evaluator mirroring PageRank's integer arithmetic
    * op-for-op (probabilities `(w·1e6) DIV out_w`, per-term floor
    * division) — a second implementation the distributed one must match
    * exactly, on graphs too tangled to hand-check. */
  private def naiveRanks(ns: Seq[Long], es: Seq[(Long, Long, Long)],
                         seeds: Option[Seq[Long]], iters: Int): Map[Long, Long] = {
    val outW = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    val p = es.map { case (s, d, w) => (s, d, (w * PageRank.ProbScale) / outW(s)) }
    val seedSet = seeds.map(_.toSet)
    val base = seedSet match {
      case Some(ss) => PageRank.RankScale / ss.size
      case None     => PageRank.RankScale / ns.size
    }
    def tele(n: Long) = seedSet match {
      case Some(ss) => if (ss(n)) (15L * base) / 100L else 0L
      case None     => (15L * base) / 100L
    }
    def r0(n: Long) = seedSet match {
      case Some(ss) => if (ss(n)) base else 0L
      case None     => base
    }
    var r = ns.map(n => n -> r0(n)).toMap
    for (_ <- 1 to iters) {
      val in = p.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s, _, pp) => (r(s) * pp) / PageRank.ProbScale }.sum
      }
      r = ns.map(n => n -> (tele(n) + (85L * in.getOrElse(n, 0L)) / 100L)).toMap
    }
    r
  }

  test("both variants match a naive evaluator on a pseudo-random multigraph") {
    // deterministic LCG so the graph is tangled but reproducible
    var x = 42L
    def nxt(m: Long) = { x = (x * 6364136223846793005L + 1442695040888963407L); math.floorMod(x >>> 33, m) }
    val ns = (0L until 23L)
    val es = Seq.fill(300)((nxt(23), nxt(23), nxt(9) + 1))
      .groupBy(e => (e._1, e._2))
      .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
    val e = es.toDF("src", "dst", "w")
    val nsDf = nodes(ns: _*)
    val got = PageRank.ranks(spark, nsDf, e, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == naiveRanks(ns, es, None, iters = 3),
      "distributed uniform ranks diverge from the naive evaluator")
    val seeds = Seq(1L, 5L, 17L)
    val gotP = PageRank.personalizedRanks(spark, nsDf, e, nodes(seeds: _*), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(gotP == naiveRanks(ns, es, Some(seeds), iters = 3),
      "distributed personalized ranks diverge from the naive evaluator")
  }

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  test("both variants leave no cache entry in the session") {
    spark.catalog.clearCache() // the session is shared with earlier suites
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 3L)).toDF("src", "dst", "w")
    PageRank.ranks(spark, nodes(1L, 2L, 3L), e, iters = 2).collect()
    assert(cacheManager.isEmpty)
    PageRank.personalizedRanks(spark, nodes(1L, 2L, 3L), e, nodes(1L), iters = 2).collect()
    assert(cacheManager.isEmpty)
  }

  test("total mass is conserved to within the documented floor loss") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r = PageRank.ranks(spark, nodes(1L, 2L, 3L), e, iters = 3)
      .as[(Long, Long)].collect()
    val total = r.map(_._2).sum
    assert(total <= PageRank.RankScale &&
      total > PageRank.RankScale - 3 * 3 * 1000000L,
      s"mass off: $total vs ${PageRank.RankScale}")
  }
}
