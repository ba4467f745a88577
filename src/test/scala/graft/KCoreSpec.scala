package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KCore

/** Peeling by incremental degree maintenance must reach the exact k-core
  * — the unique maximal subgraph of minimum degree ≥ k — on graphs chosen
  * to stress the cascade: pendant chains that peel one hop per round,
  * cores that survive untouched, edges whose endpoints fall in the same
  * round, and graphs the peel empties entirely. Every case is checked
  * against a naive sequential reference. */
class KCoreSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def core(edges: Seq[(Long, Long)], k: Int, rounds: Int = 12): Map[Long, Long] =
    KCore.kCoreIncremental(edges.toDF("a", "b"), "a", "b", k, rounds)
      .as[(Long, Long)].collect().toMap

  /** Naive reference: repeatedly drop low-degree nodes until stable. */
  private def naive(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    var stable = false
    while (!stable) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size)
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      stable = next == es
      es = next
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (node, occ) => (node, occ.size.toLong) }
  }

  /** The operator's core, asserted equal to the reference, returned. */
  private def checked(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val got = core(edges, k)
    assert(got == naive(edges, k), s"k=$k edges=$edges")
    got
  }

  test("K4 with a pendant path: the 2-core is exactly the K4, path peeled by cascade") {
    val k4 = for { i <- 0L to 3L; j <- 0L to 3L if i < j } yield (i, j)
    // 3 -> 4 -> 5 -> 6: each round exposes the next degree-1 node, so the
    // peel takes multiple rounds — the cascade path through the loop
    val edges = k4 ++ Seq((3L, 4L), (4L, 5L), (5L, 6L))
    assert(checked(edges, 2) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("a path graph has an empty 2-core; any nonempty graph has a full 1-core") {
    // the middle edge loses both endpoints in the same round (the
    // double-casualty decrement case)
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    assert(checked(path, 2).isEmpty)
    assert(checked(path, 1) == Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 3L -> 1L))
    assert(checked(Seq.empty, 2).isEmpty)
  }

  test("two triangles joined by a bridge: 2-core keeps both triangles, drops the bridge") {
    // the bridge edge (2,3) dies only AFTER a first peel changes nothing
    // about it — both endpoints keep degree 3 — so it SURVIVES: the 2-core
    // here is the whole graph. The assertion pins that down (a naive
    // "triangles only" guess is wrong, which is what makes it a good case).
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    assert(checked(edges, 2) ==
      Map(0L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 2L, 5L -> 2L))
  }

  test("duplicate, reversed, and self-loop edges do not change the core") {
    val tri = Seq((0L, 1L), (1L, 0L), (1L, 2L), (0L, 2L), (2L, 2L), (0L, 1L))
    assert(checked(tri, 2) == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("exceeding maxRounds throws instead of returning a superset") {
    // a 5-link chain peels one link per round from each end; 1 round is
    // never enough for its (empty) 2-core
    val chain = (0L to 5L).sliding(2).map(s => (s.head, s.last)).toSeq
    intercept[IllegalStateException](core(chain, 2, rounds = 1))
    // with the default budget it reaches the reference's empty core
    assert(checked(chain, 2).isEmpty)
  }

  test("property: peel equals the naive sequential k-core on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 8 + trial
      val m = 10 + trial * 4
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val k = 2 + trial % 2
      checked(edges, k)
    }
  }

  test("incremental-degree k-core equals the peel on every stress graph") {
    // "the peel" is the naive sequential reference: each graph that
    // stresses the cascade, the same-round double casualty or an empty
    // result must come out of kCoreIncremental exactly as the peel has it
    val k4 = for { i <- 0L to 3L; j <- 0L to 3L if i < j } yield (i, j)
    val chain = k4 ++ Seq((3L, 4L), (4L, 5L), (5L, 6L))
    checked(chain, 2)
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    assert(checked(path, 2).isEmpty)
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 8 + trial
      val edges = Seq.fill(12 + trial * 4)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      checked(edges, 2 + trial % 2)
    }
  }
}
