package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bfs

/** BFS distances are unique, so every case has one right answer: paths
  * that stratify by hop, multiple seeds that compete for the minimum,
  * frontiers that drain early, and seeds the graph never touches. */
class BfsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long],
                  hops: Int): Map[Long, Long] =
    Bfs.hopDistances(edges.toDF("a", "b"), "a", "b",
        seeds.toDF("node"), "node", hops)
      .as[(Long, Long)].collect().toMap

  test("a path stratifies by hop and the budget truncates it") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    assert(run(path, Seq(0L), 2) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    assert(run(path, Seq(0L), 4) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("maxHops = 0 is rejected before any Spark job runs") {
    // the adjacency build is eager (a severed shuffle): argument
    // validation must come first, so a bad call costs no job at all
    val sc = spark.sparkContext
    val group = s"bfs-maxhops-${System.nanoTime()}"
    sc.setJobGroup(group, "maxHops validation")
    try {
      intercept[IllegalArgumentException] {
        Bfs.hopDistances(Seq((0L, 1L), (1L, 2L)).toDF("a", "b"), "a", "b",
          Seq(0L).toDF("node"), "node", maxHops = 0)
      }
    } finally sc.clearJobGroup()
    // the status store fills from the listener bus in order: once a later
    // barrier job is visible, any job the call started is visible too
    sc.setJobGroup(s"$group-barrier", "listener barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-barrier").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-barrier").nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("two seeds: every node gets the distance to the NEAREST seed") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    assert(run(path, Seq(0L, 4L), 2) ==
      Map(0L -> 0L, 4L -> 0L, 1L -> 1L, 3L -> 1L, 2L -> 2L))
  }

  test("an exhausted frontier stops early with the same result") {
    // component {0,1} drains after one hop; hop budget 5 must not loop,
    // reach component {7,8}, or change the answer
    val edges = Seq((0L, 1L), (7L, 8L))
    assert(run(edges, Seq(0L), 5) == Map(0L -> 0L, 1L -> 1L))
  }

  test("isolated and duplicate seeds are distance-0 members once") {
    val edges = Seq((0L, 1L))
    assert(run(edges, Seq(0L, 42L, 42L), 2) ==
      Map(0L -> 0L, 42L -> 0L, 1L -> 1L))
  }

  test("reversed and duplicate edges collapse; self-loops are ignored") {
    val edges = Seq((1L, 0L), (0L, 1L), (1L, 1L), (1L, 2L), (2L, 1L))
    assert(run(edges, Seq(0L), 2) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("labeled BFS tracks every landmark separately, not the nearest") {
    // path 0-1-2-3-4 with landmarks at both ends: node 2 is dist 2 from
    // BOTH; the unlabeled walk would record one row, the labeled walk two
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val seeds = Seq((0L, 0L), (4L, 4L)).toDF("lm", "node")
    val got = Bfs.labeledHopDistances(path.toDF("a", "b"), "a", "b",
        seeds, "lm", "node", maxHops = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 0L, 0L), (0L, 1L, 1L), (0L, 2L, 2L),
      (4L, 4L, 0L), (4L, 3L, 1L), (4L, 2L, 2L)))
  }

  test("labeled BFS equals per-seed naive BFS on a random multigraph") {
    var x = 11L
    def nxt(m: Long) = { x = (x * 6364136223846793005L + 1442695040888963407L); math.floorMod(x >>> 33, m) }
    val es = Seq.fill(150)((nxt(23), nxt(23)))
    val lms = Seq(2L, 9L, 17L)
    val got = Bfs.labeledHopDistances(es.toDF("a", "b"), "a", "b",
        lms.map(l => (l, l)).toDF("lm", "node"), "lm", "node", maxHops = 3)
      .as[(Long, Long, Long)].collect().toSet
    // naive: per landmark, synchronous frontier expansion over the
    // deduped undirected adjacency
    val und = es.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.toSet
    val adj = (und.toSeq ++ und.toSeq.map(_.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val want = lms.flatMap { lm =>
      var dist = Map(lm -> 0L)
      var frontier = Set(lm)
      for (r <- 1 to 3) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .diff(dist.keySet)
        dist ++= next.map(_ -> r.toLong)
        frontier = next
      }
      dist.map { case (n, d) => (lm, n, d) }
    }.toSet
    assert(got == want)
  }

  test("bit-deterministic under repartitioning") {
    var x = 5L
    def nxt(m: Long) = { x = (x * 6364136223846793005L + 1442695040888963407L); math.floorMod(x >>> 33, m) }
    val es = Seq.fill(200)((nxt(29), nxt(29)))
    val df = es.toDF("a", "b")
    val seeds = Seq(1L, 7L).toDF("node")
    val a = Bfs.hopDistances(df, "a", "b", seeds, "node", 3)
      .as[(Long, Long)].collect().toMap
    val b = Bfs.hopDistances(df.repartition(13), "a", "b", seeds, "node", 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }
}
