package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bfs, CheapestPath, Graph, Hits, KCore, LabelProp, WidestPath}

/** The shared graph shape ([[Graph.undirected]], [[Graph.adjacency]]) and
  * the layout-declaring graph operators built on it: their output must not
  * depend on how the session partitions a shuffle or whether AQE re-plans
  * it — a wrong declared layout would mis-join under some of these. */
class GraphSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("undirected drops self-loops and canonicalises; adjacency holds each edge once per direction") {
    val edges = Seq((1, 2, 5), (2, 1, 5), (1, 2, 5), (3, 3, 9), (2, 3, 7), (5, 4, 1))
      .toDF("x", "y", "w")
    val und = Graph.undirected(edges, "x", "y", col("w").cast("long").as("w"))
    assert(und.schema.map(_.name) == Seq("a", "b", "w"))
    assert(und.schema.forall(_.dataType == LongType))
    // self-loop (3,3) gone; the reversed (2,1) is the same row as (1,2)
    assert(rows(und) == Seq("[1,2,5]", "[1,2,5]", "[1,2,5]", "[2,3,7]", "[4,5,1]"))
    Harness.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> "3")) {
      val adj = Graph.adjacency(und.distinct(), "w")
      assert(adj.schema.map(_.name) == Seq("src", "dst", "w"))
      assert(rows(adj) == Seq("[1,2,5]", "[2,1,5]", "[2,3,7]", "[3,2,7]",
        "[4,5,1]", "[5,4,1]"))
      assert(adj.rdd.getNumPartitions ==
        spark.sessionState.conf.numShufflePartitions)
      assert(adj.rdd.getNumPartitions == 3)
    }
  }

  /** A small seeded multigraph: reversed and parallel edges, self-loops,
    * two components, weights 1..9. */
  private lazy val seeded: Seq[(Long, Long, Long)] = {
    var x = 7L
    def nxt(m: Long) = {
      x = x * 6364136223846793005L + 1442695040888963407L
      math.floorMod(x >>> 33, m)
    }
    Seq.fill(90)((nxt(30), nxt(30), nxt(9) + 1)) ++
      Seq.fill(12)((30L + nxt(6), 30L + nxt(6), nxt(9) + 1))
  }

  private def outputs(): Seq[Seq[String]] = {
    val e = seeded.toDF("a", "b", "w")
    val seeds = Seq(0L, 31L).toDF("node")
    val landmarks = Seq((0L, 0L), (1L, 17L), (2L, 31L)).toDF("lm", "node")
    Seq(
      rows(LabelProp.communities(e, "a", "b", rounds = 3)),
      rows(Bfs.hopDistances(e, "a", "b", seeds, "node", maxHops = 3)),
      rows(Bfs.labeledHopDistances(e, "a", "b", landmarks, "lm", "node", maxHops = 3)),
      rows(Hits.scores(e, "a", "b", rounds = 2)),
      rows(CheapestPath.distances(e, "a", "b", "w", seeds, "node", rounds = 3)),
      rows(WidestPath.capacities(e, "a", "b", "w", seeds, "node", rounds = 3)),
      rows(KCore.kCoreIncremental(e, "a", "b", k = 3)))
  }

  test("graph operators give identical output under every shuffle partition count, AQE on and off") {
    val confs = for (parts <- Seq(1, 3, 8, 32); aqe <- Seq("true", "false"))
      yield Seq("spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.adaptive.enabled" -> aqe)
    val got = confs.map(c => c -> Harness.withConfs(spark, c)(outputs()))
    val (_, want) = got.head
    assert(want.forall(_.nonEmpty))
    val names = Seq("LabelProp", "Bfs.hopDistances", "Bfs.labeledHopDistances",
      "Hits", "CheapestPath", "WidestPath", "KCore")
    for ((c, out) <- got.tail; (name, i) <- names.zipWithIndex)
      assert(out(i) == want(i), s"$name diverged under $c")
  }
}
