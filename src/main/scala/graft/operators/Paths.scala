package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bellman–Ford relaxation from a seed set over a semiring (⊕, ⊗): round r
  * sets
  *
  *   x_r(v) = x_{r-1}(v) ⊕ ⊕ over edges (u,v) of x_{r-1}(u) ⊗ w(u,v)
  *
  * with seeds starting at the semiring's one and everything else
  * unreached. [[CheapestPath]] is (min, +), [[WidestPath]] is (max, min);
  * [[Bfs]] is (min, +) over unit weights, run as a frontier expansion.
  *
  * All arithmetic is integer — no floats anywhere — so a fixed round count
  * replays exactly on any engine (the unrolled-iteration oracle
  * precedent). Each round is one equi-join (adjacency × current values)
  * and one partial-aggregating groupBy: two canonical keyed shuffles per
  * round, no all-pairs stage, no driver-side graph state; values are
  * monotone under ⊕ so rounds past the diameter are no-ops. Lineage
  * severed per round with `localCheckpoint` (the CC/k-core precedent). */
private[operators] object Relaxation {

  /** `rounds` relaxations over the undirected weighted graph
    * `(aCol, bCol, wCol)` (self-loops dropped; parallel edges keep their
    * `better` weight). Returns (node, `out`) for seeds (at `seed`) and
    * every node reached within `rounds` hops. `better` is ⊕ — it picks
    * among parallel edges AND aggregates each round — and `extend` is ⊗. */
  def relax(edges: DataFrame, aCol: String, bCol: String, wCol: String,
            seeds: DataFrame, seedCol: String, rounds: Int, seed: Long,
            out: String, extend: (Column, Column) => Column,
            better: Column => Column): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = Graph.undirected(edges, aCol, bCol, col(wCol).cast("long").as("w"))
      .groupBy("a", "b").agg(better(col("w")).as("w"))
    val adj = Graph.adjacency(und, "w")
    var best = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(seed).as(out))
      .sever()
    for (_ <- 1 to rounds) {
      // shuffled-hash pinned, value table as build (r18 — the LabelProp
      // rationale: AQE otherwise broadcasts the EDGE side)
      val relaxed = adj
        .join(best.withColumnRenamed("node", "src").hint("shuffle_hash"),
          Seq("src"))
        .select(col("dst").as("node"), extend(col(out), col("w")).as(out))
      best = best.unionAll(relaxed)
        .groupBy("node").agg(better(col(out)).as(out))
        .sever()
    }
    best
  }
}

/** CHEAPEST-PATH (minimum-cost) propagation — "how cheaply can every node
  * be reached from the seeds", where a path costs the SUM of its edge
  * costs and a node takes its cheapest path: [[Relaxation]] over (min, +),
  * seeds at 0. Cost is the inverse of association: "how much does it cost
  * to pull this node into the vetted slice". */
object CheapestPath {

  /** Cheapest-path distances after `rounds` relaxations over the
    * undirected weighted graph `(aCol, bCol, wCol)` (self-loops dropped;
    * duplicate edges keep their MIN cost — the cheapest parallel link).
    * Returns (node, dist) for seeds (at 0) and every node reached within
    * `rounds` hops (at its cheapest sum). Costs must be non-negative;
    * `rounds · max(w)` must stay within Long. */
  def distances(edges: DataFrame, aCol: String, bCol: String, wCol: String,
                seeds: DataFrame, seedCol: String, rounds: Int): DataFrame =
    Relaxation.relax(edges, aCol, bCol, wCol, seeds, seedCol, rounds,
      seed = 0L, out = "dist", extend = _ + _, better = min(_: Column))
}

/** WIDEST-PATH (maximum-bottleneck) propagation — "how strongly is every
  * node associated with the seeds", where a path is as strong as its
  * WEAKEST edge and a node takes its strongest path: [[Relaxation]] over
  * (max, min), seeds at [[WidestPath.CapInf]]. The complement of [[Bfs]]:
  * BFS asks "how FAR", this asks "how STRONGLY CONNECTED", the
  * association-expansion measure for pulling data linked to a vetted
  * slice by heavy edges. */
object WidestPath {

  /** The seed capacity — effectively +∞: above any real edge weight, with
    * `min(CapInf, w) = w` exact for every Long weight below 2^40. */
  val CapInf: Long = 1L << 40

  /** Bottleneck capacities after `rounds` relaxations over the undirected
    * weighted graph `(aCol, bCol, wCol)` (self-loops dropped; duplicate
    * edges keep their MAX weight — the strongest parallel link). Returns
    * (node, cap) for seeds (at [[CapInf]]) and every node reached within
    * `rounds` hops (at its best bottleneck). Weights must be positive and
    * below [[CapInf]]. */
  def capacities(edges: DataFrame, aCol: String, bCol: String, wCol: String,
                 seeds: DataFrame, seedCol: String, rounds: Int): DataFrame =
    Relaxation.relax(edges, aCol, bCol, wCol, seeds, seedCol, rounds,
      seed = CapInf, out = "cap", extend = least(_, _), better = max(_: Column))
}
