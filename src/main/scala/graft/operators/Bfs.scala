package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first hop distance — "how many hops is every node
  * from the nearest seed", the seed-set-expansion primitive a curation
  * pipeline uses to pull in everything within k links of a vetted slice
  * (and the unit-weight core of shortest paths).
  *
  * FRONTIER-expanded, which is the shape that survives scale: round r
  * joins the adjacency list against ONLY the round-(r-1) frontier (the
  * nodes first reached last round), so a round's shuffle is proportional
  * to the frontier's adjacency, not to the graph or the visited set; the
  * visited set is touched only by the anti-join that keeps distances
  * minimal. Every step is a canonical keyed shuffle (equi-join, distinct,
  * anti-join) — no all-pairs stage, no driver-side graph state. Lineage is
  * severed with `localCheckpoint` per round (the CC/k-core precedent).
  *
  * A FIXED hop budget is the contract — "everything within `maxHops`" is
  * the curation question, and it is exactly what an unrolled-SQL oracle
  * can replay (the PageRank unrolled-iteration precedent). Determinism is
  * structural: the reached set and minimal distances are unique, no tie
  * order exists to break.
  */
object Bfs {

  /** Hop distances over the undirected graph given as an edge list
    * (self-loops dropped, duplicate/reversed edges collapsed): every node
    * reachable from `seeds` within `maxHops` hops, with the MINIMAL hop
    * count (seeds themselves at 0 — including seeds isolated from the
    * graph, which are still distance-0 members of the expansion). */
  def hopDistances(edges: DataFrame, aCol: String, bCol: String,
                   seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    // validated before the eager adjacency build, not after it
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    hopDistancesOver(Graph.adjacency(Graph.undirected(edges, aCol, bCol).distinct()),
      seeds, seedCol, maxHops)
  }

  /** [[hopDistances]] over a [[Graph.adjacency]]-built frame. Every
    * round's frontier join reads the adjacency in place; only the
    * frontier side ever moves. */
  def hopDistancesOver(adj: DataFrame, seeds: DataFrame, seedCol: String,
                       maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val parts = adj.sparkSession.sessionState.conf.numShufflePartitions
    var visited = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
      .sever()
    var frontier = visited.select("node")
    var r = 0
    var exhausted = false
    while (r < maxHops && !exhausted) {
      r += 1
      // shuffled-hash pinned, frontier as build (r18 — the LabelProp
      // rationale: AQE otherwise broadcasts the EDGE side every round);
      // the explicit repartition pins the dedup exchange's count so the
      // round output's layout is declarable — the next round's join is
      // then exchange-free on both sides
      val next = adj
        .join(frontier.withColumnRenamed("node", "src").hint("shuffle_hash"),
          Seq("src"))
        .select(col("dst").as("node"))
        .repartition(parts, col("node"))
        .distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("dist"))
        .severDeclared(Seq("node"), parts)
      // visited is a union of ALREADY-severed rounds — re-severing it
      // every round re-materialized the whole visited set (O(|visited|)
      // per round, quadratic over the walk); the union of materialized
      // scans is flat lineage and needs no new cut (r17)
      visited = visited.unionAll(next)
      frontier = next.select("node")
      // bounded driver read: one scalar per round — an empty frontier
      // means every later round is a no-op, so stop shuffling for them
      exhausted = next.isEmpty
    }
    visited
  }

  /** Per-label hop distances: like [[hopDistances]], but each seed carries
    * a LABEL (e.g. a landmark id) and the expansion tracks the minimal
    * distance from EVERY label separately — the primitive behind
    * landmark-based centralities (harmonic/closeness), where collapsing to
    * "nearest seed" would lose exactly the per-landmark terms the score
    * sums. State and frontier rows are (label, node) pairs, so a round's
    * shuffle is |labels-incident frontier adjacency|; with a bounded
    * landmark set that is a constant factor over the unlabeled walk, and
    * every step stays a keyed equi/anti join — no per-landmark sequential
    * passes, all labels expand in the SAME per-round jobs. */
  def labeledHopDistances(edges: DataFrame, aCol: String, bCol: String,
                          seeds: DataFrame, labelCol: String, seedCol: String,
                          maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val adj = Graph.adjacency(Graph.undirected(edges, aCol, bCol).distinct())
    var visited = seeds
      .select(col(labelCol).cast("long").as("lm"), col(seedCol).cast("long").as("node"))
      .distinct()
      .select(col("lm"), col("node"), lit(0L).as("dist"))
      .sever()
    var frontier = visited.select("lm", "node")
    var r = 0
    var exhausted = false
    while (r < maxHops && !exhausted) {
      r += 1
      // shuffled-hash pinned, frontier as build — see [[hopDistances]].
      // The anti join on (lm, node) re-shuffles by both keys, and AQE may
      // coalesce that exchange, so a hash-by-node layout cannot be
      // declared on the round's output: it is re-cut by node at the
      // sever, and the next round's frontier join reads it in place
      val next = adj
        .join(frontier.withColumnRenamed("node", "src").hint("shuffle_hash"),
          Seq("src"))
        .select(col("lm"), col("dst").as("node"))
        .distinct()
        .join(visited.select("lm", "node"), Seq("lm", "node"), "left_anti")
        .select(col("lm"), col("node"), lit(r.toLong).as("dist"))
        .severKeyed(Seq("node"), parts)
      visited = visited.unionAll(next) // severed rounds; no re-cut (see above)
      frontier = next.select("lm", "node")
      exhausted = next.isEmpty
    }
    visited
  }
}
