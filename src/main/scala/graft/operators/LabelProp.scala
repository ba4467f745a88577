package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by SYNCHRONOUS label propagation (Raghavan/Albert/
  * Kumara LPA, the Pregel-style deterministic variant): every node starts
  * with its own id as its label; each round, every node simultaneously
  * adopts the most frequent label among its neighbors, ties broken by the
  * SMALLEST label. Synchronous updates + total tie order make the whole
  * run a pure function of the edge list — no RNG, no visit order, no
  * partitioning sensitivity — which is what lets an independent engine
  * replay it bit-for-bit.
  *
  * Each round is three canonical keyed shuffles — one equi-join
  * (adjacency × labels) and two partial-aggregating groupBys — so a round
  * costs what a groupBy+join costs at any scale. The per-node argmax is
  * `min(struct(-cnt, label))`, an ordinary aggregate with map-side
  * combine, NOT a rank window: the shuffle carries (node, label) count
  * pairs, never a node's whole neighborhood into one task (the shape
  * PlanGuardSpec bans). Lineage is severed with `localCheckpoint` every
  * round (the CC/k-core precedent — an iterative plan that doubles per
  * round is unplannable long before it is slow).
  *
  * A FIXED round count (not convergence detection) is the contract:
  * synchronous LPA can 2-cycle on bipartite-ish structure, so "run R
  * rounds" is the only well-defined stopping rule — and it is exactly
  * what an unrolled-SQL oracle can replay (the PageRank unrolled-
  * iteration precedent).
  */
object LabelProp {

  /** Labels after `rounds` synchronous propagation rounds over the
    * undirected graph given as an edge list (self-loops dropped,
    * duplicate/reversed edges collapsed). Returns (node, label) for every
    * node incident to at least one surviving edge.
    *
    * ONE exchange per round (r18 — guide §2.4 "two operations keyed the
    * same way share one exchange"; a sever's `localCheckpoint` CAPTURES
    * the materialized partitioning and ordering into its scan):
    *
    *  - `adj` is hash-partitioned by src ONCE, at sever time,
    *    so every round's adjacency⋈labels join reuses that layout
    *    instead of re-shuffling (and re-sorting) 2·|E| rows per round;
    *  - `labels` leaves each round partitioned by node — renamed to the
    *    join key — so the join's label side needs no exchange either;
    *  - the neighbor-label stream is repartitioned by DST NODE (the one
    *    fundamental redistribution a propagation round owns), and BOTH
    *    aggregates run in that stage: the (node, label) count is a
    *    complete aggregate over the satisfied distribution (the
    *    LinkPredict repartition-first shape — no useless partial pass
    *    over ~unique pairs), and the per-node argmax groups by a PREFIX
    *    of the same partitioning, so it pipelines with no exchange
    *    (the r17 packed-key variant aggregated on node·2³²+label, which
    *    cost a SECOND ~|E|-row exchange to regroup by node: packing
    *    bought hash width but broke the shared-exchange property).
    *
    * Per-round shuffle drops from ~4·|E| rows (adj + labels + packed
    * pairs + regroup) to |E| — the shape that matters at any scale. The
    * partition count is pinned to the session's shuffle parallelism on
    * both severed sides (scale-adaptive via conf, never a constant) so
    * the co-partitioning cannot be broken by AQE re-coalescing one side.
    *
    * The per-node argmax is `min(struct(-cnt, label))`, an ordinary
    * aggregate, NOT a rank window: no node's whole neighborhood ever
    * lands in one task (the shape PlanGuardSpec bans). */
  def communities(edges: DataFrame, aCol: String, bCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val adj = Graph.adjacency(Graph.undirected(edges, aCol, bCol).distinct())
    // the distinct reuses adj's declared layout (complete aggregate, no
    // exchange) and the projection preserves it through the alias
    var labels = adj.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .severDeclared(Seq("node"), parts)
    for (_ <- 1 to rounds) {
      // the join regime is PINNED to shuffled-hash with the |V|-sized
      // label table as build side (r18 — the q153 lesson, opposite
      // direction): left alone, AQE broadcasts the EDGE side every round
      // (the severed scan's origin stats sit under the 10 MB threshold),
      // rebuilding a multi-MB broadcast per round at bench scale and
      // broadcasting the big side at corpus scale. With both sides
      // co-partitioned on src the shuffled-hash join needs no exchange
      // and no sort on either side.
      val nbr = adj
        .join(labels.withColumnRenamed("node", "src").hint("shuffle_hash"),
          Seq("src"))
        .select(col("dst").as("node"), col("label"))
      // argmax by (cnt DESC, label ASC) as an aggregate: min over the
      // struct's lexicographic order — partial-aggregable, no window
      // the REPARTITION_BY_NUM exchange is exact (AQE never re-coalesces
      // it) and both aggregates + the projection preserve it, so the
      // round's output layout is known and declared on the cut — next
      // round's join is then exchange-free on BOTH sides
      labels = nbr
        .repartition(parts, col("node"))
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
        .severDeclared(Seq("node"), parts)
    }
    labels
  }
}
