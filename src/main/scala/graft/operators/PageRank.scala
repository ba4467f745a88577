package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative PageRank over a weighted edge table, in FIXED-POINT integer
  * arithmetic — the join-based formulation that runs each iteration as one
  * equi-join + one groupBy (both keyed shuffles, no driver round-trips for
  * the rank vector), which is the shape an iterative graph measure must
  * take on Spark when the graph is derived from table data.
  *
  * Why fixed-point: float PageRank sums contributions per node, and
  * distributed double addition is order-dependent — re-runs (and any
  * independent engine) disagree in the last ulp. Here ranks are integer
  * micro-units (RankScale = 1e12 ≙ total rank mass 1.0) and transition
  * probabilities are integer per-mille-of-a-million (`(w·1e6) DIV out_w`),
  * so every sum is exact integer addition (associative, order-free) and
  * the result is bit-identical on any engine. Overflow headroom: each
  * product r·p ≤ 1e12·1e6 = 1e18 < 2^63, INDEPENDENT of graph size —
  * normalizing weights into bounded p is what makes the arithmetic
  * scale-safe.
  *
  * Semantics notes (documented simplifications, mirrored by the oracle):
  * dangling nodes keep their base share but redistribute nothing; all
  * integer divisions floor, so total mass shrinks by < nodes·1e-6 per
  * iteration — irrelevant for ranking, exactly reproducible.
  */
object PageRank {

  val RankScale: Long = 1000000000000L // 1e12: rank 1.0 in micro-units
  val ProbScale: Long = 1000000L       // 1e6: transition probabilities
  private val DampNum: Long = 85L      // damping d = DampNum/100

  /** `iters` rounds of damped PageRank (d = 0.85) over `edges` (src, dst, w)
    * for the node universe `nodes` (one column `node`, distinct). Returns
    * (node, rank) with rank in RankScale units: [[personalizedRanks]] with
    * every node a seed, so teleport mass spreads uniformly. */
  def ranks(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
            iters: Int): DataFrame =
    personalizedRanks(spark, nodes, edges, nodes, iters)

  /** PERSONALIZED PageRank: all teleport mass returns to the seed set
    * `seeds` (one column `node`, distinct, a subset of `nodes`) instead of
    * spreading uniformly — the standard seed-set-expansion measure (rank
    * ≙ stationary probability of a walk that restarts at a random seed),
    * used for "find more data like this trusted slice" curation. Initial
    * mass RankScale/|seeds| on each seed, zero elsewhere. Overflow bound:
    * seed ranks start at RankScale/|seeds| ≤ RankScale and mass only
    * shrinks.
    *
    * The normalized edge table and the per-node teleport table are reused
    * every iteration, so both are severed (eager, no session-lifetime
    * cache entry); each iteration shuffles the |E|-row edge side by src
    * then dst against the |V|-row rank vector. */
  def personalizedRanks(spark: SparkSession, nodes: DataFrame,
                        edges: DataFrame, seeds: DataFrame,
                        iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val nSeeds = seeds.count() // bounded driver read: one scalar
    // empty seed set (or node universe): the answer is the all-zero rank
    // vector, not a divide-by-zero deep in the base-share arithmetic
    if (nSeeds == 0) return nodes.select(col("node"), lit(0L).as("rank"))
    val seedBase = RankScale / nSeeds
    val teleport = ((100L - DampNum) * seedBase) / 100L
    val outW = edges.groupBy("src").agg(sum(col("w")).as("out_w"))
    val p = edges.join(outW, "src")
      .select(col("src"), col("dst"),
        expr(s"CAST((w * $ProbScale) DIV out_w AS BIGINT)").as("p"))
      .sever()
    // (node, teleport mass, initial rank)
    val tele = nodes.join(
        seeds.select(col("node").as("seed_node")),
        nodes("node") === col("seed_node"), "left")
      .select(col("node"),
        when(col("seed_node").isNotNull, lit(teleport)).otherwise(lit(0L))
          .as("tele"),
        when(col("seed_node").isNotNull, lit(seedBase)).otherwise(lit(0L))
          .as("r0"))
      .sever()
    var r = tele.select(col("node"), col("r0").as("rank"))
    for (_ <- 1 to iters) {
      val contrib = p.join(r, p("src") === r("node"))
        .select(col("dst"),
          expr(s"CAST((rank * p) DIV $ProbScale AS BIGINT)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_rank"))
      r = tele.join(contrib, tele("node") === contrib("dst"), "left")
        .select(tele("node"),
          (col("tele") +
            expr(s"CAST(($DampNum * COALESCE(in_rank, 0)) DIV 100 AS BIGINT)")).as("rank"))
    }
    r
  }
}
