package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-CORE decomposition — the unique maximal subgraph of minimum degree
  * ≥ k — by iterative peeling with INCREMENTAL DEGREE MAINTENANCE: each
  * round removes every node whose degree fell below k (cascades included
  * one hop per round) until none remains. The edge set is materialized
  * once and never rewritten; only the |V|-sized degree table evolves, so
  * there is no all-pairs stage and no driver-side graph state. Lineage is
  * severed with `localCheckpoint` every round (the CC precedent — an
  * iterative plan that doubles per round is unplannable long before it is
  * slow).
  *
  * Convergence: peeling strictly shrinks the node set until fixpoint, so
  * it terminates in ≤ |V| rounds; in practice a handful. `maxRounds`
  * bounds the loop and the operator THROWS if the fixpoint is not reached
  * — a silent truncation would return a superset of the k-core and
  * hash-mismatch the oracle, so loud is the only honest failure mode. The
  * convergence check is one count() per round — a bounded driver read of
  * a single scalar, same as PageRank's.
  *
  * The oracle unrolls the plain edge-rebuilding peel a fixed number of
  * rounds in SQL (rounds past the fixpoint are no-ops, so
  * engine-at-convergence equals oracle-at-R for any R ≥ the convergence
  * round — the PageRank unrolled-iteration precedent, with the no-op tail
  * making the fixed R safe). */
object KCore {

  /** Above this many removed nodes in one round the removal set is joined
    * by shuffle instead of broadcast (see [[kCoreIncremental]]). */
  private val BroadcastLimit = 2000000L

  /** The k-core of the undirected graph given as an edge list (self-loops
    * dropped, duplicate/reversed edges collapsed). Returns every
    * surviving node with its degree INSIDE the core (≥ k by definition).
    * Throws if the fixpoint is not reached within `maxRounds`.
    *
    * A plain peel rebuilds degrees from the surviving edge set and
    * rewrites that edge set through two shuffled semi-joins every round,
    * so its input is ≈ rounds × 2·|E|. Here the edge set is IMMUTABLE —
    * materialized once, never shuffled or rewritten — and only the
    * |V|-sized degree table evolves:
    *
    *  - round r removes `newly` = nodes with d < k (a small severed
    *    set);
    *  - the decrement delta is read off ONE scan of the original edge
    *    table: two BROADCAST lookups against `newly` flag each
    *    endpoint, and each edge with a newly-removed endpoint emits its
    *    OTHER endpoint (both, when both endpoints fell together) — no
    *    edge shuffle, the only aggregation is over the incident-edge
    *    candidates, whose total across ALL rounds is ≤ 2·|E| (each edge
    *    dies at most once per endpoint);
    *  - candidates pointing at nodes removed in EARLIER rounds vanish in
    *    the degree join (deg is exactly the survivor set), and
    *    decrements aimed at same-round casualties are discarded by the
    *    broadcast anti-join — so working from the ORIGINAL edge set is
    *    exact: an edge contributes a decrement only while its other
    *    endpoint still lives;
    *  - at fixpoint the maintained degrees ARE the core degrees (each
    *    survivor's count of surviving neighbors), so the output needs no
    *    final edge pass at all.
    *
    * Per-round cost: one |E| scan (broadcast joins ride the scan, no
    * shuffle) + O(incident + |V|) small-table work, vs the plain peel's
    * two edge shuffles + edge rewrite (measured 3.1× faster with 3.5×
    * less input at ×10, SCALE_EVIDENCE §q294). Same fixpoint, same
    * output. */
  def kCoreIncremental(edges: DataFrame, aCol: String, bCol: String, k: Int,
                       maxRounds: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val orig = Graph.undirected(edges, aCol, bCol)
      .distinct()
      .sever() // materialized ONCE; every round reads, none rewrites
    var deg = orig.select(col("a").as("node"))
      .unionAll(orig.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .sever() // the evolving |V|-sized state
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val newly = deg.filter(col("d") < k).select("node").sever()
      val nNew = newly.count() // bounded driver read: one scalar
      if (nNew == 0) {
        converged = true
      } else {
        // one scan of the immutable edge set; the removal flags ride the
        // scan as BROADCAST lookups while the removal set is
        // broadcast-sized. The guard matters on round 1 of a high-k run,
        // where `newly` can be O(|V|) (most nodes start below k): an
        // unconditional broadcast() hint bypasses the size threshold and
        // OOMs the driver — that round pays one honest edge shuffle
        // instead, and later rounds return to the broadcast path.
        val hint = (df: DataFrame) =>
          if (nNew <= BroadcastLimit) broadcast(df) else df
        val dcand = orig
          .join(hint(newly.select(col("node").as("a"), lit(1).as("ra"))),
            Seq("a"), "left")
          .join(hint(newly.select(col("node").as("b"), lit(1).as("rb"))),
            Seq("b"), "left")
          .filter(col("ra").isNotNull || col("rb").isNotNull)
          .select(explode(array(
            when(col("ra").isNotNull, col("b")),
            when(col("rb").isNotNull, col("a")))).as("node"))
          .filter(col("node").isNotNull)
        val delta = dcand.groupBy("node").agg(count(lit(1)).as("dd"))
        deg = deg
          .join(hint(newly), Seq("node"), "left_anti")
          .join(delta, Seq("node"), "left")
          .select(col("node"), (col("d") - coalesce(col("dd"), lit(0L))).as("d"))
          .sever()
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"incremental k-core did not reach fixpoint in $maxRounds rounds — raise maxRounds")
    // fixpoint degrees ARE the in-core degrees: no final edge pass
    deg.select(col("node"), col("d").as("core_deg"))
  }
}
