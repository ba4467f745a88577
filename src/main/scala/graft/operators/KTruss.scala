package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-TRUSS decomposition by iterative support peeling — the edge-level
  * sibling of [[KCore]]: repeatedly delete every edge lying in fewer
  * than (k−2) triangles OF THE CURRENT SUBGRAPH until none is deleted;
  * what survives is the k-truss (Cohen 2008), the standard
  * community-core definition tighter than k-core (every surviving edge
  * has k−2 common-neighbor witnesses, so the truss is made of
  * overlapping triangles, not just well-connected nodes).
  *
  * Scale shape per round: support is computed in the SAME
  * degree-oriented compact-forward form as [[Triangles]] — orient every
  * edge from its lower-(degree, id) endpoint toward the higher one, so
  * every node's oriented out-degree is O(√m) however hot a hub it is;
  * carry each node's out-neighbor key list to its edges and intersect
  * in place, so only CLOSED triangles ever become rows (the un-oriented
  * wedge join this replaces paid Σdeg²/2 candidate wedges per round —
  * 109 s per peel round on the full sf0.1 co-purchase graph, vs the
  * hub-proof oriented form). Each triangle is found once at its apex
  * edge and credits its THREE undirected edges through one exploded
  * credit array + keyed sum. Everything is equi-joins and
  * keyed aggregates; no all-pairs stage, no driver-side graph state.
  * Lineage is severed with `localCheckpoint` every round (the KCore/CC
  * precedent). Rounds are bounded by `maxRounds`, and the operator
  * THROWS at a non-fixpoint exit — silent truncation would return a
  * superset of the truss and hash-mismatch the oracle (KCore's loud
  * contract, verbatim).
  *
  * The oracle unrolls the SAME peel a fixed number of rounds in SQL;
  * rounds past the fixpoint are no-ops, so engine-at-convergence equals
  * oracle-at-R for any R ≥ the convergence round. */
object KTruss {

  /** Per-edge triangle support of the CURRENT canonical edge list:
    * (a, b, support ≥ 1) for edges in at least one triangle. Edges in no
    * triangle are absent (callers coalesce to 0).
    *
    * Degree-oriented compact-forward enumeration (the [[Triangles]]
    * pipeline, re-keyed to credit EDGES instead of corners): orientation
    * by the injective `deg·2³² + id` order bounds every out-degree at
    * √(2m); each triangle {u,v,w} is found exactly once, at its apex
    * edge u→v, as a member of N⁺(u) ∩ N⁺(v); the apex edge is credited
    * |closing| in one row and each closing node w credits the two wing
    * edges (u,w) and (v,w), ids recovered from the low 32 bits of the
    * order key. Node ids must be non-negative and < 2³¹ (the
    * [[Triangles]] contract — co-purchase part keys and every fixture id
    * space satisfy it). */
  private def support(cur: DataFrame): DataFrame = {
    val deg = cur.select(col("a").as("node"))
      .unionAll(cur.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val keyed = cur
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"),
        (col("da") * lit(4294967296L) + col("a")).as("ka"),
        (col("db") * lit(4294967296L) + col("b")).as("kb"))
    val oriented = keyed.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
      greatest(col("ka"), col("kb")).as("dst_k"))
    val adj = oriented.groupBy("src").agg(collect_list(col("dst_k")).as("nbr"))
    val probed = oriented
      .join(adj, Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbr").as("nbr_v")),
        Seq("dst"), "left")
      .select(col("src"), col("dst"),
        array_intersect(col("nbr"),
          coalesce(col("nbr_v"), array().cast("array<bigint>"))).as("closing"))
      .filter(size(col("closing")) > 0)
    val cnt = size(col("closing")).cast("long")
    def wing(u: org.apache.spark.sql.Column) =
      transform(col("closing"), { wk =>
        val w = wk.bitwiseAND(lit(4294967295L))
        struct(least(u, w).as("a"), greatest(u, w).as("b"), lit(1L).as("c"))
      })
    val credits = probed.select(explode(concat(
      array(struct(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), cnt.as("c"))),
      wing(col("src")), wing(col("dst")))).as("cr"))
    credits.select(col("cr.a").as("a"), col("cr.b").as("b"), col("cr.c").as("c"))
      .groupBy("a", "b").agg(sum(col("c")).as("support"))
  }

  /** The k-truss of the undirected graph given as an edge list
    * (self-loops dropped, duplicate/reversed edges collapsed). Returns
    * every surviving edge with its support inside the truss (≥ k−2 by
    * definition), canonical a < b. Throws if the fixpoint is not
    * reached within `maxRounds`. */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
             maxRounds: Int = 8): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k-2 triangle witnesses), got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var cur = Graph.undirected(edges, aCol, bCol)
      // support() packs ids into the low 32 bits of the deg·2³²+id order
      // key; out-of-range ids would silently mis-credit wing edges. Guard
      // the contract per-edge, LinkPredict-style — a ≥ 0 ∧ b < 2³¹ covers
      // both endpoints because rows are canonical (0 ≤ a < b < 2³¹).
      // One filter over |E| once, before the peel loop; fails loudly.
      .filter(assert_true(
        col("a") >= 0 && col("b") < (1L << 31),
        lit("KTruss packed order keys require node ids in [0, 2^31); " +
          "densify ids first")).isNull)
      .distinct()
      .sever()
    var nEdges = cur.count()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val next = cur.join(support(cur), Seq("a", "b"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= (k - 2).toLong)
        .select("a", "b")
        .sever()
      val n = next.count() // bounded driver read: one scalar per round
      converged = n == nEdges
      nEdges = n
      cur = next
    }
    if (!converged)
      throw new IllegalStateException(
        s"k-truss peel did not reach fixpoint in $maxRounds rounds " +
          s"($nEdges edges remain in motion) — raise maxRounds")
    cur.join(support(cur), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }
}
