package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact triangle counting by DEGREE ORIENTATION, in the compact-forward
  * adjacency-intersection form (Latapy; orientation per Suri &
  * Vassilvitskii's MapReduce formulation), chosen for the property that
  * makes it survive a 100 TB edge table: orient every undirected edge
  * from its lower-(degree, id) endpoint to the higher one, and the
  * out-degree of EVERY node — however hot a hub it is in the raw graph —
  * is O(√m). (A node of degree d keeps only edges toward neighbors of
  * degree ≥ d, and the graph can hold at most 2m/d such neighbors;
  * min(d, 2m/d) ≤ √(2m).) Both costs that dominate triangle counting are
  * quadratic in the ORIENTED out-degree, never in the raw hub degree: the
  * per-node adjacency list collected for the probe is ≤ √(2m) entries,
  * and the per-edge intersection work is ≤ the smaller endpoint list.
  *
  * Every triangle {u, v, w} has exactly one apex — its minimum node in
  * the (deg, id) total order — and is found exactly once, at its apex
  * edge u→v, as a member of N⁺(u) ∩ N⁺(v): no ÷3 or ÷6 correction, no
  * double counting to repair. Carrying each node's out-neighbor list TO
  * its edges and intersecting in place is what makes this the fast form:
  * the open wedges (ΣC(d⁺,2) rows — 41M on the sf0.1 co-purchase graph,
  * of which only 1.9M close) are never materialized through a shuffle,
  * which measured 3× slower as the classic wedge-join formulation.
  *
  * Every step is a keyed equi-join or hash aggregation (canonical Spark
  * shuffles, AQE-splittable); there is no all-pairs stage and no
  * driver-side state. The total order is materialized as the integer key
  * `deg·2³² + id` so orientation and in-list ordering are plain BIGINT
  * comparisons — portable to any engine, which is what lets the DuckDB
  * oracle verify the result with a DIFFERENT algorithm (naive id-ordered
  * enumeration) and still match hash-exactly.
  */
object Triangles {

  /** Per-node triangle participation over an undirected graph given as an
    * edge list (self-loops dropped, duplicate/reversed edges collapsed).
    * Node ids must be non-negative and < 2³¹ so `deg·2³² + id` is an
    * injective BIGINT order key. Returns (node, triangles) for every node
    * that closes at least one triangle; each triangle credits all three
    * corners. */
  def perNodeCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    counted(edges, aCol, bCol)._2

  /** [[perNodeCounts]] extended to the LOCAL CLUSTERING COEFFICIENT view:
    * every node of degree ≥ 2 (the ones whose coefficient is defined),
    * with its degree, triangle count (0 when it closes none), and
    * coeff = 2T / (d·(d−1)) — the fraction of its neighbor pairs that are
    * themselves connected. The division is one per-row IEEE operation on
    * exact integers, so it is bit-identical on any engine. */
  def perNodeStats(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (deg, tri) = counted(edges, aCol, bCol)
    deg.filter(col("d") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        (coalesce(col("triangles"), lit(0L)).cast("double") * 2.0 /
          (col("d") * (col("d") - 1)).cast("double")).as("coeff"))
  }

  /** The shared pipeline: (degrees, per-node triangle counts). */
  private def counted(edges: DataFrame, aCol: String,
                      bCol: String): (DataFrame, DataFrame) = {
    // NOT persisted: the canonical edge list feeds the degree
    // count twice and the keyed join once, but every consumer reads BOTH
    // columns, so the distinct's exchange subtree is identical under each
    // and ReuseExchange serves all of them from one shuffle — an explicit
    // persist is a measured no-op (steady-state cold A/B at sf0.1 on the
    // round-9 fixtures: 7.02 s persisted vs 7.04 s recomputed; an earlier
    // "17 s → 4 s" reading predated that reuse and the current fixtures)
    // while squatting executor storage for the session.
    val canon = Graph.undirected(edges, aCol, bCol)
      // the deg·2³²+id order key packs ids into the low 32 bits; an
      // out-of-range id would silently corrupt orientation. Enforce the
      // documented contract per-edge (canonical rows: 0 ≤ a < b < 2³¹).
      .filter(assert_true(
        col("a") >= 0 && col("b") < (1L << 31),
        lit("Triangles packed order keys require node ids in [0, 2^31); " +
          "densify ids first")).isNull)
      .distinct()
    // same reuse story: |V| rows, joined onto both endpoints
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // injective total-order key: degree first, id as tiebreak
    val keyed = canon
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
      .select(col("a"), col("b"),
        (col("da") * lit(4294967296L) + col("a")).as("ka"),
        (col("db") * lit(4294967296L) + col("b")).as("kb"))
    // severed, keyed by src: the oriented edge list feeds the adjacency
    // build AND the per-edge probe — two consumers of one subtree. The cut
    // hash-partitions it by src and declares that layout, so the adjacency
    // groupBy(src) AND the probe's src-side join both read it in place
    // instead of each paying an exchange of the full oriented table; and
    // unlike a persist it leaves no session-lifetime cache entry (the
    // checkpoint blocks go with the plan, reclaimed by the ContextCleaner).
    val oriented = keyed.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
      greatest(col("ka"), col("kb")).as("dst_k"))
      .severKeyed(Seq("src"), edges.sparkSession.sessionState.conf.numShufflePartitions)
    // Compact-forward: instead of materializing every open wedge through a
    // shuffle (ΣC(d⁺,2) rows — 41M on the sf0.1 co-purchase graph, of
    // which only 1.9M close), carry each node's out-neighbor KEY LIST to
    // its edges and intersect in place: for the oriented edge u→v the
    // closing nodes are exactly N⁺(u) ∩ N⁺(v), and only triangles ever
    // become rows. The list length is the oriented out-degree — the same
    // O(√m) bound that tames the wedge join bounds the per-group
    // collect_list state, so no hub can blow up an adjacency row.
    val adj = oriented.groupBy("src").agg(collect_list(col("dst_k")).as("nbr"))
    val probed = oriented
      .join(adj, Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbr").as("nbr_v")),
        Seq("dst"), "left")
      .select(col("src"), col("dst"),
        array_intersect(col("nbr"),
          coalesce(col("nbr_v"), array().cast("array<bigint>"))).as("closing"))
      .filter(size(col("closing")) > 0)
    // every triangle is found once, at its apex edge u→v; credit all three
    // corners in ONE pass — a per-edge credit array (u and v once with the
    // closing count, each closing node w once, its order key stripped back
    // to the id) exploded and summed, instead of three scans of the probe
    val cnt = size(col("closing")).cast("long")
    val credits = probed.select(explode(concat(
      array(struct(col("src").as("node"), cnt.as("c")),
        struct(col("dst").as("node"), cnt.as("c"))),
      transform(col("closing"), wk =>
        struct(wk.bitwiseAND(lit(4294967295L)).as("node"), lit(1L).as("c")))))
      .as("cr"))
    val tri = credits.select(col("cr.node").as("node"), col("cr.c").as("c"))
      .groupBy("node").agg(sum(col("c")).as("triangles"))
    (deg, tri)
  }
}
