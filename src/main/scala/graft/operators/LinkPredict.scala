package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link prediction over an undirected graph by the resource-allocation
  * index (Zhou/Lü/Zhang 2009): score(a,b) = Σ_z 1/deg(z) over common
  * neighbors z — the degree-discounted cousin of Adamic–Adar that needs
  * no logarithm, computed here in exact fixed point (10^12 DIV deg) so
  * the SQL oracle replays it bit-for-bit.
  *
  * Scale shape, in order of importance:
  *
  *  1. HUB CAP BEFORE THE TWO-HOP JOIN. Intermediaries with deg > hubCap
  *     are excluded from the z role before the self-join, bounding the
  *     candidate stream at Σ_{deg(z)≤cap} deg(z)²/2 ≤ (cap/2)·Σdeg —
  *     linear in edges, hub-proof — while discarding only negligible
  *     1/deg weight. Without the cap a zipf hub alone contributes
  *     deg²/2 pairs (quadratic blowup). BENCH_SKEW gates this volume.
  *  2. AGGREGATE BEFORE THE ANTI-JOIN, on a PACKED single-long key,
  *     with the shuffle issued explicitly first (see
  *     [[topPredictions]]): grouping commutes with the existing-edge
  *     filter, so the anti-join and everything after it process
  *     |distinct pairs| once, on an already-satisfied partitioning —
  *     the candidate stream crosses exactly one shuffle.
  *  3. NO persist() ANYWHERE. The two self-join sides are identical
  *     subplans, and Spark's ReuseExchange already serves both from one
  *     shuffle; round-8 measured the explicit persist as a no-op
  *     (~50 s with and without) while squatting executor storage. The
  *     same holds for the edge derivation feeding the adjacency union
  *     twice — one exchange, reused.
  *
  * The final top-k is a deterministic TakeOrderedAndProject on
  * (score desc, a, b).
  *
  * DEPLOYMENT SIZING (measured at sf1, 1.47B candidates, local[32] —
  * full sweep in SCALE_EVIDENCE.md §q153): the single shuffle writes
  * ~8 bytes per candidate, and the complete aggregate wants 64-128 MB
  * of candidate data per task (≈ 8M rows). Set BOTH
  * `spark.sql.shuffle.partitions` ≈ |candidates| / 8M AND
  * `spark.sql.adaptive.coalescePartitions.minPartitionNum` to the same
  * number — AQE sizes stage reads from INPUT bytes, so without the
  * floor it re-merges the candidate-generating join (whose output is
  * ~100× its input) back to ~cores tasks that spill. With both set
  * (256 at sf1) every stage runs uniform spill-free tasks and the
  * operator is compute-bound (~165 s of aggregate work per 1.47B
  * candidates on 32 threads, linear in candidates). Prefer partitions
  * over heap: a 64 GB heap under the 32-partition monolithic shape
  * was SLOWER than 8 GB (GCLocker thrash on multi-GB sorter arrays,
  * 462 s vs 310 s). */
object LinkPredict {

  /** Fixed-point scale for 1/deg weights: 10^12 DIV deg stays exact in
    * BIGINT for any degree and sums without overflow below ~9·10^6
    * common neighbors per pair. */
  val WeightScale = 1000000000000L

  /** The hub-capped two-hop candidate stream (a, b, w): one row per
    * (pair, intermediary), w = WeightScale DIV deg(z). Exposed for the
    * skew bench's candidate-volume gate. `und` must be distinct
    * undirected edges as (pa, pb) with pa < pb.
    *
    * The self-join's stream side is repartitioned by src into
    * max(default parallelism, `spark.sql.shuffle.partitions`) before the
    * join. The self-join EXPLODES its input ~deg-fold (12M adjacency rows
    * → 1.47B candidates at sf1), and a written edge table arrives as a
    * ~10-partition parquet scan that flows in through a broadcast join
    * with no exchange, so without the repartition the explosion runs on
    * scan granularity (measured 78 s at sf0.1; repartitioned: 14 s).
    * MEASURED REACH (SCALE_EVIDENCE.md §q153): the count governs the
    * broadcast-hash regime (small build side), but in the sort-merge
    * regime EnsureRequirements normalizes it back to the session
    * partition number — there the working lever is session-level
    * `coalescePartitions.minPartitionNum` set beside
    * `shuffle.partitions` (≈ |candidates| / 8M), which makes every
    * stage uniform and spill-free. */
  def raCandidates(und: DataFrame, hubCap: Int): DataFrame = {
    val s = und.sparkSession
    val parallelism = math.max(s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val adj = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val viaZ = adj.join(deg.filter(col("deg") <= hubCap), "src")
      .withColumn("w", expr(s"CAST($WeightScale DIV deg AS BIGINT)"))
      .repartition(parallelism, col("src"))
    // The self-join MUST stay in the shuffled (sort-merge) regime (r17,
    // guide §3.1 "pick the strategy deliberately"): viaZ materializes
    // near Spark's 10 MB broadcast threshold, so AQE flipped this join
    // between regimes run to run — the bimodality BENCH_r16/r17 recorded
    // (sf0.1, local[32]: SMJ 13-24 s, BHJ 73-90 s over 3×3 reps,
    // OPTIMIZATION_r17.md q153; the sf1 shape is SCALE_EVIDENCE §q153).
    // Broadcasting is catastrophic here even though the build side
    // fits: the join EXPLODES ~100-fold, and
    // a broadcast join runs inside the probe side's SCAN stage, whose
    // task count is the written graph table's file count — candidate
    // generation (and the map side of the aggregate exchange) loses the
    // cluster's parallelism exactly where the operator needs it most.
    // With the merge hint both sides are identical subplans served by
    // ONE reused exchange, and the join always runs at the shuffle
    // partition count the deployment law sizes.
    viaZ.as("z1").hint("merge").join(viaZ.as("z2"),
        col("z1.src") === col("z2.src") && col("z1.dst") < col("z2.dst"))
      .select(col("z1.dst").as("a"), col("z2.dst").as("b"), col("z1.w").as("w"))
  }

  /** Top-k predicted links: non-adjacent pairs with the highest RA
    * score, ordered (score desc, a, b) for a deterministic result.
    *
    * The per-pair aggregate is the measured hot spot, not the join: on a
    * dense graph nearly every candidate pair has ONE common neighbor
    * (sf0.1: 147M candidates → 101M distinct pairs), so map-side partial
    * aggregation combines almost nothing and a two-column group key pays
    * full generic-hash-map cost per row. Three measured moves (cold,
    * sf0.1, local[32]) take the aggregate from ~50 s to ~20 s:
    *
    *  1. PACK the pair into ONE long, ab = a·2^32 + b — Spark's
    *     single-long-key aggregate fast path (~50 s → ~38 s);
    *  2. REPARTITION by ab BEFORE aggregating — the required
    *     distribution is already satisfied, so the plan runs one
    *     complete aggregate and skips the useless partial hash probe
    *     over ~unique keys (with packing: ~20 s);
    *  3. downstream stays packed: the anti-join runs on ab (the pairs
    *     side reuses the repartition's hash partitioning — ZERO extra
    *     shuffle of the big side; the edge side is one long per row,
    *     AQE broadcasts it when small), and the top-k orders by
    *     (score desc, ab), which equals (score desc, a, b) because the
    *     packing is order-isomorphic for non-negative ids. Only the
    *     final k rows unpack.
    *
    * PRECONDITION: node ids in [0, 2^31) — enforced per-edge with
    * `assert_true` (a filter over |E| rows, negligible next to the
    * candidate stream; fails LOUDLY, never corrupts). Ids wider than 31
    * bits (e.g. synthetic 64-bit hashes) must be densified first. */
  def topPredictions(und: DataFrame, hubCap: Int, k: Int): DataFrame = {
    val idBound = 1L << 31
    val guarded = und.filter(assert_true(
      col("pa") >= 0 && col("pa") < idBound && col("pb") >= 0 && col("pb") < idBound,
      lit("LinkPredict packed keys require node ids in [0, 2^31); " +
        "densify ids first")).isNull)
    def pack(a: Column, b: Column): Column = shiftleft(a, 32) + b
    val packedPairs = raCandidates(guarded, hubCap)
      .select(pack(col("a"), col("b")).as("ab"), col("w"))
      .repartition(col("ab"))
      .groupBy("ab")
      .agg(count(lit(1)).as("common"), sum("w").as("score"))
    packedPairs
      .join(guarded.select(pack(col("pa"), col("pb")).as("ab")), Seq("ab"), "left_anti")
      .orderBy(col("score").desc, col("ab"))
      .limit(k)
      .select(shiftright(col("ab"), 32).as("pa"),
        col("ab").bitwiseAND(lit(0xFFFFFFFFL)).as("pb"),
        col("common"), col("score"))
  }
}
