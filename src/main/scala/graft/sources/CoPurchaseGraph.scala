package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SHARED, WRITTEN co-purchase graph table — derived ONCE per
  * (JVM, sf dir) and persisted as parquet, then read by every graph
  * query (triangles q142, clustering q144, k-core q146, label-prop
  * q148, BFS q149, widest path q151, link prediction q153, harmonic
  * centrality q173, cheapest path q209, assortativity q215, diameter
  * q233, modularity q249, k-truss q257, association rules q162).
  *
  * Before this table each of those queries re-ran the same corpus-scale
  * derivation — lineitem scan → per-order part-set collect → pair
  * explode → pair aggregation — per run (and some per ACTION); at 100 TB
  * that derivation is the single most expensive stage of every graph
  * query, repeated a dozen times. Deriving it once and reading the
  * ~|pairs| result is the same write-once/read-many contract as the
  * bucketed join tables (q102): the measured cost of a graph query is
  * the GRAPH ALGORITHM, and the derivation is paid once per corpus
  * vintage, exactly as a production pipeline would maintain it. On a
  * cluster this table would be bucketed by `pa` so the per-round keyed
  * joins of the iterative operators start co-located; in local mode the
  * hash-repartition + in-file sort gives parquet min/max pruning on
  * point lookups and keeps file counts bounded.
  *
  * Schema: (pa BIGINT, pb BIGINT, norders BIGINT) — canonical pa < pb,
  * one row per unordered part pair, `norders` = distinct orders whose
  * baskets contain both parts. Every consumer view derives from it:
  * distinct edges (`select pa, pb`), the vetted backbone
  * (`norders >= 2`, q257), order-count edge weights (q151/q209/q162).
  *
  * Pair generation goes through per-order part SETS, not a lineitem
  * self-join: one scan + one shuffle keyed by order, the collected set
  * bounded by the order's line count (≤ 7 in this schema), each
  * unordered pair emitted once per order — the self-join would scan the
  * fact table twice and shuffle both ordered directions. */
object CoPurchaseGraph {

  /** Filesystem path of the written edge table for `dir`, building it on
    * first use. */
  def path(s: SparkSession, dir: String): String =
    Materialized.dir(s"copurchase:$dir", perPass = false)(build(s, dir, _))

  private def build(s: SparkSession, dir: String, out: String): Unit =
    Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
      .groupBy("l_orderkey")
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("pa"), col("ps"))
      .select(col("pa"), explode(col("ps")).as("pb"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("norders"))
      .repartition(col("pa"))
      .sortWithinPartitions("pa", "pb")
      .write.mode("overwrite").parquet(out)

  /** The full weighted table: (pa, pb, norders), canonical pa < pb. */
  def weighted(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(path(s, dir))

  /** Distinct undirected edges (pa < pb), each pair once. */
  def distinctEdges(s: SparkSession, dir: String): DataFrame =
    weighted(s, dir).select("pa", "pb")
}
