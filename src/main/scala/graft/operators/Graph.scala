package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared shape of the undirected graph operators: the canonical edge
  * list and the src-keyed adjacency built on it. Every undirected operator
  * ([[KCore]], [[LabelProp]], [[Triangles]], [[KTruss]], [[Bfs]],
  * [[CheapestPath]], [[WidestPath]]) reads its input through
  * [[undirected]]; the ones that join a per-node state against the
  * neighbor list every round read it through [[adjacency]]. */
object Graph {

  /** The edge list `(aCol, bCol)` as canonical `a < b` long pairs, self-loops
    * dropped, followed by the `extra` columns (e.g. a weight). NOT
    * deduplicated: each caller collapses reversed and duplicate edges its
    * own way — `distinct`, a group-by keeping one weight, or a guard ahead
    * of the `distinct`. */
  def undirected(edges: DataFrame, aCol: String, bCol: String,
                 extra: Column*): DataFrame =
    edges
      .select(Seq(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b")) ++ extra: _*)
      .filter(col("a") =!= col("b"))

  /** The severed, src-keyed directed adjacency of a deduplicated
    * [[undirected]] frame: both directions once, as (src, dst, extra…),
    * partitioned by the join key at the cut with the layout DECLARED on
    * the checkpoint scan (AQE degrades the capture to unknown otherwise),
    * so every round's join against it reads it in place. A caller running
    * several sweeps over one graph (q233's double sweep) builds it once. */
  def adjacency(und: DataFrame, extra: String*): DataFrame = {
    val parts = und.sparkSession.sessionState.conf.numShufflePartitions
    val keep = extra.map(col)
    und.select(Seq(col("a").as("src"), col("b").as("dst")) ++ keep: _*)
      .unionAll(und.select(Seq(col("b").as("src"), col("a").as("dst")) ++ keep: _*))
      .severKeyed(Seq("src"), parts)
  }
}
