package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** The one compilation unit inside Spark's namespace. `Column ⇄ Expression`
  * conversion and session-state access became `private[sql]` in Spark 4's
  * Connect refactor; a minimal in-namespace bridge is the established
  * pattern for extension libraries that ship native Catalyst expressions
  * (Delta and Iceberg use the same technique). Everything graft-specific
  * lives in the `graft.*` packages — this file only re-exports access.
  */
object GraftSqlBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Idempotent imperative function registration (the non-`spark.sql.extensions`
    * route, for sessions built before the library was on the classpath). */
  def registerFunction(spark: SparkSession, ident: FunctionIdentifier,
                       info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
  }

  /** Blocks until every event posted so far (task/stage/job ends, SQL
    * execution ends and the query-execution listeners fed by them) has
    * been delivered to every listener. The listener bus is
    * `private[spark]`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Re-declare the physical layout of a CHECKPOINTED frame (r18).
    *
    * `Dataset.localCheckpoint`/`checkpoint` capture the executed plan's
    * `outputPartitioning` into the resulting [[LogicalRDD]] — but with
    * AQE enabled the executed plan is an `AdaptiveSparkPlanExec`, whose
    * `outputPartitioning` is the `LeafExecNode` default
    * `UnknownPartitioning`, so the capture ALWAYS degrades to unknown
    * and every downstream join/aggregate re-shuffles the materialized
    * frame (verified against the Spark 4.1 bytecode: `LogicalRDD
    * .fromDataset` reads `executedPlan.outputPartitioning`, and
    * `AdaptiveSparkPlanExec` does not override it).
    *
    * This rewraps the checkpoint's LogicalRDD with the layout the caller
    * KNOWS the materialization produced. The caller must guarantee the
    * checkpointed plan ended in `repartition(numPartitions, partCols)`
    * (an exact, AQE-uncoalescible REPARTITION_BY_NUM exchange) followed
    * only by partitioning-preserving operators — a wrong key declaration
    * silently mis-joins. A wrong partition count (AQE coalescing, a stale
    * `numPartitions`) is checked against the checkpoint RDD and throws;
    * an empty checkpoint, which AQE may plan with fewer partitions,
    * passes through undeclared. Origin stats are dropped (the frame
    * reads as big): right for the corpus-scale sides this is used on,
    * whose broadcast would be the q153-class pathology. Non-checkpoint
    * plans pass through unchanged. */
  def declareCheckpointLayout(df: org.apache.spark.sql.DataFrame,
                              partCols: Seq[String],
                              numPartitions: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val byName = lr.output.map(a => a.name -> a).toMap
        require(partCols.forall(byName.contains),
          s"declareCheckpointLayout: $partCols not all in ${lr.output.map(_.name)}")
        val n = lr.rdd.getNumPartitions
        if (n != numPartitions) {
          // AQE plans an empty input with fewer partitions (0 or 1): an
          // empty frame has no layout to declare
          require(lr.rdd.isEmpty(),
            s"declareCheckpointLayout: declared $numPartitions partitions, the checkpoint has $n")
          df
        } else {
          val part = HashPartitioning(partCols.map(byName(_)), numPartitions)
          org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
            new LogicalRDD(lr.output, lr.rdd, part, Nil, lr.isStreaming,
              lr.stream)(ds.sparkSession, None, None))
        }
      case _ => df
    }
  }
}
