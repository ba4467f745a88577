package graft

/** Plan auditor (dev tool, not part of the engine surface): prints the
  * formatted physical plan of the named SparkEntry queries — the loop for
  * checking pushdown (PushedFilters/ReadSchema), join strategies, and
  * WholeStageCodegen spans. Usage:
  *   sbt "runMain graft.Explain q44_rides_by_station q50_source_mix"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session(defaultCpus = 8)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
