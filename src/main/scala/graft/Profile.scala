package graft

/** Fixed-overhead attribution for named registry queries (dev tool, not
  * part of the engine surface). For each query and rep it splits the
  * wall into task time (Σ task durations — the only data-proportional
  * part) and job/stage/task counts; the rest is Catalyst planning, AQE
  * re-optimization, scheduling and the noop commit — the fixed
  * per-query cost that dominates a fixture-scale suite. It then lists
  * the job descriptions with the most wall time, which attributes an
  * app composite (q313/q317/q323: WebCorpusApp labels its jobs) to its
  * phases. Final plans come from [[Explain]]. Usage:
  *   sbt "runMain graft.Profile tail q85_normalize_dedup q317_webcorpus_append"
  * Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 test data), SPARK_GRAFT_CPUS. */
object Profile {
  val DefaultQueries = Seq("q334_webcorpus_decontam", "q85_normalize_dedup",
    "q102_bucketed_join", "q124_subquery_sql", "q314_webcorpus_rejects")

  def main(args: Array[String]): Unit = {
    if (!args.headOption.contains("tail")) {
      System.err.println("usage: graft.Profile tail [query ...]")
      sys.exit(2)
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else DefaultQueries
    val spark = Harness.session()
    val stats = Harness.TaskStats.attach(spark)
    for (rep <- 1 to 2) {
      // Bench's between-pass step: rep 2 pays the per-pass builds again
      // instead of timing rep 1's memo
      if (rep > 1) Harness.betweenPasses(spark)
      for (q <- names) {
        val (wall, snap) = stats.measure(Harness.timedNoop(SparkEntry.queries(q)(spark, dir)))
        println(f"[tail] $q%-28s rep$rep wall ${wall}%6.2f s  jobs ${snap.jobs.size}%3d  " +
          f"stages ${snap.stageNames.size}%3d  tasks ${snap.tasks.size}%5d  " +
          f"taskSum ${snap.taskMs / 1e3}%6.2f s")
        snap.topJobs(8).foreach { case (desc, sec, n) =>
          println(f"[tail]    $sec%6.2f s  x$n%-3d ${desc.take(100)}")
        }
      }
    }
    spark.stop()
  }
}
