package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftSqlBridge

/** The measurement core the dev mains (Bench, BenchSkew, ScaleBench,
  * Profile, Explain, SkewFixture) share: one session builder, one task
  * listener with a deterministic drain, and the small timing helpers. */
object Harness {

  /** `local[SPARK_GRAFT_CPUS]` with shuffle partitions = cpus, UTC, no UI,
    * ERROR logging, and catalog-managed tables (bucketed joins) in a
    * throwaway warehouse dir, never `./spark-warehouse`. `confs` are
    * applied last, so they override the defaults. */
  def session(defaultCpus: Int = 32, confs: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        graft.sources.Materialized.tempRoot("graft-harness-wh"))
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The step between two measured passes over the same queries: clears
    * the session cache, so queries that persist() intermediates
    * (q42/q64/q74/q96/...) pay their real cost every pass, and drops the
    * per-pass materializations ([[graft.sources.Materialized]]), so app
    * builds and training are paid every pass instead of timing the memo
    * no-op. */
  def betweenPasses(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.sources.Materialized.resetPerPass()
  }

  /** The measured action: a noop-format write evaluates every output row
    * and column (`.count()` would let Catalyst prune projections). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seconds to build `df` and run it into the noop sink. */
  def timedNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    noop(df)
    (System.nanoTime() - t0) / 1e9
  }

  private val WarmDir = "/root/testdata/sf0.001"

  /** Untimed JVM/codegen warm-up over the smallest SF, so the first
    * measured query does not pay classloading and first codegen compile.
    * Failures are ignored: the measured run reports them. */
  def warmUp(spark: SparkSession, queries: Seq[String]): Unit =
    if (new java.io.File(WarmDir).isDirectory)
      queries.foreach { q =>
        try noop(SparkEntry.queries(q)(spark, WarmDir))
        catch { case _: Throwable => () }
      }

  /** Runs `body` with the session confs `pins` set, then restores every
    * pinned key to its previous value (or unsets it), also on failure —
    * a pin must never leak into the next query's plan. */
  def withConfs[A](spark: SparkSession, pins: Iterable[(String, String)])(body: => A): A = {
    val saved = pins.map { case (k, _) => k -> spark.conf.getOption(k) }.toSeq
    try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Interquartile range via linear-interpolated quartiles — the
    * dispersion a regression gate can trust (min-vs-min hides noise; IQR
    * says how much the median itself wobbles). */
  def iqr(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.length < 2) return 0.0
    def q(p: Double): Double = {
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
    q(0.75) - q(0.25)
  }

  /** One finished task. Byte counts are the task's own metrics. */
  final case class TaskRow(stageId: Int, durMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
                           diskSpillB: Long, memSpillB: Long, inputB: Long, peakMemB: Long)

  /** One finished job: its description (`spark.job.description`, else the
    * first line of its last stage's name) and its wall time. */
  final case class JobRow(description: String, wallMs: Long)

  final case class Snapshot(tasks: Seq[TaskRow], stageNames: Map[Int, String],
                            jobs: Seq[JobRow]) {
    def taskMs: Long = tasks.map(_.durMs).sum

    /** The `n` stages with the largest Σtask time, one line each, so a
      * straggler can be attributed to its plan site, not just observed. */
    def topStages(n: Int): Seq[String] =
      tasks.groupBy(_.stageId).toSeq.sortBy { case (_, ts) => -ts.map(_.durMs).sum }.take(n)
        .map { case (id, ts) =>
          val durs = ts.map(_.durMs)
          f"    stage $id%5d tasks=${ts.length}%3d total=${durs.sum / 1000.0}%.1fs " +
            f"max=${durs.max / 1000.0}%.1fs spill=${ts.map(_.diskSpillB).sum / 1048576}%dMB  " +
            stageNames.getOrElse(id, "").take(90)
        }

    /** Job descriptions by summed wall time: (description, seconds, count). */
    def topJobs(n: Int): Seq[(String, Double, Int)] =
      jobs.groupBy(_.description).toSeq
        .map { case (d, js) => (d, js.map(_.wallMs).sum / 1000.0, js.length) }
        .sortBy(-_._2).take(n)
  }

  /** The worst stage's max-task/median-task ratio. A stage is one
    * parallelism domain; stages whose max task is under 250 ms, or that
    * have fewer than 4 tasks, are noise, not skew. 1.0 when no stage
    * qualifies. */
  def worstStageRatio(tasks: Seq[TaskRow]): Double = {
    val ratios = tasks.groupBy(_.stageId).values.toSeq
      .filter(st => st.map(_.durMs).max >= 250 && st.length >= 4)
      .map { st =>
        val durs = st.map(_.durMs.toDouble)
        durs.max / math.max(median(durs), 1.0)
      }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** The one task listener of the dev mains. Register with [[TaskStats.attach]]
    * and read it only through [[measure]]. */
  final class TaskStats private (sc: SparkContext) extends SparkListener {
    private val tasks = new ConcurrentLinkedQueue[TaskRow]()
    private val stageNames = new ConcurrentHashMap[Int, String]()
    private val jobStarts = new ConcurrentHashMap[Int, (String, Long)]()
    private val jobs = new ConcurrentLinkedQueue[JobRow]()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageNames.put(e.stageInfo.stageId, e.stageInfo.name.linesIterator.nextOption().getOrElse(""))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) {
        val sr = m.shuffleReadMetrics
        tasks.add(TaskRow(e.stageId, e.taskInfo.duration,
          sr.localBytesRead + sr.remoteBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, m.memoryBytesSpilled, m.inputMetrics.bytesRead,
          m.peakExecutionMemory))
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(e.stageInfos.lastOption.map(_.name.linesIterator.nextOption().getOrElse(""))
          .getOrElse("?"))
      jobStarts.put(e.jobId, (desc, e.time))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = jobStarts.remove(e.jobId)
      if (start != null) jobs.add(JobRow(start._1, e.time - start._2))
    }

    /** Drains events of earlier work, clears, runs `body`, drains again
      * (also when `body` throws) and returns the body's value with every
      * task, stage and job event it caused — a late task-end can never be
      * counted against the next measurement. */
    def measure[A](body: => A): (A, Snapshot) = {
      GraftSqlBridge.drainListenerBus(sc)
      tasks.clear(); stageNames.clear(); jobStarts.clear(); jobs.clear()
      val value = try body finally GraftSqlBridge.drainListenerBus(sc)
      (value, Snapshot(tasks.asScala.toVector, stageNames.asScala.toMap, jobs.asScala.toVector))
    }
  }

  object TaskStats {
    def attach(spark: SparkSession): TaskStats = {
      val stats = new TaskStats(spark.sparkContext)
      spark.sparkContext.addSparkListener(stats)
      stats
    }
  }
}
