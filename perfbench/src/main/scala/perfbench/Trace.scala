package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: one `SparkListener` plus one `QueryExecutionListener`
  * that watch the program under test without any change to it.
  *
  * The benchmark wraps each of its calls into a public function in a
  * [[Trace.Span]]. Listener events are kept raw in memory and assigned to
  * spans by time at the end (the workloads are closed loops with one
  * caller, so spans never overlap). Each stage is attributed to the
  * innermost `graft.*` frame of its call site (`StageInfo.details`,
  * falling back to the SQL execution's call site, then to the function the
  * span called).
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val taskMs = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[java.lang.Long]]()
  private val execDetails = new ConcurrentHashMap[Long, String]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  val spans = mutable.ArrayBuffer[Span]()
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  /** Run `body` as one traced operation. `function` names the public
    * function the benchmark called, e.g. `app:StarSchema.catchup`. */
  def span[A](kind: String, function: String)(body: => A): (A, Double) = {
    val t0 = System.currentTimeMillis()
    val (a, secs) = Util.timed(body)
    spans += Span(kind, function, t0, System.currentTimeMillis(), secs)
    (a, secs)
  }

  // ---------------------------------------------------------------- events

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, e.stageInfos.map(_.stageId), exec,
      e.stageInfos.map(_.details).find(d => frameOf(d).isDefined)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null)
    taskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue())
      .add(e.taskMetrics.executorRunTime)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val csv = s.rddInfos.exists(_.scope.exists(_.name.toLowerCase.contains("scan csv")))
    stages.add(StageRec(s.stageId, s.attemptNumber(),
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L), s.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled,
      csv))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execDetails.put(s.executionId, s.details)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    val planMs = phases.values.map(_.durationMs).sum
    val files = Scans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    qes.add(QeRec(start, planMs, planHash(qe), files))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  // ----------------------------------------------------------- aggregation

  /** Assign every recorded event to its span and sum the layer counters.
    * Call after [[detach]] (which drains the listener bus). */
  def measure(): Seq[SpanMetrics] = {
    val allJobs = jobs.values.asScala.toSeq.sortBy(_.start)
    val allStages = stages.asScala.toSeq
    val stageOfJob = allJobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val allQes = qes.asScala.toSeq
    spans.toSeq.map { sp =>
      def in(t: Long) = t >= sp.t0 && t <= sp.t1
      val js = allJobs.filter(j => in(j.start))
      val jobIds = js.map(_.id).toSet
      val ss = allStages.filter(s => stageOfJob.get(s.id).exists(j => jobIds(j.id)))
      val qs = allQes.filter(q => in(q.start))
      def execOf(j: JobRec) = j.exec.flatMap(x => Option(execDetails.get(x)))
      def endOf(j: JobRec) = if (j.end < 0) sp.t1 else j.end
      def attribution(j: JobRec): String =
        j.details.flatMap(frameOf).orElse(execOf(j).flatMap(frameOf)).getOrElse(sp.function)
      val jobMs = unionMs(js.map(j => (j.start, endOf(j))))
      // wall time covered by each call site's jobs: a query's jobs can run
      // at the same time (a broadcast beside its main job), so not a sum
      def coveredS(g: Seq[JobRec]) = unionMs(g.map(j => (j.start, endOf(j)))) / 1000.0
      val byFunction = js.groupBy(attribution).view.mapValues(coveredS).toMap
      val longest = if (ss.isEmpty) None else Some(ss.maxBy(s => s.completed - s.submitted))
      val skew = longest.flatMap { s =>
        Option(taskMs.get((s.id, s.attempt))).map(_.asScala.map(_.toDouble).toSeq)
          .filter(_.nonEmpty).map(t => t.max / math.max(1.0, Util.median(t)))
      }.getOrElse(0.0)
      val byCallerLine = js.flatMap(j => (j.details.toSeq ++ execOf(j).toSeq)
          .collectFirst { case InitLine(n) => n.toInt }.map(_ -> j))
        .groupBy(_._1).view.mapValues(g => coveredS(g.map(_._2))).toMap
      val planS = qs.map(_.planMs).sum / 1000.0
      SpanMetrics(sp,
        jobs = js.size, stages = ss.size, tasks = ss.map(_.numTasks.toLong).sum,
        taskS = ss.map(_.runMs).sum / 1000.0, gcS = ss.map(_.gcMs).sum / 1000.0,
        planS = planS,
        driverS = math.max(0.0, sp.wallS - jobMs / 1000.0 - planS),
        scanBytes = ss.map(_.inBytes).sum, csvBytes = ss.filter(_.csv).map(_.inBytes).sum,
        shuffleBytes = ss.map(_.shuffleWrite).sum, spillBytes = ss.map(_.spill).sum,
        bytesWritten = ss.map(_.outBytes).sum, filesRead = qs.map(_.files).sum,
        skew = skew, byFunction = byFunction, byCallerLine = byCallerLine, planHashes = qs.map(_.hash).distinct)
    }
  }
}

object Trace {
  final case class Span(kind: String, function: String, t0: Long, t1: Long, wallS: Double)
  final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int],
                          exec: Option[Long], details: Option[String])
  final case class StageRec(id: Int, attempt: Int, submitted: Long,
                            completed: Long, numTasks: Int, runMs: Long, gcMs: Long,
                            inBytes: Long, outBytes: Long, shuffleWrite: Long, spill: Long,
                            csv: Boolean)
  final case class QeRec(start: Long, planMs: Long, hash: String, files: Long)

  final case class SpanMetrics(span: Span, jobs: Int, stages: Int, tasks: Long,
                               taskS: Double, gcS: Double, planS: Double, driverS: Double,
                               scanBytes: Long, csvBytes: Long, shuffleBytes: Long,
                               spillBytes: Long, bytesWritten: Long, filesRead: Long,
                               skew: Double, byFunction: Map[String, Double],
                               byCallerLine: Map[Int, Double],
                               planHashes: Seq[String])

  private object Scans extends AdaptiveSparkPlanHelper

  /** The `StarSchema.init` line a job was called from: init's two upserts
    * (stations, then weather) are told apart by it. */
  private val InitLine = """graft\.app\.StarSchema\$\.init\(StarSchema\.scala:(\d+)\)""".r.unanchored

  private val Frame = """^\s*(?:at\s+)?((?:org\.apache\.spark\.sql\.)?graft\.[\w.$]+)\(""".r.unanchored

  /** Where a call-site stack enters the innermost `graft.*` object: the
    * outermost frame of the innermost run of frames in one `graft.*`
    * object, as `<layer>:<Object>.<method>`. A write reached through
    * `Sinks.upsert` → `Sinks.overwriteSwap` reads `sources:Sinks.upsert`. */
  def frameOf(details: String): Option[String] = {
    val frames = Option(details).toSeq.flatMap(_.linesIterator).map(_.trim)
    def graft(l: String): Option[String] = l match {
      case Frame(full) => Some(full)
      case _ => None
    }
    def clsOf(full: String) = full.substring(0, full.lastIndexOf('.')).stripSuffix("$")
    frames.indexWhere(graft(_).isDefined) match {
      case -1 => None
      case i =>
        val cls = clsOf(graft(frames(i)).get)
        var entry = graft(frames(i)).get
        var j = i + 1
        var more = true
        while (more && j < frames.size) {
          graft(frames(j)) match {
            case Some(f) if clsOf(f) == cls => entry = f
            case None if frames(j).startsWith("scala.") || frames(j).startsWith("java.") =>
            case _ => more = false
          }
          j += 1
        }
        val method = entry.substring(entry.lastIndexOf('.') + 1)
          .split('$').filter(p => p.nonEmpty && p != "anonfun" && p != "adapted" && !p.forall(_.isDigit))
          .headOption.getOrElse("<init>")
        Some(s"${layerOf(cls)}:${cls.split('.').last}.$method")
    }
  }

  /** The repository module a class lives in. */
  def layerOf(cls: String): String =
    if (cls.startsWith("org.apache.spark.sql.graft")) "bridge"
    else cls.split('.').toSeq match {
      case Seq("graft", pkg, _, _*) => pkg
      case _ => "graft"
    }

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A stable hash of the executed plan: expression ids, plan ids and file
    * locations (which change from run to run) are blanked first. */
  def planHash(qe: QueryExecution): String = {
    val text = qe.executedPlan.toString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\[file:[^\\]]*\\]", "[]")
      .replaceAll("Location: \\w+\\[[^\\]]*\\]", "Location: []")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(text.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
