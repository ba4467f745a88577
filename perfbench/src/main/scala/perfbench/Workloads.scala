package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.app.StarSchema
import graft.pipeline.Schemas
import graft.sources.Sinks

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, traceOut: Path, dataDir: Path,
                      untracedBatchS: Option[Double] = None)

/** The shared closed loop: one caller, the next operation starts only when
  * the previous one has finished. A batch (a weekly round, an engine pass)
  * is the unit the loop repeats until `seconds` would be exceeded. A traced
  * run runs the same batches as an untraced run with the same arguments,
  * every one of them traced, so its per-layer figures describe the batch
  * positions the end-to-end figures are taken from. */
abstract class Workload(val spark: SparkSession, val o: Opts) {
  val tracer = new Trace(spark)
  var attempted = 0
  var failed = 0
  var checksOk = true
  /** Samples per operation kind, failed operations excluded. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val batches = mutable.ArrayBuffer[Double]()
  val info = mutable.ArrayBuffer[String]()

  def log(s: String): Unit = { println(s"[perfbench] $s"); info += s }

  /** Time one operation, then check its output outside the timed region. */
  def op[A](kind: String, function: String)(body: => A)(check: A => Option[String]): Option[Double] = {
    attempted += 1
    try {
      val (a, secs) = if (o.trace) tracer.span(kind, function)(body) else Util.timed(body)
      check(a) match {
        case None =>
          samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += secs
          Some(secs)
        case Some(err) =>
          failed += 1; log(s"WRONG $kind: $err"); None
      }
    } catch {
      case e: Throwable =>
        failed += 1; log(s"FAILED $kind: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  /** A check outside any operation (e.g. the warehouse after a round). */
  def require(what: String, r: Option[String]): Unit = r.foreach { err =>
    checksOk = false; log(s"CHECK FAILED $what: $err")
  }

  def setup(): Unit
  /** One batch; returns its wall time if every operation in it succeeded. */
  def batch(i: Int): Option[Double]
  def between(): Unit = ()

  def runTimed(): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var next = true
    while (next) {
      if (o.trace) tracer.attach()
      val b = batch(i)
      if (o.trace) tracer.detach()
      b.foreach(batches += _)
      between()
      i += 1
      val typical = if (batches.isEmpty) elapsed / i else Util.median(batches.toSeq)
      next = elapsed + typical <= o.seconds
    }
    log(f"timed region: $i batches in $elapsed%.2f s")
  }

  /** The workload's unit operation, and how `op_s` is formed from it. */
  def opSeconds: Double

  /** Median of the good samples of one kind; 0 when every attempt failed
    * (the run then reports `correct: false`). */
  def med(kind: String): Double = Workload.medianOr0(samples.getOrElse(kind, Nil).toSeq)
  def nSamples(kind: String): Int = samples.get(kind).fold(0)(_.size)

  def endToEnd(setupS: Double, heapMb: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("op_s", opSeconds, "s"),
    ("batch_s", Workload.medianOr0(batches.toSeq), "s"),
    ("retained_heap_mb", heapMb, "MiB"))

  /** Per-layer metrics from the traced spans. Every workload reports the
    * full list; a metric that does not apply to this workload reads 0. */
  def perLayer(spans: Seq[Trace.SpanMetrics]): Map[String, Double]
}

object Workload {
  val Queries: Seq[String] = Seq("q05_roleplay_join", "q96_containment",
    "q142_triangle_counts", "q146_kcore", "q148_label_prop")

  def cost(m: Trace.SpanMetrics, field: String): Double = field match {
    case "jobs" => m.jobs
    case "tasks" => m.tasks.toDouble
    case "task_s" => m.taskS
    case "gc_s" => m.gcS
    case "plan_s" => m.planS
    case "driver_s" => m.driverS
    case "shuffle_bytes" => m.shuffleBytes.toDouble
    case "spill_bytes" => m.spillBytes.toDouble
    case "bytes_written" => m.bytesWritten.toDouble
    case "scan_bytes" => m.scanBytes.toDouble
    case "files_read" => m.filesRead.toDouble
    case "skew" => m.skew
    case "wall_s" => m.span.wallS
  }

  val WeeklyFields = Seq("jobs", "tasks", "task_s", "gc_s", "plan_s", "driver_s",
    "shuffle_bytes", "spill_bytes", "bytes_written")
  val ReadFields = Seq("plan_s", "jobs", "tasks", "task_s", "scan_bytes", "files_read",
    "shuffle_bytes", "driver_s")
  val QueryFields = Seq("plan_s", "jobs", "tasks", "task_s", "gc_s", "shuffle_bytes",
    "spill_bytes", "skew", "driver_s")
  val Layers = Seq("app", "pipeline", "sources", "operators", "queries")

  /** Every per-layer metric name, in report order. */
  val PerLayerNames: Seq[String] =
    WeeklyFields.map("weekly." + _) ++
      Seq("weekly.raw_read_amplification", "weekly.sinks.upsert_s",
        "weekly.sinks.upsert_partitioned_s", "weekly.sinks.append_s",
        "weekly.catchup_overhead_s", "init.stations_s", "init.weather_s",
        "warehouse.fact_files") ++
      ReadFields.map("chart." + _) ++ Seq("chart.wall_s") ++
      ReadFields.map("integrity." + _) ++ Seq("integrity.wall_s") ++
      Queries.flatMap(q => QueryFields.map(f => s"$q.$f")) ++
      Layers.map(l => s"layer.${l}_s") ++ Seq("trace_overhead_s")

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name == "weekly.bytes_written") "bytes"
    else if (name.endsWith("skew") || name.endsWith("amplification")) "ratio"
    else "count"

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Util.median(xs)

  /** Mean per operation of one cost field over the spans of one kind. */
  def meanCost(spans: Seq[Trace.SpanMetrics], kind: String, field: String): Double =
    mean(spans.filter(_.span.kind == kind).map(cost(_, field)))

  /** Mean per operation of the job wall time whose call site matches `key`. */
  def meanBy(spans: Seq[Trace.SpanMetrics], kind: String, key: String): Double =
    mean(spans.filter(_.span.kind == kind).map(_.byFunction.getOrElse(key, 0.0)))

  /** Job time per repository module, per traced operation. */
  def layerTimes(spans: Seq[Trace.SpanMetrics]): Map[String, Double] = {
    val n = math.max(1, spans.size)
    Layers.map { l =>
      s"layer.${l}_s" -> spans.map(_.byFunction.collect {
        case (k, v) if k.startsWith(l + ":") => v
      }.sum).sum / n
    }.toMap
  }
}

// ------------------------------------------------------------ star workload

object Star {
  type Chart = (SparkSession, String) => org.apache.spark.sql.DataFrame
  /** The dashboard: (name, chart, ordered) */
  val charts: Seq[(String, Chart, Boolean)] = Seq(
    ("ridesByStation", (s, w) => StarSchema.ridesByStation(s, w), true),
    ("ridesPerHour", (s, w) => StarSchema.ridesPerHour(s, w), false),
    ("ridesPerWeekday", (s, w) => StarSchema.ridesPerWeekday(s, w), false),
    ("ridesDailyTrend", (s, w) => StarSchema.ridesDailyTrend(s, w), false))

  /** The four charts computed straight from the generated typed rides,
    * without the star schema: names come from the generator's naming rule. */
  def expected(spark: SparkSession, seed: Long, weeks: Int, n: Int): Map[String, Seq[String]] = {
    val rides = (0 until weeks).map(w => Gen.rides(spark, seed, w, n)).reduce(_ union _).cache()
    val roles = rides.select(col("start_station").as("id"), lit(1).as("s"))
      .union(rides.select(col("end_station").as("id"), lit(0).as("s")))
    val byStation = roles.groupBy(Gen.nameOf(col("id")).as("station_name"))
      .agg(sum("s").as("n_starts"), sum(lit(1) - col("s")).as("n_ends"), count(lit(1)).as("n_rides"))
      .orderBy(col("n_rides").desc, col("station_name").asc).limit(10)
    val perHour = rides.groupBy(hour(col("start_ts"))).agg(count(lit(1)))
    val perWeekday = rides.groupBy(dayofweek(col("start_ts"))).agg(count(lit(1)))
    val daily = rides.groupBy(year(col("start_ts")), month(col("start_ts")), dayofmonth(col("start_ts")))
      .agg(count(lit(1)))
    val out = Map(
      "ridesByStation" -> Checks.lines(byStation.collect().toSeq),
      "ridesPerHour" -> Checks.lines(perHour.collect().toSeq),
      "ridesPerWeekday" -> Checks.lines(perWeekday.collect().toSeq),
      "ridesDailyTrend" -> Checks.lines(daily.collect().toSeq))
    rides.unpersist()
    out
  }
}

/** The paper's weekly cycle. Each round starts from an empty warehouse:
  * `StarSchema.init`, then one `StarSchema.catchup` per newly delivered
  * week (the reference's weekly DAG run), then a dashboard refresh over
  * the committed warehouse: the four charts and the integrity report,
  * each collected to the driver.
  *
  * A week is the size of the reference's weekly TfL CSV: its sample file
  * holds 89,405 rows (10.9M rows over ~53 weekly files in all). */
final class StarWeekly(spark: SparkSession, o: Opts) extends Workload(spark, o) {
  val weeks = 2
  val ridesPerWeek = 89405
  private var in: Gen.StarInputs = _
  private var expected: Map[String, Seq[String]] = _
  private val ingests = mutable.ArrayBuffer[Double]()
  private var lastFactFiles = 0.0
  private var csvBytes = 0L

  private def init(wh: String, inputs: Gen.StarInputs): Unit =
    StarSchema.init(spark, wh, inputs.stationsCsv.toString, inputs.weatherJson.toString,
      Schemas.weatherRoot(withSevererisk = true))

  /** Untimed warm-up on throwaway data: a 2-week ingest (the first week
    * creates the fact table, the second merges into it), every chart and
    * the integrity report; then everything is deleted. */
  private def warmUp(): Unit = {
    val dir = o.work.resolve("warmup")
    val w = Gen.starInputs(spark, dir.resolve("in"), o.seed ^ 0x5a5a5a5aL, 2, 5000)
    val wh = dir.resolve("wh").toString
    init(wh, w)
    StarSchema.catchup(spark, wh, w.root.resolve("raw").toString)
    Star.charts.foreach { case (_, f, _) => f(spark, wh).collect() }
    StarSchema.integrityReport(spark, wh).collect()
    Util.deleteTree(dir)
  }

  /** The throwaway warm-up and the generation of the real inputs (with
    * their expected charts) share no files, so they run side by side: a
    * cold JVM leaves cores idle while it compiles. */
  def setup(): Unit = {
    val Seq(warm, genS) = Util.inParallel(Seq(
      () => Util.timed(warmUp())._2,
      () => Util.timed {
        in = Gen.starInputs(spark, o.work.resolve("in"), o.seed, weeks, ridesPerWeek)
        expected = Star.expected(spark, o.seed, weeks, ridesPerWeek)
      }._2))
    log(f"warm-up $warm%.2f s; alongside it, input generation and expected charts $genS%.2f s " +
      s"($weeks weeks of $ridesPerWeek rides)")
    csvBytes = in.weekDirs.map { case (_, d) => Files.size(d.resolve("journey.csv")) }.sum
  }

  def batch(i: Int): Option[Double] = {
    val wh = o.work.resolve(s"wh-$i").toString
    val raw = o.work.resolve(s"raw-$i")
    Files.createDirectories(raw)
    val initS = op("init", "app:StarSchema.init")(init(wh, in))(_ => None)
    val weekS = in.weekDirs.map { case (date, dir) =>
      Util.copyTree(dir, raw.resolve(date)) // delivery: outside the timed call
      op("weekly", "app:StarSchema.catchup")(
        StarSchema.catchup(spark, wh, raw.toString))(Checks.catchup(_, date))
    }
    val chartS = Star.charts.map { case (name, f, ordered) =>
      op("chart", s"app:StarSchema.$name")(f(spark, wh).collect().toSeq)(rows =>
        Checks.chart(name, Checks.lines(rows), expected(name), ordered))
    }
    val integS = op("integrity", "app:StarSchema.integrityReport")(
      StarSchema.integrityReport(spark, wh).collect().toSeq)(Checks.integrity)
    // the committed warehouse, checked outside the timed region
    try {
      val facts = spark.read.parquet(StarSchema.factJourney(wh)).count()
      val ledger = StarSchema.ingestedDates(spark, wh)
      val repeat = StarSchema.catchup(spark, wh, raw.toString)
      require("warehouse", Checks.warehouse(facts, weeks.toLong * ridesPerWeek, ledger,
        in.weekDirs.map(_._1).toSet, repeat))
      lastFactFiles = Sinks.dataFileCount(spark, StarSchema.factJourney(wh)).toDouble
    } catch {
      case e: Throwable => require("warehouse", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    Util.deleteTree(Paths.get(wh)); Util.deleteTree(raw)
    val ingest = initS +: weekS
    if (ingest.forall(_.isDefined)) ingests += ingest.flatten.sum
    val all = ingest ++ chartS :+ integS
    if (all.forall(_.isDefined)) Some(all.flatten.sum) else None
  }

  def opSeconds: Double = med("weekly")

  def perLayer(spans: Seq[Trace.SpanMetrics]): Map[String, Double] = {
    import Workload._
    val weekly = spans.filter(_.span.kind == "weekly")
    val init = spans.filter(_.span.kind == "init")
    val sinks = Seq("upsert", "upsertPartitioned", "append")
    val initLines = init.flatMap(_.byCallerLine.toSeq).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val lines = initLines.keys.toSeq.sorted
    val nInit = math.max(1, init.size)
    val chartWalls = spans.filter(_.span.kind == "chart").map(_.span.wallS)
    WeeklyFields.map(f => s"weekly.$f" -> meanCost(spans, "weekly", f)).toMap ++
      ReadFields.map(f => s"chart.$f" -> meanCost(spans, "chart", f)).toMap ++
      ReadFields.map(f => s"integrity.$f" -> meanCost(spans, "integrity", f)).toMap ++ Map(
      "weekly.raw_read_amplification" ->
        (if (weekly.isEmpty) 0.0 else weekly.map(_.csvBytes).sum.toDouble / (csvBytes.toDouble / weeks * weekly.size)),
      "weekly.sinks.upsert_s" -> meanBy(spans, "weekly", "sources:Sinks.upsert"),
      "weekly.sinks.upsert_partitioned_s" -> meanBy(spans, "weekly", "sources:Sinks.upsertPartitioned"),
      "weekly.sinks.append_s" -> meanBy(spans, "weekly", "sources:Sinks.append"),
      "weekly.catchup_overhead_s" -> mean(weekly.map(m =>
        m.span.wallS - sinks.map(f => m.byFunction.getOrElse(s"sources:Sinks.$f", 0.0)).sum)),
      "init.stations_s" -> lines.headOption.map(initLines(_) / nInit).getOrElse(0.0),
      "init.weather_s" -> lines.drop(1).map(initLines(_)).sum / nInit,
      "warehouse.fact_files" -> lastFactFiles,
      "chart.wall_s" -> mean(chartWalls),
      "integrity.wall_s" -> meanCost(spans, "integrity", "wall_s"))
  }

  override def endToEnd(setupS: Double, heapMb: Double): Seq[(String, Double, String)] = {
    log(f"ingest (init + $weeks weeks) median ${Workload.medianOr0(ingests.toSeq)}%.3f s over ${ingests.size} rounds")
    log(f"weekly catchup median ${med("weekly")}%.3f s over ${nSamples("weekly")} weeks")
    log(f"chart median ${med("chart")}%.4f s over ${nSamples("chart")} charts")
    log(f"integrityReport median ${med("integrity")}%.4f s over ${nSamples("integrity")}")
    super.endToEnd(setupS, heapMb)
  }
}

// ------------------------------------------------------------ engine workload

/** One pass over registry queries on the bundled TPC-H-shaped tables, in a
  * fixed order. Each result must match its stored fingerprint.
  *
  * The order is fixed on purpose. A query's time depends on its position
  * in the pass (at sf0.01 on 4 cores, q142 took 3.6 s first and 4.3-5.7 s
  * third or later), so a seed-permuted order spread `op_s` and `batch_s`
  * by 12-16 % across seeds. With one order the position effect is the same
  * in every run, and a change that leaves more debt behind shows on the
  * queries after it. */
final class EngineOps(spark: SparkSession, o: Opts) extends Workload(spark, o) {
  private val fns = graft.SparkEntry.queries
  private var stored: Map[String, Checks.Fingerprint] = Map.empty
  private def sf = o.dataDir.resolve("sf0.01").toString

  def setup(): Unit = {
    stored = EngineOps.loadFingerprints(o.dataDir.resolve("fingerprints.txt"))
    // untimed warm-up on throwaway data (the smaller bundled scale), then
    // the write-once co-purchase edge table of sf0.01, which the registry's
    // contract amortizes
    val small = o.dataDir.resolve("sf0.001").toString
    val warm = Util.inParallel(EngineOps.WarmUpGroups.map { g =>
      () => g.map(q => q -> Util.timed(fns(q)(spark, small).collect())._2)
    }).flatten
    EngineOps.dropCheckpoints(spark)
    val edges = Util.timed(graft.sources.CoPurchaseGraph.distinctEdges(spark, sf).count())._2
    between()
    log("warm-up " + warm.map { case (q, t) => f"$q $t%.2f" }.mkString(", ") + f" s; co-purchase table $edges%.2f s")
  }

  def batch(i: Int): Option[Double] = {
    val times = Workload.Queries.map { q =>
      val t = op(q, s"queries:SparkEntry.queries($q)")(fns(q)(spark, sf).collect().toSeq)(
        Checks.fingerprintMatches(q, _, stored))
      EngineOps.dropCheckpoints(spark)
      t
    }
    log(s"pass $i: " + Workload.Queries.zip(times).map { case (q, t) => f"$q ${t.getOrElse(-1.0)}%.3f" }.mkString(", "))
    if (times.forall(_.isDefined)) Some(times.flatten.sum) else None
  }

  /** Between passes, as in the repository's suite bench: no pass is served
    * from an earlier pass's cache (q96 persists its shingle sets). */
  override def between(): Unit = spark.sharedState.cacheManager.clearCache()

  /** Geometric mean of the per-query medians. */
  def opSeconds: Double = {
    val meds = Workload.Queries.map(med)
    if (meds.contains(0.0)) 0.0 else Util.geomean(meds)
  }

  def perLayer(spans: Seq[Trace.SpanMetrics]): Map[String, Double] = {
    import Workload._
    spans.foreach(m => log(s"plan ${m.span.kind}: ${m.planHashes.mkString(",")}"))
    Queries.flatMap(q => QueryFields.map(f => s"$q.$f" -> meanCost(spans, q, f))).toMap
  }

  override def endToEnd(setupS: Double, heapMb: Double): Seq[(String, Double, String)] = {
    Workload.Queries.foreach(q => log(f"$q median ${med(q)}%.4f s over ${nSamples(q)}"))
    super.endToEnd(setupS, heapMb)
  }
}

object EngineOps {
  /** The warm-up runs these groups side by side, and the queries of a group
    * one after another. A cold JVM leaves cores idle while it compiles.
    * The graph queries share one group: they share the co-purchase table,
    * whose first build the others would wait for. */
  val WarmUpGroups: Seq[Seq[String]] = Seq(Seq("q05_roleplay_join"), Seq("q96_containment"),
    Seq("q142_triangle_counts", "q146_kcore", "q148_label_prop"))

  def loadFingerprints(p: Path): Map[String, Checks.Fingerprint] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, h) = l.split("\\s+"); n -> Checks.Fingerprint(r.toLong, h) }
      .toMap

  /** Free a query's lineage-sever checkpoint blocks as soon as it is done,
    * and wait for that, so the next query does not start while they are
    * still being dropped. */
  def dropCheckpoints(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.filter(_.isCheckpointed)
      .foreach(_.unpersist(blocking = true))
}
