package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  * {{{
  * perfbench.Main --workload <star_weekly|engine_ops>
  *   --seed <n> --seconds <n> --trace <0|1>
  *   --work <dir> --result <file> --trace-out <file> --data <dir>
  *   [--untraced-batch-s <s>]
  * }}}
  *
  * Writes one JSON object to `--result`: `correct`, `attempted`, `failed`
  * and `metrics`. Untraced runs report the end-to-end metrics; traced runs
  * report the per-layer metrics and write every span to `--trace-out`. A
  * traced run's `trace_overhead_s` is its batch median minus
  * `--untraced-batch-s`, the median `batch_s` of untraced runs of the same
  * workload.
  */
object Main {
  val Workloads = Seq("star_weekly", "engine_ops")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(arg("workload"), arg("seed").toLong, arg("seconds").toInt, arg("trace") == "1",
      Paths.get(arg("work")).toAbsolutePath, Paths.get(arg("trace-out")).toAbsolutePath,
      Paths.get(arg("data")).toAbsolutePath, kv.get("untraced-batch-s").map(_.toDouble))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val result = Paths.get(arg("result"))
    Util.deleteTree(o.work)
    Files.createDirectories(o.work)

    val t0 = System.nanoTime()
    val spark = session(o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val w: Workload = o.workload match {
        case "star_weekly" => new StarWeekly(spark, o)
        case "engine_ops" => new EngineOps(spark, o)
      }
      w.log(s"workload ${o.workload} seed ${o.seed} seconds ${o.seconds} trace ${if (o.trace) 1 else 0}")
      w.setup()
      val setupS = (System.nanoTime() - t0) / 1e9
      w.log(f"set-up $setupS%.3f s (session start $sessionS%.2f s)")
      w.runTimed()
      val heapMb = Util.retainedHeapMb()
      val metrics =
        if (!o.trace) w.endToEnd(setupS, heapMb)
        else {
          val spans = w.tracer.measure()
          val traced = Workload.medianOr0(w.batches.toSeq)
          val overhead = o.untracedBatchS.fold(0.0)(traced - _)
          w.log(f"traced batch median $traced%.4f s; tracing overhead $overhead%.4f s " +
            s"(minus the untraced batch_s ${o.untracedBatchS.getOrElse("unknown")})")
          val values = w.perLayer(spans) ++ Workload.layerTimes(spans) + ("trace_overhead_s" -> overhead)
          writeTrace(o, spans, w.info.toSeq)
          Workload.PerLayerNames.map(n => (n, values.getOrElse(n, 0.0), Workload.unitOf(n)))
        }
      val correct = w.checksOk && w.failed == 0
      val json = Util.jobj(Seq(
        "correct" -> correct.toString,
        "attempted" -> w.attempted.toString,
        "failed" -> w.failed.toString,
        "metrics" -> Util.jobj(metrics.map { case (n, v, u) =>
          n -> Util.jobj(Seq("value" -> Util.jnum(v), "unit" -> Util.jstr(u)))
        })))
      Files.writeString(result, json)
    } finally {
      spark.stop()
      Util.deleteTree(o.work)
    }
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Every span with its layer counters, attributions and plan hashes,
    * written once at the end of a traced run. */
  def writeTrace(o: Opts, spans: Seq[Trace.SpanMetrics], info: Seq[String]): Unit = {
    import Util._
    val items = spans.map { m =>
      jobj(Seq(
        "kind" -> jstr(m.span.kind), "function" -> jstr(m.span.function),
        "wall_s" -> jnum(m.span.wallS), "jobs" -> jnum(m.jobs), "stages" -> jnum(m.stages),
        "tasks" -> jnum(m.tasks.toDouble), "task_s" -> jnum(m.taskS), "gc_s" -> jnum(m.gcS),
        "plan_s" -> jnum(m.planS), "driver_s" -> jnum(m.driverS),
        "scan_bytes" -> jnum(m.scanBytes.toDouble), "csv_bytes" -> jnum(m.csvBytes.toDouble),
        "shuffle_bytes" -> jnum(m.shuffleBytes.toDouble), "spill_bytes" -> jnum(m.spillBytes.toDouble),
        "bytes_written" -> jnum(m.bytesWritten.toDouble), "files_read" -> jnum(m.filesRead.toDouble),
        "skew" -> jnum(m.skew),
        "job_s_by_call_site" -> jobj(m.byFunction.toSeq.sortBy(_._1).map { case (k, v) => k -> jnum(v) }),
        "plan_hashes" -> jarr(m.planHashes.map(jstr))))
    }
    Files.createDirectories(o.traceOut.getParent)
    Files.writeString(o.traceOut, jobj(Seq(
      "workload" -> jstr(o.workload), "seed" -> jnum(o.seed.toDouble),
      "log" -> jarr(info.map(jstr)), "spans" -> jarr(items))))
  }
}
