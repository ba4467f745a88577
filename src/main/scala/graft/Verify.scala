package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Returns Some(message) if any timestamp column in the written result
    * parquet holds a value past 2262-04-11 — the int64-nanosecond horizon
    * beyond which Arrow-based readers (the driver's hash path) silently
    * wrap. Reading the artifact back is cheap at verify scale and checks
    * the bytes that will actually be hashed. */
  def nsHorizonViolation(spark: SparkSession, path: String): Option[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    val written = spark.read.parquet(path)
    val tsCols = written.schema.fields.collect {
      case f if f.dataType == TimestampType || f.dataType == TimestampNTZType => f.name
    }.toSeq
    if (tsCols.isEmpty) None
    else {
      // exact int64-ns horizon (2^63-1 ns = 2262-04-11T23:47:16.854775Z);
      // micros precision truncates the final .807 ns — still exact for
      // every representable Spark TIMESTAMP (micros) value.
      val horizon = lit("2262-04-11 23:47:16.854775")
      val pred = tsCols.map(c => col(c) > horizon.cast(written.schema(c).dataType))
        .reduce(_ || _)
      val nBad = written.filter(pred).count()
      if (nBad == 0) None
      else Some(s"ns-portability: $nBad rows carry a timestamp beyond 2262-04-11 " +
        s"(the int64-ns horizon; wraps under Arrow readers) in [${tsCols.mkString(",")}] " +
        "— use an ns-representable sentinel, DATE, or a formatted string")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg (dev runs only; the driver passes two): a
    // comma-separated allowlist of query names to dump
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // Unknown names in the allowlist must FAIL LOUDLY (r13 judge finding:
    // a `q44_star_schema` typo was silently skipped and the run still
    // printed "all dumped queries succeeded" — a gate invocation typo
    // would produce a false "verified" impression). Exit nonzero BEFORE
    // starting Spark so the mistake can't be buried under job logs.
    only.foreach { names =>
      val unknown = (names -- SparkEntry.queries.keySet).toSeq.sorted
      if (unknown.nonEmpty) {
        System.err.println(
          s"[verify] UNKNOWN query name(s): ${unknown.mkString(", ")} — " +
          "not in SparkEntry.queries; check spelling against the registry")
        sys.exit(2)
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // catalog-managed tables (bucketed joins) go to a throwaway dir
      .config("spark.sql.warehouse.dir",
        graft.sources.Materialized.tempRoot("graft-verify-wh"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must be LOUD, not silently absent: r8 had six
    // analysis-time failures that were invisible in the correctness file
    // because they were merely stderr-logged and omitted. Collect every
    // failure and publish it as outDir/errors.json ({name: message}), so
    // the dump's key set + errors.json always covers SparkEntry.queries.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // ns-portability guard (round-11 judge finding): int64 NANOSECONDS
        // — the parquet/Arrow decode path the driver's hash read uses —
        // only reach 2262-04-11; a timestamp beyond that (e.g. a
        // 9999-12-31 SCD2 sentinel) silently WRAPS to garbage under an
        // ns reader while DuckDB yields the true value, so rows/schema
        // match but the hash doesn't. Scan the WRITTEN artifact (not the
        // plan) so whatever representation actually hit disk is what's
        // checked, and fail the query loudly here rather than in the
        // driver's opaque hash row.
        nsHorizonViolation(spark, s"$outDir/$name").foreach(errors(name) = _)
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        errors(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dev targeted runs (third arg) restrict the oracle dump to the same
    // allowlist so check.py reports exactly the targeted subset; the
    // driver always passes two args and gets the full map
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty) {
      println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: " +
        errors.keys.mkString(", "))
    } else println("[verify] all dumped queries succeeded")
    spark.stop()
  }
}
