package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * All reads use the parquet footer schema directly (no inference pass — the
  * reference re-infers on every read, an extra full scan we deliberately avoid;
  * see SURVEY.md §4 "Schema inference cost",
  * reference: airflow/dags/scripts/journey-data-transformation.py:28).
  */
object Tables {

  /** The checkout's committed `fixtures/` directory: the nearest ancestor
    * of this library's compiled classes (`<checkout>/target/...` under
    * sbt) that holds one, so a second checkout reads its own fixtures.
    * Resolved once, on first use; fails loudly when no ancestor has one. */
  lazy val fixtureDir: String = {
    val classes = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).toAbsolutePath
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("fixtures")).find(java.nio.file.Files.isDirectory(_))
      .map(_.toString)
      .getOrElse(sys.error(s"no fixtures/ directory in any ancestor of $classes"))
  }

  /** Columns the parquet footer declares as TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects. Discovered by inspecting the footer of one
    * file (a metadata-only read), NOT hardcoded per table — any nano-precision
    * column in any table gets the same treatment instead of silently surfacing
    * as a raw LongType. Cached per path: footers are immutable test data.
    */
  private val nanoColsCache = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def nanoTimestampColumns(spark: SparkSession, path: String): Seq[String] =
    nanoColsCache.computeIfAbsent(path, { p =>
      val conf = spark.sessionState.newHadoopConf()
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(hp).isDirectory)
          fs.listStatus(hp).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
        else hp
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq.collect {
          case f if f.isPrimitive &&
            (f.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
              case _ => false
            }) => f.getName
        }
      } finally reader.close()
    })

  /** Nano-timestamp columns are read as raw longs
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncated to Spark's
    * microsecond precision with INTEGER division — NOT `/ 1000` (double
    * division loses integer precision above 2^53; epoch-nanos is ~1.7e18).
    * Session timezone is pinned to UTC here as well: hour()/to_date() on
    * timestamps are session-tz-dependent in Spark while the DuckDB oracle
    * treats parquet timestamps as naive wall-clock.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    normalizeTimestamps(spark.read.parquet(path), nanoTimestampColumns(spark, path))
  }

  /** The single owner of "a fixture timestamp column becomes a usable
    * Spark `TimestampType`", whatever precision the parquet writer chose:
    *
    *  - TIMESTAMP(NANOS) footers surface as raw `LongType` (nanosAsLong)
    *    and are integer-truncated to micros;
    *  - TIMESTAMP(MICROS) without isAdjustedToUTC surfaces as
    *    `TimestampNTZType`, which `unix_micros` / timestamp-vs-bigint
    *    arithmetic reject — cast to `TimestampType`. With the session tz
    *    pinned UTC this is a value-identity relabel, matching the DuckDB
    *    oracle's naive-wall-clock reading;
    *  - already-`TimestampType` columns pass through untouched.
    *
    * Downstream operators (range join, sessionize, streaming windows) may
    * then assume `TimestampType` unconditionally. */
  def normalizeTimestamps(df: DataFrame, nanoCols: Seq[String]): DataFrame = {
    val folded = nanoCols
      .filter(c => df.schema(c).dataType == LongType)
      .foldLeft(df)((d, c) => d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000"))))
    folded.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(folded)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** Streaming twin of [[load]]: a file-source stream over
    * `dir/name.parquet` with the SAME footer-sniffed timestamp
    * normalization — the r8 regression was exactly these readers
    * bypassing the adaptive batch path with a hardcoded nanos contract.
    * The file source needs an explicit schema (no streaming inference)
    * and a glob rather than a bare file path. */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    val rawSchema = spark.read.parquet(path).schema
    val stream = spark.readStream.schema(rawSchema).parquet(s"$dir/$name.*")
    normalizeTimestamps(stream, nanoTimestampColumns(spark, path))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = scaleOut(load(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame = scaleOut(load(spark, dir, "embeddings"))

  /** Scale-out guard for compute-heavy corpus scans (SURVEY.md §2 P7): the
    * harness documents/embeddings files are single-row-group parquet — ONE
    * scan split — which would serialize the whole per-row pipeline
    * (shingling, signatures, cosines) on one core of local[32]. When the
    * scan yields fewer splits than cores, round-robin repartition to
    * defaultParallelism; at real scale (100 TB ⇒ ~10⁵ splits) the guard is
    * a no-op and costs nothing. */
  def scaleOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
