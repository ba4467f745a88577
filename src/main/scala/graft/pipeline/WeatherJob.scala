package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

/** The init pipeline's weather leg: nested-JSON scan → in-engine flatten →
  * fixed column drops → date cast → missing profile → sparse-column drop →
  * repartition → parquet overwrite.
  * Reference: airflow/dags/scripts/init-data-transformation.py:48-92, plus
  * the Python pre-flattener at init_0_ingestion_to_s3_dag.py:41-55 that we
  * replace with `multiLine` + `explode($"days")` (SURVEY.md §2.1 S3).
  */
object WeatherJob {

  /** S2+S3: read the RAW nested file and flatten the `days` array in-engine.
    * One generator (explode) per input row — no Python pre-pass, no second
    * file write. `multiLine` is required: the root is one JSON object, not
    * JSON-lines. */
  def readNested(spark: SparkSession, path: String, root: StructType): DataFrame =
    spark.read.option("multiLine", true).schema(root).json(path)
      .select(explode(col("days")).as("d"))
      .select("d.*")

  /** P2: the fixed 12-column drop (columns the warehouse schema never uses).
    * Reference: init-data-transformation.py:55-56. */
  def dropUnneeded(df: DataFrame): DataFrame =
    df.drop("cloudcover", "conditions", "datetimeEpoch", "description", "dew",
      "icon", "precipcover", "preciptype", "source", "stations",
      "sunriseEpoch", "sunsetEpoch")

  /** P1+P3: rename `datetime` → weather_date and cast to DATE
    * (reference: init-data-transformation.py:59-61). */
  def renameCastDate(df: DataFrame): DataFrame =
    df.withColumnRenamed("datetime", "weather_date")
      .withColumn("weather_date", col("weather_date").cast(DateType))

  /** A2: per-column missing-value RATIO (count(miss)/count(*)) in one pass,
    * excluding the key column. Reference: init-data-transformation.py:76. */
  def missingRatios(df: DataFrame, exclude: Set[String] = Set("weather_date")): DataFrame =
    df.select(df.columns.toSeq.filterNot(exclude).map { c =>
      (count(when(Schemas.missing(df, c), lit(1))) / count(lit(1))).as(s"${c}_missing_ratio")
    }: _*)

  /** P2 (data-driven variant): drop every column whose missing ratio exceeds
    * `threshold`. The reference eyeballs the profile and hardcodes the drop
    * list (precipprob/snow/snowdepth, init-data-transformation.py:82); we
    * compute it — the collect is ONE row of ratios (driver-side cost is
    * O(columns), independent of table size). */
  def dropSparse(df: DataFrame, threshold: Double = 0.7,
                 exclude: Set[String] = Set("weather_date")): DataFrame = {
    val ratios = missingRatios(df, exclude).head()
    val sparse = ratios.schema.fieldNames.zipWithIndex.collect {
      case (name, i) if !ratios.isNullAt(i) && ratios.getDouble(i) > threshold =>
        name.stripSuffix("_missing_ratio")
    }
    df.drop(sparse.toSeq: _*)
  }

  /** F4/P2: membership-driven schema guard — the `severerisk` drift column is
    * dropped only if this vintage of the file has it
    * (reference: init-data-transformation.py:84-85). */
  def dropIfPresent(df: DataFrame, column: String): DataFrame =
    if (df.columns.contains(column)) df.drop(column) else df

  /** The full leg. `repartition(10)` mirrors the reference's write-parallelism
    * control (P7, init-data-transformation.py:90) — a round-robin shuffle
    * sizing the output files; at 100 TB the count would be derived from
    * target file size, not fixed. */
  def run(spark: SparkSession, path: String, root: StructType): DataFrame = {
    val clean = renameCastDate(dropUnneeded(readNested(spark, path, root)))
    dropIfPresent(dropSparse(clean), "severerisk").repartition(10)
  }
}
