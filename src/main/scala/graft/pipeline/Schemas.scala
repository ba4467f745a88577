package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, isnan}
import org.apache.spark.sql.types._

/** Explicit StructType constants for the three raw inputs (SURVEY.md §1.3).
  *
  * The reference infers schema on every read (`inferSchema=True`,
  * reference: airflow/dags/scripts/journey-data-transformation.py:28,
  * init-data-transformation.py:23,48) — an extra full scan per read and a
  * source of drift (`precipprob` inferred string in one vintage, double in
  * another). We declare the schemas once; at 100 TB the saved inference scan
  * alone pays for the boilerplate.
  */
object Schemas {

  /** The missing-value predicate of column `c` of `df`, behind both
    * missing-value profiles ([[StationsJob.missingProfile]],
    * [[WeatherJob.missingRatios]]): NULL, or NaN too for a floating
    * column (`isnan` is undefined elsewhere). */
  def missing(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case DoubleType | FloatType => isnan(col(c)) || col(c).isNull
    case _ => col(c).isNull
  }

  /** Journey CSV: 9 columns, header names contain SPACES (kept verbatim here;
    * JourneyJob.rename normalizes them). Dates are `dd/MM/yyyy HH:mm` strings.
    * Reference: notebook journey-data-transformation.ipynb @ 9ef2dc88. */
  val journeyRaw: StructType = StructType(Seq(
    StructField("Rental Id", IntegerType),
    StructField("Duration", IntegerType),
    StructField("Bike Id", IntegerType),
    StructField("End Date", StringType),
    StructField("EndStation Id", IntegerType),
    StructField("EndStation Name", StringType),
    StructField("Start Date", StringType),
    StructField("StartStation Id", IntegerType),
    StructField("StartStation Name", StringType)))

  /** Stations CSV: note the DOTTED first header `Station.Id` (needs
    * `withColumnRenamed`, not `col()`, to address). Reference:
    * init-data-transformation.ipynb @ 4533a36e. */
  val stationsRaw: StructType = StructType(Seq(
    StructField("Station.Id", IntegerType),
    StructField("StationName", StringType),
    StructField("longitude", DoubleType),
    StructField("latitude", DoubleType),
    StructField("Easting", DoubleType),
    StructField("Northing", DoubleType)))

  /** One element of the weather `days` array (~36 fields; full list at
    * reference notebook experiment.ipynb @ 5474298d). `severerisk` is the
    * documented schema drift: present in one vintage of the file, absent in
    * another (reference: init-data-transformation.py:84-85) — callers pick
    * the vintage. */
  def weatherDay(withSevererisk: Boolean): StructType = {
    val base = Seq(
      StructField("datetime", StringType),
      StructField("datetimeEpoch", LongType),
      StructField("tempmax", DoubleType),
      StructField("tempmin", DoubleType),
      StructField("temp", DoubleType),
      StructField("feelslikemax", DoubleType),
      StructField("feelslikemin", DoubleType),
      StructField("feelslike", DoubleType),
      StructField("dew", DoubleType),
      StructField("humidity", DoubleType),
      StructField("precip", DoubleType),
      StructField("precipprob", DoubleType),
      StructField("precipcover", DoubleType),
      StructField("preciptype", ArrayType(StringType)),
      StructField("snow", DoubleType),
      StructField("snowdepth", DoubleType),
      StructField("windgust", DoubleType),
      StructField("windspeed", DoubleType),
      StructField("winddir", DoubleType),
      StructField("pressure", DoubleType),
      StructField("cloudcover", DoubleType),
      StructField("visibility", DoubleType),
      StructField("solarradiation", DoubleType),
      StructField("solarenergy", DoubleType),
      StructField("uvindex", DoubleType),
      StructField("sunrise", StringType),
      StructField("sunriseEpoch", LongType),
      StructField("sunset", StringType),
      StructField("sunsetEpoch", LongType),
      StructField("moonphase", DoubleType),
      StructField("conditions", StringType),
      StructField("description", StringType),
      StructField("icon", StringType),
      StructField("stations", ArrayType(StringType)),
      StructField("source", StringType),
      StructField("tzoffset", DoubleType))
    StructType(if (withSevererisk) base :+ StructField("severerisk", DoubleType) else base)
  }

  /** The RAW weather file: a nested root object (metadata + `days` array of
    * structs). The reference pre-flattens this in Python before Spark ever
    * sees it (reference: airflow/dags/init_0_ingestion_to_s3_dag.py:41-55);
    * we read the nested form directly in-engine (SURVEY.md §2.1 S3). */
  def weatherRoot(withSevererisk: Boolean): StructType = StructType(Seq(
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("resolvedAddress", StringType),
    StructField("address", StringType),
    StructField("timezone", StringType),
    StructField("days", ArrayType(weatherDay(withSevererisk)))))
}
