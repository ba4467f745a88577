package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The init pipeline's stations leg: CSV scan → bulk rename → missing-value
  * profile → parquet overwrite.
  * Reference: airflow/dags/scripts/init-data-transformation.py:23-43.
  * Every stage is a pure DataFrame => DataFrame (testable without I/O).
  */
object StationsJob {

  /** S1: CSV scan with header + explicit schema (the reference infers). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).schema(Schemas.stationsRaw).csv(path)

  /** P1: bulk rename incl. the dotted `Station.Id` header —
    * `withColumnRenamed` matches the literal name (a `col("Station.Id")`
    * would parse the dot as a struct accessor). All columns are lowercased
    * to the warehouse names (CyclingERD.sql:16-23). */
  def rename(df: DataFrame): DataFrame =
    df.withColumnRenamed("Station.Id", "station_id")
      .withColumnRenamed("StationName", "station_name")
      .withColumnRenamed("Easting", "easting")
      .withColumnRenamed("Northing", "northing")

  /** A1/F1/F2: single-pass missing-value profile — one wide conditional
    * aggregate, partial-aggregation friendly (one row out, no grouping keys;
    * at 100 TB this is one map-side pass + a 1-row reduce).
    * `isnan` is restricted to floating columns (it is undefined elsewhere);
    * the counted expression is `lit(1)` so NULLs are actually counted
    * (reference has the count(NULL-column) bug at init-data-transformation.py:41). */
  def missingProfile(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map { c =>
      count(when(Schemas.missing(df, c), lit(1))).as(s"${c}_missing")
    } :+ count(lit(1)).as("total"): _*)

  /** The full leg (read → rename), ready for a sink. */
  def run(spark: SparkSession, path: String): DataFrame = rename(read(spark, path))
}
