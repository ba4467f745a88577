package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.operators.Upsert

/** The weekly journey pipeline: CSV scan → rename → timestamp parse →
  * weather_date → (new-stations anti-join leg | datetime-dim leg | fact leg).
  * Reference: airflow/dags/scripts/journey-data-transformation.py:28-160;
  * dataflow DAG in SURVEY.md §3.2. Pure DataFrame => DataFrame stages.
  */
object JourneyJob {

  /** S1: CSV scan, header + explicit schema, glob-able path (the reference
    * reads `raw/cycling-journey/<asterisk>/<asterisk>` across monthly folders —
    * Spark's csv() accepts the same globs natively). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).schema(Schemas.journeyRaw).csv(path)

  /** P1: the 6-column bulk rename (space-named headers → snake_case).
    * Reference: journey-data-transformation.py:38. The two station-NAME
    * columns keep their raw names — the new-stations SQL addresses them with
    * backticks, exactly as the reference does. */
  def rename(df: DataFrame): DataFrame =
    df.withColumnRenamed("Rental Id", "rental_id")
      .withColumnRenamed("Bike Id", "bike_id")
      .withColumnRenamed("Start Date", "start_date")
      .withColumnRenamed("End Date", "end_date")
      .withColumnRenamed("StartStation Id", "start_station")
      .withColumnRenamed("EndStation Id", "end_station")

  /** P3: string → timestamp with the reference's EXACT pattern — including
    * the 3-`y` `dd/MM/yyy HH:mm` (journey-data-transformation.py:41-43).
    * Java-time parses 4-digit years under `yyy` fine; changing the pattern
    * would be a silent behavioral divergence. Minute precision: `second` is
    * always 0 downstream (SURVEY.md §7.5 #4). */
  def parseTimestamps(df: DataFrame): DataFrame =
    df.withColumn("start_date", to_timestamp(col("start_date"), "dd/MM/yyy HH:mm"))
      .withColumn("end_date", to_timestamp(col("end_date"), "dd/MM/yyy HH:mm"))

  /** P4: derived equi-join key to the daily weather dim
    * (journey-data-transformation.py:46). */
  def withWeatherDate(df: DataFrame): DataFrame =
    df.withColumn("weather_date", to_date(col("start_date")))

  /** J1/F3 + P5 + A3/A4 + U1 + §2.10: the new-stations discovery — the one
    * SQL block in the reference, ported verbatim in shape: temp views, CTE,
    * `NOT IN (TABLE station_ids)`, backtick-quoted space names, DISTINCT,
    * deduplicating UNION (journey-data-transformation.py:60-90). NOT IN's
    * null-aware anti join is safe HERE because the subquery is the stations
    * dim — genuinely bounded (~800 rows at any scale) and non-null-keyed;
    * Catalyst broadcasts it. Late stations get lit(0) placeholder coords
    * (P5, :95) and a DETERMINISTIC key-dedup replaces the reference's
    * arbitrary dropDuplicates (:102; SURVEY.md §7.5 #2).
    */
  def newStations(spark: SparkSession, journey: DataFrame, stations: DataFrame): DataFrame = {
    journey.createOrReplaceTempView("journey")
    stations.createOrReplaceTempView("station")
    val additional = spark.sql(
      """WITH station_ids AS (
        |    SELECT station_id FROM station
        |)
        |SELECT DISTINCT start_station AS station_id,
        |       `StartStation Name` AS station_name
        |FROM journey
        |WHERE start_station NOT IN (TABLE station_ids)
        |
        |UNION
        |
        |SELECT DISTINCT end_station AS station_id,
        |       `EndStation Name` AS station_name
        |FROM journey
        |WHERE end_station NOT IN (TABLE station_ids)""".stripMargin)
      .withColumn("longitude", lit(0).cast(DoubleType))
      .withColumn("latitude", lit(0).cast(DoubleType))
      .withColumn("easting", lit(0).cast(DoubleType))
      .withColumn("northing", lit(0).cast(DoubleType))
    Upsert.dedupByKey(additional, Seq("station_id"), Seq("station_name"))
  }

  /** P6 + U2 + A3: the dim_datetime build — 8-part datetime explosion from
    * the start AND end timestamps, positional union, key-dedup
    * (journey-data-transformation.py:117-150). `week_day` keeps Spark's
    * dayofweek numbering 1=Sunday (SURVEY.md §7.5 #3). Rows sharing a
    * datetime_id are bit-identical (all parts are functions of the key), so
    * dropDuplicates is deterministic here. */
  def datetimeDim(journey: DataFrame): DataFrame = {
    def parts(src: String): DataFrame = journey.select(
      col(src).as("datetime_id"),
      year(col(src)).as("year"),
      dayofweek(col(src)).as("week_day"),
      month(col(src)).as("month"),
      dayofmonth(col(src)).as("day"),
      hour(col(src)).as("hour"),
      minute(col(src)).as("minute"),
      second(col(src)).as("second"))
    parts("start_date").union(parts("end_date")).dropDuplicates("datetime_id")
  }

  /** P2: drop the columns the fact table doesn't carry
    * (journey-data-transformation.py:110). */
  def fact(journey: DataFrame): DataFrame =
    journey.drop("StartStation Name", "EndStation Name", "Duration")

  /** read → rename → parse → weather_date: the transformed week. The
    * three legs branch from it; [[graft.app.StarSchema.weekly]] caches it
    * so the CSV is parsed once for all of them. */
  def transform(spark: SparkSession, path: String): DataFrame =
    withWeatherDate(parseTimestamps(rename(read(spark, path))))
}
