package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.app.StarSchema
import graft.pipeline.{JourneyJob, Schemas}
import graft.sources.Materialized

/** End-to-end star-schema queries: the warehouse is BUILT (init + two
  * weekly increments, real `Sinks` writes to a temp dir) and the queries
  * run over the WRITTEN parquet tables — so these entries verify the whole
  * materialization chain (transform → partitioned upsert → read-back →
  * dashboard), not just the transforms. The DuckDB oracles recompute the
  * same results straight from the raw CSV/JSON fixtures: any divergence
  * anywhere in the write path (lost rows, double merges, partition damage,
  * schema drift) breaks the hash match. */
object StarQueries {

  private val fx = "/root/repo/fixtures"

  /** Build the fixture warehouse once per JVM: init (stations + weather
    * vintage A), then the journey fixture as TWO weekly batches split at
    * 2021-01-25 — multi-batch incremental merge is the semantics under
    * test (a single batch would never exercise merge-into-existing). */
  private def warehouse(spark: SparkSession): String =
    Materialized.dir("star", perPass = false) { w =>
      StarSchema.init(spark, w, s"$fx/stations.csv", s"$fx/weather_v1.json",
        Schemas.weatherRoot(withSevererisk = true))
      val journey = JourneyJob.transform(spark, s"$fx/journey.csv")
      val cut = to_date(lit("2021-01-25"))
      StarSchema.weekly(spark, w, journey.filter(col("weather_date") < cut))
      StarSchema.weekly(spark, w, journey.filter(col("weather_date") >= cut))
    }

  /** Top-10 stations by NAME over the written star schema (the dashboard's
    * headline chart), dim_station role-played for both endpoints. */
  def q44RidesByStation(s: SparkSession, dir: String): DataFrame =
    StarSchema.ridesByStation(s, warehouse(s), k = 10)

  /** PK/FK validation counts over the written star schema — all zero on a
    * correctly-merged warehouse. */
  def q45Integrity(s: SparkSession, dir: String): DataFrame =
    StarSchema.integrityReport(s, warehouse(s))

  /** Rides per hour served from the star schema: fact ⋈ dim_datetime
    * (start-date role) — the reference dashboard's actual join shape. */
  def q57RidesPerHour(s: SparkSession, dir: String): DataFrame =
    StarSchema.ridesPerHour(s, warehouse(s))

  /** Rides per weekday served from the star schema: fact ⋈ dim_datetime
    * (start-date role) grouped on the dim's week_day — the third of the
    * reference dashboard's four charts. */
  def q67RidesPerWeekday(s: SparkSession, dir: String): DataFrame =
    StarSchema.ridesPerWeekday(s, warehouse(s))

  /** Daily ride trend served from the star schema via the dim's
    * (year, month, day) parts — the fourth dashboard chart. */
  def q68DailyTrend(s: SparkSession, dir: String): DataFrame =
    StarSchema.ridesDailyTrend(s, warehouse(s))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q44_rides_by_station" -> (q44RidesByStation _),
    "q45_integrity" -> (q45Integrity _),
    "q57_rides_per_hour_star" -> (q57RidesPerHour _),
    "q67_rides_per_weekday_star" -> (q67RidesPerWeekday _),
    "q68_daily_trend_star" -> (q68DailyTrend _),
    "q115_dpp_hot_days" -> (q115DppHotDays _))

  // ------------------------------------------------------------- oracles

  private val journeyCsvCols =
    """{'Rental Id':'INTEGER','Duration':'INTEGER','Bike Id':'INTEGER',
      |'End Date':'VARCHAR','EndStation Id':'INTEGER','EndStation Name':'VARCHAR',
      |'Start Date':'VARCHAR','StartStation Id':'INTEGER','StartStation Name':'VARCHAR'}""".stripMargin
  private val stationsCsvCols =
    """{'Station.Id':'INTEGER','StationName':'VARCHAR','longitude':'DOUBLE',
      |'latitude':'DOUBLE','Easting':'DOUBLE','Northing':'DOUBLE'}""".stripMargin

  /** CTEs reconstructing the warehouse tables from the raw fixtures —
    * mirrors of what init + the weekly merges MATERIALIZE. `new_stations`
    * mirrors JourneyJob.newStations incl. its deterministic name-dedup. */
  private val warehouseCtes =
    s"""journey AS (
       |  SELECT * FROM read_csv('$fx/journey.csv', header=true, columns=$journeyCsvCols)),
       |fact AS (
       |  SELECT "Rental Id" AS rental_id,
       |    strptime("Start Date", '%d/%m/%Y %H:%M') AS start_date,
       |    strptime("End Date", '%d/%m/%Y %H:%M') AS end_date,
       |    "StartStation Id" AS start_station, "EndStation Id" AS end_station,
       |    CAST(strptime("Start Date", '%d/%m/%Y %H:%M') AS DATE) AS weather_date
       |  FROM journey),
       |stations AS (
       |  SELECT "Station.Id" AS station_id, "StationName" AS station_name
       |  FROM read_csv('$fx/stations.csv', header=true, columns=$stationsCsvCols)),
       |new_stations AS (
       |  SELECT station_id, station_name FROM (
       |    SELECT DISTINCT "StartStation Id" AS station_id,
       |           "StartStation Name" AS station_name
       |    FROM journey WHERE "StartStation Id" NOT IN (SELECT station_id FROM stations)
       |    UNION
       |    SELECT DISTINCT "EndStation Id", "EndStation Name"
       |    FROM journey WHERE "EndStation Id" NOT IN (SELECT station_id FROM stations))
       |  QUALIFY row_number() OVER (PARTITION BY station_id ORDER BY station_name) = 1),
       |dim_station AS (
       |  SELECT * FROM stations UNION ALL SELECT * FROM new_stations),
       |dim_datetime AS (
       |  SELECT start_date AS datetime_id FROM fact
       |  UNION SELECT end_date FROM fact),
       |dim_weather AS (
       |  SELECT CAST(d."datetime" AS DATE) AS weather_date
       |  FROM (SELECT unnest(days) AS d
       |        FROM read_json('$fx/weather_v1.json',
       |          columns={'days': 'STRUCT("datetime" VARCHAR)[]'})))""".stripMargin

  /** q115: DYNAMIC PARTITION PRUNING over the written star — rides per
    * warm day, fact ⋈ dim_weather on the fact's PARTITION column with a
    * selective dim filter. The fact is date-partitioned
    * ([[StarSchema.weekly]] / `Sinks.upsertPartitioned`), so Catalyst
    * plants a dynamic-pruning subquery on the fact scan: only partitions
    * whose dates survive the dim filter are read at all — at 100 TB the
    * difference between scanning 7 warm days and the whole history (the
    * ScaleQueriesSpec asserts `dynamicpruning` in the scan's partition
    * filters). The oracle recomputes from raw fixtures, so the WRITTEN
    * partition layout is what's under test. */
  def q115DppHotDays(s: SparkSession, dir: String): DataFrame = {
    val w = warehouse(s)
    val fact = s.read.parquet(StarSchema.factJourney(w))
    val warm = s.read.parquet(StarSchema.dimWeather(w))
      .filter(col("tempmax") > lit(10.0)).select("weather_date")
    fact.join(warm, "weather_date")
      .groupBy(col("weather_date").cast("string").as("weather_date"))
      .agg(count(lit(1)).as("n_rides"))
  }

  val oracles: Map[String, String] = Map(
    "q115_dpp_hot_days" ->
      s"""WITH $warehouseCtes,
         |warm AS (
         |  SELECT CAST(d."datetime" AS DATE) AS weather_date
         |  FROM (SELECT unnest(days) AS d
         |        FROM read_json('$fx/weather_v1.json',
         |          columns={'days': 'STRUCT("datetime" VARCHAR, tempmax DOUBLE)[]'}))
         |  WHERE d.tempmax > 10)
         |SELECT CAST(f.weather_date AS VARCHAR) AS weather_date, count(*) AS n_rides
         |FROM fact f JOIN warm USING (weather_date)
         |GROUP BY 1""".stripMargin,
    "q44_rides_by_station" ->
      s"""WITH $warehouseCtes,
         |roles AS (
         |  SELECT start_station AS station_id, 1 AS is_start FROM fact
         |  UNION ALL
         |  SELECT end_station, 0 FROM fact)
         |SELECT coalesce(s.station_name, 'Unknown') AS station_name,
         |  CAST(sum(r.is_start) AS BIGINT) AS n_starts,
         |  CAST(sum(1 - r.is_start) AS BIGINT) AS n_ends,
         |  count(*) AS n_rides
         |FROM roles r JOIN dim_station s USING (station_id)
         |GROUP BY 1
         |ORDER BY n_rides DESC, station_name ASC
         |LIMIT 10""".stripMargin,
    // the oracle joins through the dim exactly as the engine does (not a
    // shortcut hour(start_date) scan) so the dim's correctness is load-bearing
    "q57_rides_per_hour_star" ->
      s"""WITH $warehouseCtes,
         |dim_dt AS (
         |  SELECT datetime_id, CAST(hour(datetime_id) AS INT) AS hour
         |  FROM dim_datetime)
         |SELECT d.hour, count(*) AS n_rides
         |FROM fact f JOIN dim_dt d ON f.start_date = d.datetime_id
         |GROUP BY d.hour""".stripMargin,
    // like q57: the oracle joins through the recomputed dim so the WRITTEN
    // dim's weekday attribute is what's under test (DuckDB dayofweek is
    // 0=Sunday; Spark's is 1=Sunday -> +1)
    "q67_rides_per_weekday_star" ->
      s"""WITH $warehouseCtes,
         |dim_dt AS (
         |  SELECT datetime_id, CAST(dayofweek(datetime_id) + 1 AS INT) AS week_day
         |  FROM dim_datetime)
         |SELECT d.week_day, count(*) AS n_rides
         |FROM fact f JOIN dim_dt d ON f.start_date = d.datetime_id
         |GROUP BY d.week_day""".stripMargin,
    "q68_daily_trend_star" ->
      s"""WITH $warehouseCtes,
         |dim_dt AS (
         |  SELECT datetime_id, CAST(year(datetime_id) AS INT) AS year,
         |    CAST(month(datetime_id) AS INT) AS month,
         |    CAST(dayofmonth(datetime_id) AS INT) AS day
         |  FROM dim_datetime)
         |SELECT d.year, d.month, d.day, count(*) AS n_rides
         |FROM fact f JOIN dim_dt d ON f.start_date = d.datetime_id
         |GROUP BY d.year, d.month, d.day""".stripMargin,
    "q45_integrity" ->
      s"""WITH $warehouseCtes
         |SELECT
         |  (SELECT count(*) - count(DISTINCT rental_id) FROM fact) AS dup_rental_id,
         |  (SELECT count(*) - count(DISTINCT station_id) FROM dim_station) AS dup_station_id,
         |  (SELECT count(*) - count(DISTINCT weather_date) FROM dim_weather) AS dup_weather_date,
         |  (SELECT count(*) - count(DISTINCT datetime_id) FROM dim_datetime) AS dup_datetime_id,
         |  -- NOT EXISTS with an IS NOT NULL guard, NOT `NOT IN`: the engine's
         |  -- left_anti runs over non-null fks only, and NOT IN would return
         |  -- zero rows for EVERY fk if a dim ever held a NULL key
         |  (SELECT count(*) FROM fact f WHERE f.start_station IS NOT NULL AND NOT EXISTS
         |    (SELECT 1 FROM dim_station s WHERE s.station_id = f.start_station)) AS orphan_start_station,
         |  (SELECT count(*) FROM fact f WHERE f.end_station IS NOT NULL AND NOT EXISTS
         |    (SELECT 1 FROM dim_station s WHERE s.station_id = f.end_station)) AS orphan_end_station,
         |  (SELECT count(*) FROM fact f WHERE f.start_date IS NOT NULL AND NOT EXISTS
         |    (SELECT 1 FROM dim_datetime d WHERE d.datetime_id = f.start_date)) AS orphan_start_date,
         |  (SELECT count(*) FROM fact f WHERE f.end_date IS NOT NULL AND NOT EXISTS
         |    (SELECT 1 FROM dim_datetime d WHERE d.datetime_id = f.end_date)) AS orphan_end_date,
         |  (SELECT count(*) FROM fact f WHERE f.weather_date IS NOT NULL AND NOT EXISTS
         |    (SELECT 1 FROM dim_weather w WHERE w.weather_date = f.weather_date)) AS orphan_weather_date""".stripMargin)
}
