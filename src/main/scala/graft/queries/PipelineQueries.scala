package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{JourneyJob, Schemas, StationsJob, WeatherJob}

/** The reference pipeline (SURVEY.md §3.1-§3.2) as oracle-checked queries
  * over the committed fixtures (FIXTURES.md §1-§3, generated by
  * tools/gen_fixtures.py). The DuckDB oracles read the SAME raw CSV/JSON
  * files via read_csv/read_json, so the whole ingestion surface — messy
  * headers, exact-pattern timestamp parse, nested-JSON flatten, schema
  * drift, sparse-column drop — is verified end-to-end, not just the parquet
  * scans. */
object PipelineQueries {

  private def fx = graft.sources.Tables.fixtureDir

  /** Day-struct fields the oracle needs, as a DuckDB STRUCT type string. */
  private def dayStruct(fields: (String, String)*): String =
    fields.map { case (n, t) => s""""$n" $t""" }.mkString("STRUCT(", ", ", ")[]")

  private val journeyCsvCols =
    """{'Rental Id':'INTEGER','Duration':'INTEGER','Bike Id':'INTEGER',
      |'End Date':'VARCHAR','EndStation Id':'INTEGER','EndStation Name':'VARCHAR',
      |'Start Date':'VARCHAR','StartStation Id':'INTEGER','StartStation Name':'VARCHAR'}""".stripMargin
  private val stationsCsvCols =
    """{'Station.Id':'INTEGER','StationName':'VARCHAR','longitude':'DOUBLE',
      |'latitude':'DOUBLE','Easting':'DOUBLE','Northing':'DOUBLE'}""".stripMargin
  /** The DuckDB readers of the raw journey and stations CSVs, typed by
    * the maps above; the star-schema oracles read the same inputs. */
  private[queries] def readJourney =
    s"read_csv('$fx/journey.csv', header=true, columns=$journeyCsvCols)"
  private[queries] def readStations =
    s"read_csv('$fx/stations.csv', header=true, columns=$stationsCsvCols)"

  /** S1+P1+P3+P4+P2: the journey trunk → fact projection. */
  def q20JourneyFact(s: SparkSession, dir: String): DataFrame =
    JourneyJob.fact(JourneyJob.transform(s, s"$fx/journey.csv"))

  /** J1/F3+P5+A3/A4+U1+§2.10: new-stations discovery on the real messy-name
    * input (spaces, `NOT IN (TABLE ...)`, backticks). */
  def q21NewStations(s: SparkSession, dir: String): DataFrame = {
    val journey = JourneyJob.transform(s, s"$fx/journey.csv")
    val stations = StationsJob.run(s, s"$fx/stations.csv")
    JourneyJob.newStations(s, journey, stations)
  }

  /** S2/S3+P2+P3+F4: the weather clean chain on drift vintage A (severerisk
    * present — dropped by the >70%-missing rule). */
  def q22WeatherClean(s: SparkSession, dir: String): DataFrame =
    WeatherJob.run(s, s"$fx/weather_v1.json", Schemas.weatherRoot(withSevererisk = true))

  /** A2: the missing-ratio profile that DRIVES the sparse drop (one wide
    * single-pass aggregate; the decision input for dropSparse). */
  def q23WeatherProfile(s: SparkSession, dir: String): DataFrame = {
    val clean = WeatherJob.renameCastDate(WeatherJob.dropUnneeded(
      WeatherJob.readNested(s, s"$fx/weather_v1.json", Schemas.weatherRoot(withSevererisk = true))))
    WeatherJob.missingRatios(clean)
  }

  /** P6+U2+A3: dim_datetime from the journey fixture — minute-precision
    * input, so `second` is constant 0 (SURVEY.md §7.5 #4). */
  def q24DatetimeDim(s: SparkSession, dir: String): DataFrame =
    JourneyJob.datetimeDim(JourneyJob.transform(s, s"$fx/journey.csv"))

  /** P1 (dotted header) + A1/F1/F2: stations rename + missing profile over
    * data that actually CONTAINS nulls (station 9's name and northing). */
  def q25StationProfile(s: SparkSession, dir: String): DataFrame =
    StationsJob.missingProfile(StationsJob.run(s, s"$fx/stations.csv"))

  /** F4: drift vintage B — no severerisk field at all; the conditional-drop
    * guard takes its other branch and the output schema still converges to
    * the same 21 columns. */
  def q26WeatherDrift(s: SparkSession, dir: String): DataFrame =
    WeatherJob.run(s, s"$fx/weather_v2.json", Schemas.weatherRoot(withSevererisk = false))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_journey_fact" -> (q20JourneyFact _),
    "q21_new_stations" -> (q21NewStations _),
    "q22_weather_clean" -> (q22WeatherClean _),
    "q23_weather_profile" -> (q23WeatherProfile _),
    "q24_datetime_dim" -> (q24DatetimeDim _),
    "q25_station_profile" -> (q25StationProfile _),
    "q26_weather_drift" -> (q26WeatherDrift _))

  /** The 21 columns surviving the weather drops, as oracle SELECT items. */
  private val weatherFinalCols: String =
    """CAST(d."datetime" AS DATE) AS weather_date, d."tempmax" AS tempmax,
      |d."tempmin" AS tempmin, d."temp" AS temp, d."feelslikemax" AS feelslikemax,
      |d."feelslikemin" AS feelslikemin, d."feelslike" AS feelslike,
      |d."humidity" AS humidity, d."precip" AS precip, d."windgust" AS windgust,
      |d."windspeed" AS windspeed, d."winddir" AS winddir, d."pressure" AS pressure,
      |d."visibility" AS visibility, d."solarradiation" AS solarradiation,
      |d."solarenergy" AS solarenergy, d."uvindex" AS uvindex,
      |d."sunrise" AS sunrise, d."sunset" AS sunset, d."moonphase" AS moonphase,
      |d."tzoffset" AS tzoffset""".stripMargin

  private val weatherFinalStruct = dayStruct(
    "datetime" -> "VARCHAR", "tempmax" -> "DOUBLE", "tempmin" -> "DOUBLE",
    "temp" -> "DOUBLE", "feelslikemax" -> "DOUBLE", "feelslikemin" -> "DOUBLE",
    "feelslike" -> "DOUBLE", "humidity" -> "DOUBLE", "precip" -> "DOUBLE",
    "windgust" -> "DOUBLE", "windspeed" -> "DOUBLE", "winddir" -> "DOUBLE",
    "pressure" -> "DOUBLE", "visibility" -> "DOUBLE", "solarradiation" -> "DOUBLE",
    "solarenergy" -> "DOUBLE", "uvindex" -> "DOUBLE", "sunrise" -> "VARCHAR",
    "sunset" -> "VARCHAR", "moonphase" -> "DOUBLE", "tzoffset" -> "DOUBLE")

  /** The 24 non-key columns present after the fixed drop (vintage A), i.e.
    * the profile's input set. */
  private val weatherProfileFields = Seq(
    "tempmax", "tempmin", "temp", "feelslikemax", "feelslikemin", "feelslike",
    "humidity", "precip", "precipprob", "snow", "snowdepth", "windgust",
    "windspeed", "winddir", "pressure", "visibility", "solarradiation",
    "solarenergy", "uvindex", "sunrise", "sunset", "moonphase", "tzoffset",
    "severerisk")

  private val weatherProfileStruct = dayStruct(
    ("datetime" -> "VARCHAR") +: weatherProfileFields.map { f =>
      f -> (if (f == "sunrise" || f == "sunset") "VARCHAR" else "DOUBLE")
    }: _*)

  private def weatherDays(file: String, struct: String): String =
    s"""(SELECT unnest(days) AS d FROM read_json('$fx/$file', columns={'days': '$struct'}))"""

  val oracles: Map[String, String] = Map(
    "q20_journey_fact" ->
      s"""SELECT "Rental Id" AS rental_id, "Bike Id" AS bike_id,
         |strptime("End Date", '%d/%m/%Y %H:%M') AS end_date,
         |"EndStation Id" AS end_station,
         |strptime("Start Date", '%d/%m/%Y %H:%M') AS start_date,
         |"StartStation Id" AS start_station,
         |CAST(strptime("Start Date", '%d/%m/%Y %H:%M') AS DATE) AS weather_date
         |FROM $readJourney""".stripMargin,
    "q21_new_stations" ->
      s"""WITH journey AS (SELECT * FROM $readJourney),
         |station_ids AS (SELECT "Station.Id" AS station_id FROM $readStations)
         |SELECT station_id, station_name,
         |  0.0::DOUBLE AS longitude, 0.0::DOUBLE AS latitude,
         |  0.0::DOUBLE AS easting, 0.0::DOUBLE AS northing
         |FROM (
         |  SELECT DISTINCT "StartStation Id" AS station_id,
         |         "StartStation Name" AS station_name
         |  FROM journey WHERE "StartStation Id" NOT IN (SELECT station_id FROM station_ids)
         |  UNION
         |  SELECT DISTINCT "EndStation Id", "EndStation Name"
         |  FROM journey WHERE "EndStation Id" NOT IN (SELECT station_id FROM station_ids)
         |)""".stripMargin,
    "q22_weather_clean" ->
      s"""SELECT $weatherFinalCols
         |FROM ${weatherDays("weather_v1.json", weatherFinalStruct)}""".stripMargin,
    "q23_weather_profile" -> {
      val ratios = weatherProfileFields.map { f =>
        val miss =
          if (f == "sunrise" || f == "sunset") s"""d."$f" IS NULL"""
          else s"""d."$f" IS NULL OR isnan(d."$f")"""
        s"""count(CASE WHEN $miss THEN 1 END)/count(*) AS ${f}_missing_ratio"""
      }.mkString(",\n")
      s"""SELECT $ratios
         |FROM ${weatherDays("weather_v1.json", weatherProfileStruct)}""".stripMargin
    },
    "q24_datetime_dim" ->
      s"""WITH j AS (
         |  SELECT strptime("Start Date", '%d/%m/%Y %H:%M') AS sd,
         |         strptime("End Date", '%d/%m/%Y %H:%M') AS ed
         |  FROM $readJourney),
         |dts AS (SELECT sd AS datetime_id FROM j UNION SELECT ed FROM j)
         |SELECT datetime_id,
         |  CAST(year(datetime_id) AS INT) AS year,
         |  CAST(dayofweek(datetime_id) + 1 AS INT) AS week_day,
         |  CAST(month(datetime_id) AS INT) AS month,
         |  CAST(dayofmonth(datetime_id) AS INT) AS day,
         |  CAST(hour(datetime_id) AS INT) AS hour,
         |  CAST(minute(datetime_id) AS INT) AS minute,
         |  CAST(second(datetime_id) AS INT) AS second
         |FROM dts""".stripMargin,
    "q25_station_profile" ->
      s"""SELECT
         |  count(CASE WHEN "Station.Id" IS NULL THEN 1 END) AS station_id_missing,
         |  count(CASE WHEN "StationName" IS NULL THEN 1 END) AS station_name_missing,
         |  count(CASE WHEN longitude IS NULL OR isnan(longitude) THEN 1 END) AS longitude_missing,
         |  count(CASE WHEN latitude IS NULL OR isnan(latitude) THEN 1 END) AS latitude_missing,
         |  count(CASE WHEN "Easting" IS NULL OR isnan("Easting") THEN 1 END) AS easting_missing,
         |  count(CASE WHEN "Northing" IS NULL OR isnan("Northing") THEN 1 END) AS northing_missing,
         |  count(*) AS total
         |FROM $readStations""".stripMargin,
    "q26_weather_drift" ->
      s"""SELECT $weatherFinalCols
         |FROM ${weatherDays("weather_v2.json", weatherFinalStruct)}""".stripMargin)
}
