package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

/** Golden tests for the pipeline stages on the FIXTURES.md inputs — messy
  * headers, schema drift, late stations with 0.0 coords, minute-precision
  * seconds=0. */
class PipelineSpec extends AnyFunSuite with SharedSpark {
  private val fx = graft.sources.Tables.fixtureDir

  test("journey CSV scan keeps the messy space-named headers") {
    val raw = JourneyJob.read(spark, s"$fx/journey.csv")
    assert(raw.columns.toSeq == Seq("Rental Id", "Duration", "Bike Id", "End Date",
      "EndStation Id", "EndStation Name", "Start Date", "StartStation Id", "StartStation Name"))
    assert(raw.count() == 24)
  }

  test("rename produces snake_case ids but leaves station NAME columns raw") {
    val j = JourneyJob.rename(JourneyJob.read(spark, s"$fx/journey.csv"))
    assert(j.columns.contains("rental_id") && j.columns.contains("start_station"))
    assert(j.columns.contains("StartStation Name")) // addressed later with backticks
  }

  test("dd/MM/yyy HH:mm parse (3-y reference pattern) round-trips the fixture dates") {
    val j = JourneyJob.parseTimestamps(JourneyJob.rename(JourneyJob.read(spark, s"$fx/journey.csv")))
    assert(j.schema("start_date").dataType == TimestampType)
    assert(j.filter(col("start_date").isNull || col("end_date").isNull).count() == 0)
    val r101 = j.filter(col("rental_id") === 101)
      .select(date_format(col("start_date"), "yyyy-MM-dd HH:mm:ss")).head().getString(0)
    assert(r101 == "2021-01-15 08:05:00")
  }

  test("weather_date is the start date's calendar day across month boundaries") {
    val j = JourneyJob.transform(spark, s"$fx/journey.csv")
    val boundary = j.filter(col("rental_id") === 120)
      .select(col("weather_date").cast(StringType), col("end_date").cast(StringType)).head()
    assert(boundary.getString(0) == "2021-01-31") // start day, even though...
    assert(boundary.getString(1).startsWith("2021-02-01")) // ...the ride ends in February
  }

  test("new-stations anti-join finds exactly the ids missing from the dim, with 0.0 coords") {
    val j = JourneyJob.transform(spark, s"$fx/journey.csv")
    val st = StationsJob.run(spark, s"$fx/stations.csv")
    val add = JourneyJob.newStations(spark, j, st).collect()
    assert(add.map(_.getInt(0)).sorted.toSeq == Seq(777, 888, 999))
    assert(add.forall(r => r.getDouble(2) == 0.0 && r.getDouble(5) == 0.0))
    // deterministic dedup: one row per id even though 999 appears as both roles
    assert(add.length == 3)
  }

  test("datetime dim: minute-precision input means second is constant 0, keys unique") {
    val dim = JourneyJob.datetimeDim(JourneyJob.transform(spark, s"$fx/journey.csv"))
    assert(dim.filter(col("second") =!= 0).count() == 0)
    assert(dim.count() == dim.select("datetime_id").distinct().count())
    // two rentals share 31/01 23:58 and one start equals another row's end: 48 - dups
    assert(dim.count() == 46)
  }

  test("stations dotted-header rename + profile counts real nulls") {
    val prof = StationsJob.missingProfile(StationsJob.run(spark, s"$fx/stations.csv")).head()
    assert(prof.getAs[Long]("station_name_missing") == 1) // station 9's empty name
    assert(prof.getAs[Long]("northing_missing") == 1)
    assert(prof.getAs[Long]("station_id_missing") == 0)
    assert(prof.getAs[Long]("total") == 10)
  }

  test("weather: nested JSON flattens in-engine and both drift vintages converge to 21 columns") {
    val a = WeatherJob.run(spark, s"$fx/weather_v1.json", Schemas.weatherRoot(withSevererisk = true))
    val b = WeatherJob.run(spark, s"$fx/weather_v2.json", Schemas.weatherRoot(withSevererisk = false))
    assert(a.columns.length == 21 && b.columns.sorted.toSeq == a.columns.sorted.toSeq)
    assert(!a.columns.contains("severerisk") && !a.columns.contains("precipprob"))
    assert(a.count() == 41 && b.count() == 41) // one row per fixture day (Jan 1 - Feb 10)
    assert(a.schema("weather_date").dataType == DateType)
  }

  test("dropSparse drops >70%-missing columns but keeps partially-null ones") {
    val clean = WeatherJob.renameCastDate(WeatherJob.dropUnneeded(
      WeatherJob.readNested(spark, s"$fx/weather_v1.json", Schemas.weatherRoot(withSevererisk = true))))
    val dropped = WeatherJob.dropSparse(clean)
    assert(!dropped.columns.contains("snow") && !dropped.columns.contains("severerisk"))
    assert(dropped.columns.contains("windgust") && dropped.columns.contains("tzoffset"))
  }
}
