package graft.app

import org.apache.spark.sql.SparkSession
import graft.pipeline.Schemas

/** Runnable end-to-end driver — the engine's replacement for the
  * reference's DAG stack, as one command:
  *
  *   sbt "runMain graft.app.StarSchemaApp <warehouseDir> [rawWeeklyDir]"
  *
  * Runs init (stations + weather dims from the committed fixtures), then
  * either the date-keyed [[StarSchema.catchup]] over `rawWeeklyDir`
  * (`<dir>/<logical_date>/journey.csv` folders) or, absent one, the
  * journey fixture as a single week — then prints the dashboard queries
  * and the integrity report from the WRITTEN warehouse. Re-running against
  * the same warehouse is a no-op end to end.
  */
object StarSchemaApp {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StarSchemaApp <warehouseDir> [rawWeeklyDir]")
    val warehouse = args(0)
    val fx = graft.sources.Tables.fixtureDir
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    StarSchema.init(spark, warehouse, s"$fx/stations.csv", s"$fx/weather_v1.json",
      Schemas.weatherRoot(withSevererisk = true))
    val ingested =
      if (args.length > 1) StarSchema.catchup(spark, warehouse, args(1))
      else { StarSchema.weeklyFromCsv(spark, warehouse, s"$fx/journey.csv"); Seq("(single week)") }
    println(s"[app] ingested weeks: ${ingested.mkString(", ")}")

    println("[app] top stations (by rides, both endpoints):")
    StarSchema.ridesByStation(spark, warehouse).show(truncate = false)
    println("[app] rides per hour (fact ⋈ dim_datetime):")
    StarSchema.ridesPerHour(spark, warehouse).orderBy("hour").show(24)
    println("[app] integrity report (all counts must be 0):")
    StarSchema.integrityReport(spark, warehouse).show(truncate = false)
    spark.stop()
  }
}
