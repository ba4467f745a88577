package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TfL-shaped inputs for the star-schema workloads, generated on
  * Spark inside the benchmark JVM. Every random draw is a hash of
  * (seed, week, row id, draw index), so the same seed gives the same files
  * whatever the partitioning.
  *
  * Files written (the program under test sees only these):
  *  - `stations/stations.csv`: 808 stations in the `Schemas.stationsRaw`
  *    layout (dotted `Station.Id` header);
  *  - `weather/weather.json`: one nested root object in the
  *    `fixtures/weather_v1.json` schema, one day per generated day;
  *  - `raw/<monday>/journey.csv`: one CSV per week in the
  *    `Schemas.journeyRaw` layout.
  */
object Gen {
  val Stations = 808
  /** Station ids that ride in journeys but are missing from the stations
    * CSV, so `JourneyJob.newStations` has work every week. */
  val LateIds: Seq[Int] = 1001 to 1012
  val FirstMonday: java.time.LocalDate = java.time.LocalDate.of(2021, 1, 4)

  def weekDate(w: Int): String = FirstMonday.plusWeeks(w.toLong).toString

  /** A uniform double in [0, 1) from a hash of the row and the draw index. */
  private def u(seed: Long, week: Int, k: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(lit(seed), lit(week), col("id"), lit(k)), lit(1L << 40))
      .cast("double") / lit((1L << 40).toDouble)

  /** Cumulative hour-of-day profile (commute peaks at 8 and 17-18). */
  private val HourWeights: Seq[Double] = Seq(
    1, 0.6, 0.4, 0.3, 0.3, 0.8, 2.5, 6, 9, 5, 3.5, 3.8,
    4.5, 4.6, 4.2, 4.8, 6.5, 9.5, 8, 5.5, 4, 3, 2.2, 1.5)

  private def hourOf(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val total = HourWeights.sum
    val cum = HourWeights.scanLeft(0.0)(_ + _).tail.map(_ / total)
    cum.zipWithIndex.init.foldRight(lit(23): org.apache.spark.sql.Column) {
      case ((c, h), acc) => when(x < c, lit(h)).otherwise(acc)
    }
  }

  /** Station pick with a power-law popularity, and a small share of
    * late-registered ids. */
  private def station(seed: Long, week: Int, k: Int): org.apache.spark.sql.Column = {
    val late = u(seed, week, k + 100) < 0.004
    when(late, lit(LateIds.head) + floor(u(seed, week, k + 200) * LateIds.size).cast("int"))
      .otherwise(floor(pow(u(seed, week, k), 2.5) * Stations).cast("int") + 1)
  }

  def nameOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id >= LateIds.head, concat(lit("Pop Up Dock "), id, lit(", Late")))
      .otherwise(concat(lit("Dock "), id, lit(", Zone "), pmod(id, lit(9))))

  /** The typed rides of week `w` (minute-precision timestamps), before CSV
    * formatting. Rental ids are unique across weeks. */
  def rides(spark: SparkSession, seed: Long, w: Int, n: Int): DataFrame = {
    val monday = java.sql.Timestamp.valueOf(FirstMonday.plusWeeks(w.toLong).atStartOfDay())
    val startSec = (floor(u(seed, w, 1) * 7).cast("long") * 86400L) +
      hourOf(u(seed, w, 2)).cast("long") * 3600L + floor(u(seed, w, 3) * 60).cast("long") * 60L
    val duration = (lit(60) + floor(pow(u(seed, w, 4), 2) * 5340).cast("int")).cast("int")
    spark.range(0, n, 1, 4)
      .select(
        (lit(w.toLong * 10000000L + 1) + col("id")).cast("int").as("rental_id"),
        duration.as("duration"),
        (floor(u(seed, w, 5) * 20000).cast("int") + 1).as("bike_id"),
        (lit(monday).cast("long") + startSec).as("start_epoch"),
        station(seed, w, 6).as("start_station"),
        station(seed, w, 7).as("end_station"))
      .withColumn("start_ts", timestamp_seconds(col("start_epoch")))
      .withColumn("end_ts", timestamp_seconds(
        col("start_epoch") + floor(col("duration") / 60).cast("long") * 60L))
      .drop("start_epoch")
  }

  /** The raw CSV text layout (`Schemas.journeyRaw`, `dd/MM/yyyy HH:mm`). */
  def journeyCsvFrame(rides: DataFrame): DataFrame = rides.select(
    col("rental_id").as("Rental Id"),
    col("duration").as("Duration"),
    col("bike_id").as("Bike Id"),
    date_format(col("end_ts"), "dd/MM/yyyy HH:mm").as("End Date"),
    col("end_station").as("EndStation Id"),
    nameOf(col("end_station")).as("EndStation Name"),
    date_format(col("start_ts"), "dd/MM/yyyy HH:mm").as("Start Date"),
    col("start_station").as("StartStation Id"),
    nameOf(col("start_station")).as("StartStation Name"))

  /** Write `df` as ONE CSV file named `file` (header on). */
  private def writeSingleCsv(df: DataFrame, file: Path): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".parts")
    df.coalesce(1).write.mode("overwrite").option("header", true).csv(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    Files.createDirectories(file.getParent)
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    Util.deleteTree(tmp)
  }

  def writeStations(spark: SparkSession, dir: Path): Path = {
    val out = dir.resolve("stations.csv")
    val df = spark.range(1, Stations + 1, 1, 1).select(
      col("id").cast("int").as("Station.Id"),
      nameOf(col("id").cast("int")).as("StationName"),
      (lit(-0.25) + col("id") * 0.0004).as("longitude"),
      (lit(51.45) + pmod(col("id") * 37, lit(808)) * 0.0002).as("latitude"),
      (lit(520000.0) + col("id") * 25.5).as("Easting"),
      (lit(175000.0) + pmod(col("id") * 37, lit(808)) * 21.0).as("Northing"))
    writeSingleCsv(df, out)
    out
  }

  /** One weather day per calendar day in [first, first + days). Values are
    * seeded; `precipprob` and `snow` are mostly null, so the weather leg's
    * sparse-column drop has work. */
  def writeWeather(dir: Path, seed: Long, days: Int): Path = {
    val rnd = new scala.util.Random(seed)
    def d(x: Double): String = f"$x%.2f"
    val sb = new StringBuilder
    sb ++= """{"latitude":51.5064,"longitude":-0.12721,"resolvedAddress":"London,UK","address":"London,UK","timezone":"Europe/London","days":["""
    for (i <- 0 until days) {
      val day = FirstMonday.plusDays(i.toLong)
      val epoch = day.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
      val t = 2 + rnd.nextDouble() * 12
      if (i > 0) sb += ','
      sb ++= s"""{"datetime":"$day","datetimeEpoch":$epoch,"tempmax":${d(t + 3)},"tempmin":${d(t - 3)},"temp":${d(t)},""" +
        s""""feelslikemax":${d(t + 1)},"feelslikemin":${d(t - 5)},"feelslike":${d(t - 2)},"dew":${d(t - 4)},""" +
        s""""humidity":${d(60 + rnd.nextDouble() * 35)},"precip":${d(rnd.nextDouble() * 3)},""" +
        s""""precipprob":${if (i % 10 == 0) "50.0" else "null"},"precipcover":${d(rnd.nextDouble() * 20)},""" +
        s""""preciptype":["rain"],"snow":${if (i % 12 == 0) "0.1" else "null"},"snowdepth":null,""" +
        s""""windgust":${d(20 + rnd.nextDouble() * 30)},"windspeed":${d(5 + rnd.nextDouble() * 20)},""" +
        s""""winddir":${d(rnd.nextDouble() * 360)},"pressure":${d(995 + rnd.nextDouble() * 30)},""" +
        s""""cloudcover":${d(rnd.nextDouble() * 100)},"visibility":${d(5 + rnd.nextDouble() * 20)},""" +
        s""""solarradiation":${d(rnd.nextDouble() * 80)},"solarenergy":${d(rnd.nextDouble() * 5)},""" +
        s""""uvindex":${rnd.nextInt(4)}.0,"sunrise":"07:50:00","sunriseEpoch":${epoch + 28200},""" +
        s""""sunset":"16:20:00","sunsetEpoch":${epoch + 58800},"moonphase":${d(rnd.nextDouble())},""" +
        s""""conditions":"Rain","description":"Generated day.","icon":"rain","stations":["D5621"],""" +
        s""""source":"obs","tzoffset":null,"severerisk":null}"""
    }
    sb ++= "]}"
    Files.createDirectories(dir)
    val out = dir.resolve("weather.json")
    Files.writeString(out, sb.toString)
    out
  }

  /** Everything one star workload needs. `weeks` journey CSVs of
    * `ridesPerWeek` rows each land under `raw/`. */
  final case class StarInputs(root: Path, stationsCsv: Path, weatherJson: Path,
                              weekDirs: Seq[(String, Path)])

  def starInputs(spark: SparkSession, root: Path, seed: Long,
                 weeks: Int, ridesPerWeek: Int): StarInputs = {
    Util.deleteTree(root)
    val stations = writeStations(spark, root.resolve("stations"))
    // every start day is covered; +1 week of slack for rides ending later
    val weather = writeWeather(root.resolve("weather"), seed, (weeks + 1) * 7)
    // all weeks in one Spark job: one CSV file per week, then moved into
    // the reference layout `raw/<monday>/journey.csv`
    val parts = root.resolve("raw.parts")
    (0 until weeks).map(w => journeyCsvFrame(rides(spark, seed, w, ridesPerWeek))
        .withColumn("week", lit(weekDate(w))))
      .reduce(_ union _)
      .repartition(weeks, col("week"))
      .write.partitionBy("week").option("header", true).csv(parts.toString)
    val weekDirs = (0 until weeks).map { w =>
      val date = weekDate(w)
      val src = parts.resolve(s"week=$date")
      val files = Files.list(src).filter(_.getFileName.toString.startsWith("part-")).toArray
      require(files.length == 1, s"week $date was written as ${files.length} files")
      val dir = root.resolve("raw").resolve(date)
      Files.createDirectories(dir)
      Files.move(files.head.asInstanceOf[Path], dir.resolve("journey.csv"))
      date -> dir
    }
    Util.deleteTree(parts)
    StarInputs(root, stations, weather, weekDirs)
  }
}
