package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{JourneyJob, StationsJob, WeatherJob}
import graft.sources.Sinks

/** The end-to-end star-schema materialization: the reference's DAG
  * sequencing (init → weekly increments → dashboard), re-hosted as engine
  * calls against a parquet warehouse.
  *
  * Reference sequencing: init_1_spark_emr_dag.py:12-26 runs the one-time
  * stations+weather dims; proc_1_spark_emr_dag.py:38-66 runs the weekly
  * journey transform; proc_2_s3_to_redshifht_dag.py:13-39 UPSERT-loads the
  * outputs into the warehouse, where Metabase queries them (README.md:35-41).
  * Here the warehouse IS the parquet layout and the dashboard queries are
  * engine queries over the written tables.
  *
  * Scale layout: the three dimensions are bounded (stations ~800 rows at any
  * corpus size, weather one row/day, datetime one row/minute) and use the
  * whole-table keyed [[Sinks.upsert]]; the unbounded fact is partitioned by
  * `weather_date` and merged with [[Sinks.upsertPartitioned]] — a weekly
  * batch rewrites only the ~7 date partitions it touches, never the
  * accumulated table.
  *
  * A weekly increment reads its raw week once: the transformed journey is
  * cached and materialised before its three keyed merges (dim_station,
  * dim_datetime, fact_journey) run side by side through
  * [[Sinks.inParallel]]; they share nothing but that input. The catchup
  * ledger is committed last, after all three have returned.
  */
object StarSchema {

  def dimStation(warehouse: String): String = s"$warehouse/dim_station"
  def dimWeather(warehouse: String): String = s"$warehouse/dim_weather"
  def dimDatetime(warehouse: String): String = s"$warehouse/dim_datetime"
  def factJourney(warehouse: String): String = s"$warehouse/fact_journey"

  /** One-time init: stations CSV → dim_station, weather JSON → dim_weather
    * (init-data-transformation.py:23-43,48-92). Keyed upserts, so re-running
    * init (the reference reruns it on catchup) is a no-op. The two dims are
    * independent and are written side by side. */
  def init(spark: SparkSession, warehouse: String,
           stationsCsv: String, weatherJson: String, weatherRoot: StructType): Unit =
    Sinks.inParallel(spark)(
      () => Sinks.upsert(spark, dimStation(warehouse),
        StationsJob.run(spark, stationsCsv), Seq("station_id")),
      () => Sinks.upsert(spark, dimWeather(warehouse),
        WeatherJob.run(spark, weatherJson, weatherRoot), Seq("weather_date")))

  /** One weekly increment from an already-transformed journey batch
    * (journey-data-transformation.py:28-160 + the proc_2 UPSERT loads):
    * late-registered stations merge into dim_station, the batch's
    * datetime parts merge into dim_datetime, and the fact rows merge into
    * the date-partitioned fact_journey. Each merge is keyed, so re-running
    * a week converges to the same warehouse.
    *
    * The batch is read once: it is cached (`MEMORY_AND_DISK`) and
    * materialised before the three merges start, and the merges, which
    * share nothing but the batch, run side by side. The cache is released
    * on return only if this call created it; a batch the caller already
    * persisted stays persisted. If a merge fails, the others are cancelled
    * and its exception is rethrown (see [[Sinks.inParallel]]). Returns the
    * batch's row count. */
  def weekly(spark: SparkSession, warehouse: String, journey: DataFrame): Long = {
    val owned = journey.storageLevel == StorageLevel.NONE
    if (owned) journey.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = journey.count()
      // read directly below, so roll back a swap a crash cut short first
      Sinks.recover(spark, dimStation(warehouse))
      val stations = spark.read.parquet(dimStation(warehouse))
      val newStations = JourneyJob.newStations(spark, journey, stations)
      Sinks.inParallel(spark)(
        () => Sinks.upsert(spark, dimStation(warehouse), newStations, Seq("station_id")),
        () => Sinks.upsert(spark, dimDatetime(warehouse),
          JourneyJob.datetimeDim(journey), Seq("datetime_id")),
        () => Sinks.upsertPartitioned(spark, factJourney(warehouse),
          JourneyJob.fact(journey), Seq("rental_id"), "weather_date"))
      n
    } finally if (owned) journey.unpersist(blocking = true)
  }

  /** Convenience: weekly increment straight from a journey CSV path. */
  def weeklyFromCsv(spark: SparkSession, warehouse: String, journeyCsv: String): Long =
    weekly(spark, warehouse, JourneyJob.transform(spark, journeyCsv))

  /** The catchup ledger: (logical date, journey rows) per ingested week. */
  private def catchupLedger(warehouse: String): String = s"$warehouse/_meta/ingested"

  /** Logical dates already ingested into this warehouse, per the ledger. */
  def ingestedDates(spark: SparkSession, warehouse: String): Set[String] =
    Sinks.ledger(spark, catchupLedger(warehouse)).keySet

  /** The reference's weekly CATCHUP semantics (proc_0_ingestion_to_s3_dag.py:42-52:
    * `catchup=True` + a logical-date-keyed file per weekly DAG run), re-hosted
    * engine-side: the raw zone holds one `<rawDir>/<logical_date>/journey.csv`
    * folder per week; the warehouse keeps a LEDGER of ingested logical dates;
    * catchup ingests every not-yet-ingested week in ascending date order and
    * commits each to the ledger after its merges complete. The ledger
    * commit is a whole-table swap ([[Sinks.commitLedger]]) of the full
    * ledger, read once per call. Each week's CSV is parsed once and its
    * three merges run side by side ([[weekly]]); the ledger commit waits
    * for all three, and a failed merge throws before it, so a failed week
    * is never recorded as ingested.
    *
    * Idempotence is two-layer: the ledger skips completed weeks wholesale
    * (cheap — no re-read of their raw files), and if a run crashes between a
    * week's merge and its ledger commit, the re-run re-merges that week
    * through the KEYED upserts, which converge — so at-least-once ledger
    * bookkeeping still yields exactly-once warehouse contents. A crash
    * inside any of the week's swaps (a dim, a fact partition, the ledger)
    * is rolled back by the re-run's first touch of that table
    * ([[Sinks.recover]]).
    *
    * The listing is driver-side and bounded by weeks-per-history (~52/year),
    * not data size. Returns the logical dates ingested by THIS call. */
  def catchup(spark: SparkSession, warehouse: String, rawDir: String,
              file: String = "journey.csv"): Seq[String] = {
    val raw = new org.apache.hadoop.fs.Path(rawDir)
    val f = raw.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(raw)) return Seq.empty // nothing delivered yet: a no-op run, not an error
    val weeks = f.listStatus(raw).filter(_.isDirectory).map(_.getPath.getName).sorted
    var ledger = Sinks.ledger(spark, catchupLedger(warehouse))
    val todo = weeks.filterNot(ledger.contains)
    todo.foreach { d =>
      ledger += d -> weeklyFromCsv(spark, warehouse, s"$rawDir/$d/$file")
      Sinks.commitLedger(spark, catchupLedger(warehouse), ledger)
    }
    todo.toSeq
  }

  /** The dashboard's "top-10 stations by NAME" (README.md:35-41,
    * images/final-dashboard.png) over the WRITTEN star schema, with
    * dim_station role-played for both journey endpoints (CyclingERD.sql:63-66).
    *
    * Shape at scale: the two roles are stacked with one generator (a single
    * fact scan — joining the dim twice would scan the fact twice), then ONE
    * broadcast hash join against the genuinely-bounded station dim, a
    * partial-aggregating groupBy on the name, and a heap top-k
    * (TakeOrderedAndProject) — no global sort, no second shuffle. */
  def ridesByStation(spark: SparkSession, warehouse: String, k: Int = 10): DataFrame = {
    val fact = spark.read.parquet(factJourney(warehouse))
    val dim = spark.read.parquet(dimStation(warehouse))
      .select(col("station_id"), col("station_name"))
    val roles = fact.select(explode(array(
      struct(col("start_station").as("station_id"), lit(1).as("is_start")),
      struct(col("end_station").as("station_id"), lit(0).as("is_start")))).as("r"))
      .select("r.*")
    roles.join(broadcast(dim), "station_id")
      .groupBy(coalesce(col("station_name"), lit("Unknown")).as("station_name"))
      .agg(sum(col("is_start")).as("n_starts"),
        sum(lit(1) - col("is_start")).as("n_ends"),
        count(lit(1)).as("n_rides"))
      .orderBy(col("n_rides").desc, col("station_name").asc)
      .limit(k)
  }

  /** Rides per value of the `parts` attributes of the START-date role:
    * fact ⋈ dim_datetime on `start_date` (CyclingERD.sql:60-61), grouped
    * by the dim's parts. dim_datetime is calendar-bounded, so AQE sizes
    * the join and the aggregate partial-combines into one row per group.
    * The dim's parts are load-bearing: a shortcut scan of `start_date`
    * would not notice a corrupt dim. */
  private def ridesByStartParts(spark: SparkSession, warehouse: String,
                                parts: String*): DataFrame = {
    val fact = spark.read.parquet(factJourney(warehouse))
    val dim = spark.read.parquet(dimDatetime(warehouse))
      .select(col("datetime_id") +: parts.map(col): _*)
    fact.join(dim, fact("start_date") === dim("datetime_id"))
      .groupBy(parts.head, parts.tail: _*)
      .agg(count(lit(1)).as("n_rides"))
  }

  /** The dashboard's rides-per-hour chart (README.md:35): 24 groups. */
  def ridesPerHour(spark: SparkSession, warehouse: String): DataFrame =
    ridesByStartParts(spark, warehouse, "hour")

  /** The dashboard's rides-per-weekday chart (README.md:35-41): 7 groups
    * of the dim's `week_day` (Spark dayofweek numbering, 1=Sunday —
    * SURVEY.md §7.5 #3). */
  def ridesPerWeekday(spark: SparkSession, warehouse: String): DataFrame =
    ridesByStartParts(spark, warehouse, "week_day")

  /** The dashboard's daily-trend line (README.md:35-41): one row per
    * (year, month, day). */
  def ridesDailyTrend(spark: SparkSession, warehouse: String): DataFrame =
    ridesByStartParts(spark, warehouse, "year", "month", "day")

  /** PK/FK validation over the written star schema (SURVEY.md §7.2 item 4):
    * Spark cannot DECLARE the constraints CyclingERD.sql:6-68 declares, so
    * the engine CHECKS them — duplicate-PK counts per table (rows minus
    * distinct keys: one aggregate pass each) and orphan-FK counts per
    * role-playing edge (left-anti join to the referenced dim, counted).
    * Returns ONE row of nine violation counts; all-zero = valid warehouse.
    * Station/weather dims are genuinely bounded → their anti joins are
    * forced broadcasts; dim_datetime grows with calendar time (one row per
    * minute — ~5M rows/decade), so its two role-playing checks are left to
    * AQE to size. The fact is scanned once per FK check. */
  def integrityReport(spark: SparkSession, warehouse: String): DataFrame = {
    val fact = spark.read.parquet(factJourney(warehouse))
    val dimS = spark.read.parquet(dimStation(warehouse))
    val dimW = spark.read.parquet(dimWeather(warehouse))
    val dimD = spark.read.parquet(dimDatetime(warehouse))

    def dups(df: DataFrame, key: String, as: String): DataFrame =
      df.agg((count(lit(1)) - count_distinct(col(key))).as(as))

    // NULL fks are NOT orphans: a row with a missing EndStation Id violates
    // no referential edge (there is nothing to reference). The explicit
    // isNotNull filter pins that semantic — an unfiltered left_anti would
    // count NULLs (null never equi-matches), silently diverging from the
    // oracle's `fk IS NOT NULL AND NOT EXISTS` formulation on real journey
    // data with absent end stations.
    def orphans(fk: String, dim: DataFrame, pk: String, as: String,
                bounded: Boolean = true): DataFrame = {
      val keys = dim.select(col(pk).as(fk))
      fact.filter(col(fk).isNotNull)
        .join(if (bounded) broadcast(keys) else keys, Seq(fk), "left_anti")
        .agg(count(lit(1)).as(as))
    }

    Seq(
      dups(fact, "rental_id", "dup_rental_id"),
      dups(dimS, "station_id", "dup_station_id"),
      dups(dimW, "weather_date", "dup_weather_date"),
      dups(dimD, "datetime_id", "dup_datetime_id"),
      orphans("start_station", dimS, "station_id", "orphan_start_station"),
      orphans("end_station", dimS, "station_id", "orphan_end_station"),
      orphans("start_date", dimD, "datetime_id", "orphan_start_date", bounded = false),
      orphans("end_date", dimD, "datetime_id", "orphan_end_date", bounded = false),
      orphans("weather_date", dimW, "weather_date", "orphan_weather_date"))
      .reduce(_.crossJoin(_))
  }
}
