package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.app.StarSchema
import graft.pipeline.{JourneyJob, Schemas}

/** End-to-end star-schema materialization: init + two weekly increments
  * against a temp warehouse, dashboard + integrity queries over the WRITTEN
  * tables, and weekly-rerun idempotence. */
class StarSchemaSpec extends AnyFunSuite with SharedSpark {

  private val fx = graft.sources.Tables.fixtureDir

  private def initWarehouse(): String = {
    val w = Files.createTempDirectory("graft-star").toString
    StarSchema.init(spark, w, s"$fx/stations.csv", s"$fx/weather_v1.json",
      Schemas.weatherRoot(withSevererisk = true))
    w
  }

  private def buildWarehouse(): String = {
    val w = initWarehouse()
    val journey = JourneyJob.transform(spark, s"$fx/journey.csv")
    val cut = to_date(lit("2021-01-25"))
    StarSchema.weekly(spark, w, journey.filter(col("weather_date") < cut))
    StarSchema.weekly(spark, w, journey.filter(col("weather_date") >= cut))
    w
  }

  /** Every table's rows, keyed by its path under the warehouse. */
  private def byTable(w: String): Map[String, Set[String]] =
    tableRows(w).map { case (p, rows) => p.stripPrefix(w) -> rows }

  private def tableRows(w: String): Map[String, Set[String]] =
    Seq(StarSchema.factJourney(w), StarSchema.dimStation(w),
      StarSchema.dimWeather(w), StarSchema.dimDatetime(w)).map { p =>
      val df = spark.read.parquet(p)
      p -> df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).toSet
    }.toMap

  /** A date-keyed raw zone: one `<date>/journey.csv` per week, each
    * holding the fixture header and the given fixture rows. */
  private def rawZone(weeks: (String, Seq[String])*): String = {
    val raw = Files.createTempDirectory("graft-raw").toString
    weeks.foreach { case (date, rows) => writeWeek(raw, date, rows) }
    raw
  }

  private def writeWeek(raw: String, date: String, rows: Seq[String]): Unit = {
    val d = new java.io.File(s"$raw/$date"); d.mkdirs()
    Files.write(java.nio.file.Paths.get(s"$raw/$date/journey.csv"),
      (fixtureLines.head +: rows).mkString("\n").getBytes)
  }

  private lazy val fixtureLines =
    scala.io.Source.fromFile(s"$fx/journey.csv").getLines().toVector

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** How many times the actions `body` runs parse CSV: the CSV file scans
    * in their executed plans, where a scan that builds a cached relation
    * counts once, however many plans read that relation. Execution events
    * arrive asynchronously: a marker action after `body` is the last event
    * to wait for. */
  private def csvParsesIn(body: => Unit): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    import org.apache.spark.sql.catalyst.plans.logical.Range
    object Plans extends AdaptiveSparkPlanHelper
    def csvScans(p: SparkPlan): Int = Plans.collectWithSubqueries(p) {
      case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[CSVFileFormat] => f
    }.size
    val marker = 7919L
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val caches = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()))
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.exists { case r: Range => r.end == marker; case _ => false })
          markerSeen.countDown()
        else {
          scans.addAndGet(csvScans(qe.executedPlan))
          Plans.collectWithSubqueries(qe.executedPlan) {
            case m: InMemoryTableScanExec => m.relation.cachedPlan
          }.foreach(caches.add)
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(marker).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    scans.get + caches.asScala.toSeq.map(csvScans).sum
  }

  test("init + 2 weekly runs materialize the full star schema; rerunning a week changes nothing") {
    val w = buildWarehouse()
    val fact = spark.read.parquet(StarSchema.factJourney(w))
    assert(fact.count() == 24) // every fixture journey landed exactly once
    assert(fact.columns.contains("weather_date")) // partition column readable
    val before = tableRows(w)

    // rerun week 2 (same batch): every table must be row-identical
    val journey = JourneyJob.transform(spark, s"$fx/journey.csv")
    StarSchema.weekly(spark, w,
      journey.filter(col("weather_date") >= to_date(lit("2021-01-25"))))
    assert(tableRows(w) == before)
  }

  test("fact_journey is laid out as weather_date partitions and merges touch only their dates") {
    val w = buildWarehouse()
    val dirs = new java.io.File(StarSchema.factJourney(w))
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.forall(_.startsWith("weather_date=")))
    assert(dirs.contains("weather_date=2021-01-15") && dirs.contains("weather_date=2021-02-10"))
  }

  test("ridesByStation role-plays dim_station over both endpoints with a broadcast join") {
    val w = buildWarehouse()
    val out = StarSchema.ridesByStation(spark, w, k = 10)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$plan")
    val rows = out.collect()
    assert(rows.length == 10)
    // every journey contributes one start + one end across the full table
    val all = StarSchema.ridesByStation(spark, w, k = 1000).collect()
    assert(all.map(_.getAs[Long]("n_starts")).sum == 24)
    assert(all.map(_.getAs[Long]("n_ends")).sum == 24)
    // station 9 has a NULL name in the dim -> surfaces as the Unknown bucket
    assert(all.exists(_.getAs[String]("station_name") == "Unknown"))
  }

  test("catchup ingests only not-yet-ingested logical weeks, in order, idempotently") {
    val w = initWarehouse()
    // date-keyed raw zone: split the fixture into two weekly files
    val body = fixtureLines.tail
    val raw = rawZone("2021-01-18" -> body.take(12), "2021-01-25" -> body.slice(12, 20))

    assert(StarSchema.catchup(spark, w, raw) == Seq("2021-01-18", "2021-01-25"))
    assert(spark.read.parquet(StarSchema.factJourney(w)).count() == 20)
    // rerun: ledger makes it a no-op
    assert(StarSchema.catchup(spark, w, raw).isEmpty)
    assert(spark.read.parquet(StarSchema.factJourney(w)).count() == 20)
    // a new week arrives: only it is ingested
    writeWeek(raw, "2021-02-01", body.drop(20))
    assert(StarSchema.catchup(spark, w, raw) == Seq("2021-02-01"))
    assert(spark.read.parquet(StarSchema.factJourney(w)).count() == 24)
    assert(StarSchema.ingestedDates(spark, w) ==
      Set("2021-01-18", "2021-01-25", "2021-02-01"))
  }

  test("date filters on the written fact prune to the matching partitions") {
    val w = buildWarehouse()
    val pruned = spark.read.parquet(StarSchema.factJourney(w))
      .filter(col("weather_date") === to_date(lit("2021-01-15")))
    val plan = pruned.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("weather_date"),
      s"no partition filter pushed to the fact scan:\n$plan")
    assert(pruned.count() == 3) // the three Jan-15 journeys only
  }

  test("integrityReport is all-zero on a correctly merged warehouse") {
    val w = buildWarehouse()
    val r = StarSchema.integrityReport(spark, w).collect().head
    (0 until r.length).foreach { i =>
      assert(r.getLong(i) == 0L, s"violation count ${r.schema.fieldNames(i)} nonzero")
    }
  }

  test("weekly parses the week's CSV once") {
    val w = initWarehouse()
    val n = csvParsesIn(StarSchema.weekly(spark, w, JourneyJob.transform(spark, s"$fx/journey.csv")))
    assert(n == 1, s"the week was parsed $n times")
  }

  test("weekly releases the cache it created and keeps a caller's") {
    val w = initWarehouse()
    spark.catalog.clearCache() // the session is shared with earlier suites
    StarSchema.weekly(spark, w, JourneyJob.transform(spark, s"$fx/journey.csv"))
    assert(cacheManager.isEmpty)
    val mine = JourneyJob.transform(spark, s"$fx/journey.csv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      StarSchema.weekly(spark, w, mine)
      assert(mine.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    } finally mine.unpersist(blocking = true)
    assert(cacheManager.isEmpty)
  }

  test("a failed merge leg fails the week: no ledger entry, no cache, and a re-run converges") {
    val raw = rawZone("2021-01-18" -> fixtureLines.tail)
    val clean = initWarehouse()
    assert(StarSchema.catchup(spark, clean, raw) == Seq("2021-01-18"))

    val w = initWarehouse()
    spark.catalog.clearCache() // the session is shared with earlier suites
    // a dim_datetime whose columns do not match the week's: Upsert.merge's
    // schema check throws inside that leg
    import spark.implicits._
    Seq((1L, "x")).toDF("datetime_id", "junk").write.parquet(StarSchema.dimDatetime(w))
    val e = intercept[IllegalArgumentException](StarSchema.catchup(spark, w, raw))
    assert(e.getMessage.contains("upsert requires matching schemas"))
    assert(StarSchema.ingestedDates(spark, w).isEmpty)
    assert(cacheManager.isEmpty)

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(StarSchema.dimDatetime(w)))
    assert(StarSchema.catchup(spark, w, raw) == Seq("2021-01-18"))
    def byTable(wh: String) = tableRows(wh).map { case (p, rows) => p.stripPrefix(wh) -> rows }
    assert(byTable(w) == byTable(clean))
  }

  test("crash matrix: a crash at any commit rename of a catchup week converges on re-run") {
    val t0 = System.nanoTime()
    val body = fixtureLines.tail
    // week 2 re-delivers two rows of week 1 (Jan 22-23) and adds two new
    // days, so its fact merge both replaces and adds partitions
    val week1 = "2021-01-18" -> body.take(12)
    val week2 = "2021-01-25" -> body.slice(10, 14)
    val base = initWarehouse()
    assert(StarSchema.catchup(spark, base, rawZone(week1)) == Seq(week1._1))
    val raw = rawZone(week1, week2)
    def copyOfBase(): String = {
      val w = Files.createTempDirectory("graft-star").toString
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(base), new java.io.File(w))
      w
    }
    val clean = copyOfBase()
    val renames = CrashingFs.around(spark, failAt = None) {
      assert(StarSchema.catchup(spark, clean, raw) == Seq(week2._1))
    }.map(_.stripPrefix(clean))
    renames.foreach { at =>
      val w = copyOfBase()
      CrashingFs.around(spark, failAt = Some(w + at)) {
        intercept[java.io.IOException](StarSchema.catchup(spark, w, raw))
      }
      assert(StarSchema.catchup(spark, w, raw) == Seq(week2._1), s"crash at $at")
      assert(byTable(w) == byTable(clean), s"tables diverged after a crash at $at")
      assert(StarSchema.ingestedDates(spark, w) == Set(week1._1, week2._1), s"crash at $at")
      val r = StarSchema.integrityReport(spark, w).collect().head
      (0 until r.length).foreach { i =>
        assert(r.getLong(i) == 0L, s"${r.schema.fieldNames(i)} nonzero after a crash at $at")
      }
    }
    // dim_station, dim_datetime and the ledger: backup + swap-in each;
    // the fact: backup + swap-in per replaced day, swap-in per new day
    assert(renames.size == 12, renames.mkString("\n"))
    info(f"${renames.size} crash points in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
