package perfbench

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.app.StarSchema
import graft.pipeline.Schemas

/** Every output check accepts the right output and rejects a deliberately
  * corrupted one. Run with `cd perfbench && sbt test`. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private lazy val dir = Files.createTempDirectory("perfbench-checks")

  override def afterAll(): Unit = {
    spark.stop()
    Util.deleteTree(dir)
  }

  private def counts(values: Long*): Seq[Row] = {
    val schema = StructType(values.indices.map(i => StructField(s"c$i", LongType)))
    Seq(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(values.toArray[Any], schema))
  }

  test("integrity: all nine counts zero passes, any violation fails") {
    assert(Checks.integrity(counts(Seq.fill(9)(0L): _*)).isEmpty)
    assert(Checks.integrity(counts(0, 0, 0, 0, 1, 0, 0, 0, 0)).exists(_.contains("c4=1")))
    assert(Checks.integrity(counts(Seq.fill(8)(0L): _*)).isDefined)
    assert(Checks.integrity(Seq.empty).isDefined)
  }

  test("warehouse: fact rows, ledger and a no-op repeat catchup") {
    val weeks = Set("2021-01-04", "2021-01-11")
    assert(Checks.warehouse(100, 100, weeks, weeks, Nil).isEmpty)
    assert(Checks.warehouse(99, 100, weeks, weeks, Nil).isDefined)
    assert(Checks.warehouse(100, 100, weeks - "2021-01-11", weeks, Nil).isDefined)
    assert(Checks.warehouse(100, 100, weeks, weeks, Seq("2021-01-11")).isDefined)
  }

  test("catchup ingests exactly the delivered week") {
    assert(Checks.catchup(Seq("2021-01-04"), "2021-01-04").isEmpty)
    assert(Checks.catchup(Nil, "2021-01-04").isDefined)
    assert(Checks.catchup(Seq("2021-01-04", "2021-01-11"), "2021-01-11").isDefined)
  }

  test("chart: multiset for grouped charts, order for the top-k chart") {
    val e = Seq("8|120", "17|300", "3|4")
    assert(Checks.chart("h", e.reverse, e, ordered = false).isEmpty)
    assert(Checks.chart("h", Seq("8|121", "17|300", "3|4"), e, ordered = false).isDefined)
    assert(Checks.chart("h", e.take(2), e, ordered = false).isDefined)
    assert(Checks.chart("top", e.reverse, e, ordered = true).isDefined)
  }

  test("fingerprint: order-insensitive, but any changed, lost or extra row fails") {
    val rows = (1 to 50).map(i => Row(i, s"n$i", i * 0.5))
    val stored = Map("q" -> Checks.fingerprint(rows))
    assert(Checks.fingerprintMatches("q", rows.reverse, stored).isEmpty)
    assert(Checks.fingerprintMatches("q", rows.updated(7, Row(8, "n8", 4.0001)), stored).isDefined)
    assert(Checks.fingerprintMatches("q", rows.tail, stored).isDefined)
    assert(Checks.fingerprintMatches("q", rows :+ rows.head, stored).isDefined)
    assert(Checks.fingerprintMatches("other", rows, stored).isDefined)
  }

  test("stored fingerprints cover every engine_ops query") {
    val fps = EngineOps.loadFingerprints(
      java.nio.file.Paths.get("data", "fingerprints.txt"))
    assert(Workload.Queries.forall(fps.contains))
  }

  test("a real warehouse passes; corrupting it trips the integrity, count and chart checks") {
    val in = Gen.starInputs(spark, dir.resolve("in"), 7L, 1, 2000)
    val wh = dir.resolve("wh").toString
    StarSchema.init(spark, wh, in.stationsCsv.toString, in.weatherJson.toString,
      Schemas.weatherRoot(withSevererisk = true))
    assert(Checks.catchup(StarSchema.catchup(spark, wh, in.root.resolve("raw").toString),
      Gen.weekDate(0)).isEmpty)
    val expected = Star.expected(spark, 7L, 1, 2000)
    def chartErrors(): Seq[String] = Star.charts.flatMap { case (name, f, ordered) =>
      Checks.chart(name, Checks.lines(f(spark, wh).collect().toSeq), expected(name), ordered)
    }
    def integrity() = Checks.integrity(StarSchema.integrityReport(spark, wh).collect().toSeq)
    def facts() = spark.read.parquet(StarSchema.factJourney(wh)).count()
    assert(integrity().isEmpty)
    assert(chartErrors().isEmpty)
    assert(facts() == 2000)

    // corrupt the fact table: one ride duplicated into its date partition
    val fact = StarSchema.factJourney(wh)
    val dup = spark.read.parquet(fact).limit(1).cache()
    dup.count()
    dup.write.mode("append").partitionBy("weather_date").parquet(fact)
    assert(integrity().exists(_.contains("dup_rental_id=1")))
    assert(Checks.warehouse(facts(), 2000, Set(Gen.weekDate(0)), Set(Gen.weekDate(0)), Nil).isDefined)
    assert(chartErrors().nonEmpty)
  }
}
