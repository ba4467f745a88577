package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.Harness.TaskRow

/** The dev mains' measurement core: the skew ratio rule BenchSkew gates
  * on, conf pins that never leak, and measurements that never see each
  * other's task events. */
class HarnessSpec extends AnyFunSuite with SharedSpark {

  private def stage(id: Int, durs: Long*): Seq[TaskRow] =
    durs.map(d => TaskRow(id, d, 0L, 0L, 0L, 0L, 0L, 0L))

  test("worstStageRatio: worst qualifying stage's max/median, noise stages skipped") {
    // qualifies: 4 tasks, max 900 ms >= 250, median 100 -> 9.0
    val skewed = stage(1, 100, 100, 100, 900)
    // 3 tasks: ratio 300 but too few tasks to be a parallelism domain
    val tooFew = stage(2, 10, 10, 3000)
    // 5 tasks, ratio 200, but the max task is under 250 ms: noise
    val tooShort = stage(3, 1, 1, 1, 1, 200)
    assert(Harness.worstStageRatio(skewed ++ tooFew ++ tooShort) == 9.0)
    // even task counts take the mean of the middle two: median 150 -> 2.0
    assert(Harness.worstStageRatio(stage(4, 100, 200, 300, 100)) == 2.0)
    // the median is floored at 1 ms: a 300 ms straggler over 0 ms tasks reads 300
    assert(Harness.worstStageRatio(stage(6, 0, 0, 0, 300)) == 300.0)
    // no qualifying stage (or no tasks at all) reads as unskewed
    assert(Harness.worstStageRatio(tooFew ++ tooShort) == 1.0)
    assert(Harness.worstStageRatio(Nil) == 1.0)
  }

  test("withConfs restores a set conf and unsets an unset one when the body throws") {
    val setKey = "spark.graft.test.pinned"
    val unsetKey = "spark.graft.test.unpinned"
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    try {
      val e = intercept[IllegalStateException] {
        Harness.withConfs(spark, Map(setKey -> "during", unsetKey -> "during")) {
          assert(spark.conf.get(setKey) == "during" && spark.conf.get(unsetKey) == "during")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(spark.conf.get(setKey) == "before")
      assert(spark.conf.getOption(unsetKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }

  test("measure: back-to-back measurements never see each other's tasks") {
    val stats = Harness.TaskStats.attach(spark)
    try {
      val (_, agg) = stats.measure(
        Harness.noop(spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count()))
      assert(agg.tasks.size >= 4, agg)
      assert(agg.jobs.nonEmpty && agg.stageNames.nonEmpty, agg)
      val (_, empty) = stats.measure(())
      assert(empty.tasks.isEmpty && empty.jobs.isEmpty && empty.stageNames.isEmpty, empty)
    } finally spark.sparkContext.removeSparkListener(stats)
  }
}
