package perfbench

import org.apache.spark.sql.SparkSession

/** Prints the fingerprint of each query result that `graft.Verify` wrote,
  * one `<query> <rows> <hash>` line each (see `perfbench/confirm.py`):
  *
  * {{{
  * perfbench.Confirm <verify out dir> <query>...
  * }}}
  */
object Confirm {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-confirm")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try args.tail.foreach { q =>
      val fp = Checks.fingerprint(spark.read.parquet(s"${args(0)}/$q").collect().toSeq)
      println(s"$q ${fp.rows} ${fp.hash}")
    } finally spark.stop()
  }
}
