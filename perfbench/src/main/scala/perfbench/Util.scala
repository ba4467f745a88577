package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs each task on a thread of its own; returns the results in order. */
  def inParallel[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
      .map(_.get())
    finally pool.shutdown()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Heap used after a full collection, in MiB. Spark frees broadcast,
    * shuffle and checkpoint blocks asynchronously once their handles are
    * collected, so collect a few times with a pause for that to finish. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  // -- minimal JSON writing (no dependency beyond the JDK)

  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def jobj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  def jarr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
