package perfbench

import org.apache.spark.sql.Row

/** Output checks. Each returns `None` when the output is right and
  * `Some(reason)` otherwise. They take plain collected rows, so the
  * benchmark's tests can feed them deliberately corrupted outputs. */
object Checks {

  /** One row per line, values joined by `|`, nulls as `null`. */
  def lines(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))

  /** All nine `StarSchema.integrityReport` counts are 0. */
  def integrity(rows: Seq[Row]): Option[String] =
    if (rows.size != 1) Some(s"integrity report has ${rows.size} rows, expected 1")
    else {
      val r = rows.head
      val bad = r.schema.fieldNames.zipWithIndex.collect {
        case (n, i) if r.isNullAt(i) || r.getLong(i) != 0L => s"$n=${r.get(i)}"
      }
      if (r.size != 9) Some(s"integrity report has ${r.size} counts, expected 9")
      else if (bad.nonEmpty) Some(s"integrity violations: ${bad.mkString(", ")}")
      else None
    }

  /** The committed warehouse after a full catchup: fact rows equal the
    * generated rides, the ledger holds exactly the delivered weeks, and a
    * repeat catchup ingests nothing. */
  def warehouse(factRows: Long, generatedRides: Long, ledger: Set[String],
                delivered: Set[String], repeat: Seq[String]): Option[String] =
    if (factRows != generatedRides) Some(s"fact rows $factRows != generated rides $generatedRides")
    else if (ledger != delivered) Some(s"ledger ${ledger.toSeq.sorted} != delivered ${delivered.toSeq.sorted}")
    else if (repeat.nonEmpty) Some(s"repeat catchup ingested ${repeat.mkString(",")}")
    else None

  /** One catchup call ingested exactly the week just delivered. */
  def catchup(ingested: Seq[String], delivered: String): Option[String] =
    if (ingested == Seq(delivered)) None
    else Some(s"catchup ingested ${ingested.mkString("[", ",", "]")}, expected [$delivered]")

  /** A chart equals the expected aggregate: as an ordered list when the
    * chart is ordered (top-k), as a multiset otherwise. */
  def chart(name: String, actual: Seq[String], expected: Seq[String], ordered: Boolean): Option[String] = {
    val (a, e) = if (ordered) (actual, expected) else (actual.sorted, expected.sorted)
    if (a == e) None
    else {
      val diff = a.zipAll(e, "<none>", "<none>").find { case (x, y) => x != y }
      Some(s"$name differs (${a.size} rows vs ${e.size} expected); first difference: " +
        diff.map { case (x, y) => s"got $x, expected $y" }.getOrElse("?"))
    }
  }

  /** Row count plus an order-insensitive hash of the rows. */
  final case class Fingerprint(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  def fingerprint(rows: Seq[Row]): Fingerprint = {
    var sum = 0L
    lines(rows).foreach { l =>
      val h = scala.util.hashing.MurmurHash3.stringHash(l, 0x5eed).toLong
      val h2 = scala.util.hashing.MurmurHash3.stringHash(l, 0x0b0e).toLong
      sum += (h << 32) ^ (h2 & 0xffffffffL)
    }
    Fingerprint(rows.size.toLong, f"$sum%016x")
  }

  def fingerprintMatches(name: String, rows: Seq[Row], stored: Map[String, Fingerprint]): Option[String] =
    stored.get(name) match {
      case None => Some(s"$name has no stored fingerprint")
      case Some(fp) =>
        val got = fingerprint(rows)
        if (got == fp) None else Some(s"$name fingerprint $got != stored $fp")
    }
}
