package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pdf

class PdfSpec extends AnyFunSuite with SharedSpark {

  private val fixture = s"${graft.sources.Tables.fixtureDir}/pdf_docs.parquet"

  private def extracted = Pdf.extract(Pdf.readPdfs(spark, fixture)).toDF()

  test("extraction recovers the stored text byte-for-byte on EVERY fixture pdf") {
    val stored = spark.read.parquet(fixture)
      .select(col("pdf_id"), col("n_pages").as("exp_pages"), col("text").as("exp_text"))
    val joined = extracted.join(stored, "pdf_id")
    assert(joined.count() == 45)
    val bad = joined.filter(col("n_pages") =!= col("exp_pages") ||
      col("text") =!= col("exp_text")).collect()
    assert(bad.isEmpty, bad.map(_.getLong(0)).mkString("mismatch ids: ", ",", ""))
  }

  test("multi-page docs follow /Kids order, not object order") {
    // every 3-page doc (doc_id%3==2) lists Kids rotated (3rd,1st,2nd):
    // its unique page-0 token p{d}x0 must NOT open the text
    val r = extracted.filter(col("pdf_id") === 2L).head()
    val t = r.getAs[String]("text")
    assert(r.getAs[Long]("n_pages") == 3)
    assert(!t.startsWith(t.split(" ")(0) + " p2x0"))
    assert(t.contains("p2x8")) // third page's token leads
    assert(t.indexOf("p2x8") < t.indexOf("p2x0"))
  }

  test("TJ kerning splits, escapes, octal, nesting, continuation all decode") {
    val byId = extracted.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(34L) ==
      "ledger p34x0 harbor quartz row meadow p34x1 signal copper row")
    assert(byId(35L) ==
      "call f(x) \\ back p35x0 (nested (deep)) ok AB tab\there continued p35x1")
  }

  test("unreferenced image XObject streams are never decoded as text") {
    val t = extracted.filter(col("pdf_id") === 38L).head().getString(2)
    val exp = spark.read.parquet(fixture)
      .filter(col("pdf_id") === 38L).head().getAs[String]("text")
    assert(t == exp)
  }

  test("a truncated deflate stream drops the page cleanly: 0 pages, empty text") {
    val r = extracted.filter(col("pdf_id") === 39L).head()
    assert(r.getAs[Long]("n_pages") == 0 && r.getString(2) == "")
  }

  test("cross-variant dedup: different bytes (compression/layout), same extracted text") {
    val clusters = graft.operators.Dedup.exactClusters(
      extracted, "pdf_id", "text")
      .filter(col("n_copies") >= 2).orderBy("keeper_id").collect()
    // 36 duplicates 0's text, 37 duplicates 1's, the ObjStm repack 43
    // duplicates 2's (classic and ObjStm layouts collapse at text
    // level), and the two malformed docs (39, 44) share the empty text
    assert(clusters.map(r => r.getAs[Long]("keeper_id") -> r.getAs[Long]("n_copies")).toSeq
      == Seq(0L -> 2L, 1L -> 2L, 2L -> 2L, 39L -> 2L))
  }

  test("malformed bytes never throw: garbage, no-pages, empty") {
    assert(Pdf.extractText(Array.fill[Byte](64)(0x20)) == ((0L, "")))
    assert(Pdf.extractText("%PDF-1.4 then nothing useful".getBytes("US-ASCII")) == ((0L, "")))
    assert(Pdf.extractText(Array.emptyByteArray) == ((0L, "")))
  }

  test("a /Kids CYCLE terminates instead of StackOverflow (never-throws contract)") {
    // root 2 -> 3 -> 4 -> back to 3: the walk from the reachable root
    // must terminate (the un-referenced-root detection alone cannot
    // save this shape — 2 IS a legitimate root)
    val cyclic = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Pages /Kids [4 0 R] /Count 1 >> endobj\n" +
      "4 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" + // cycle!
      "trailer << /Root 1 0 R >>\n%%EOF\n").getBytes("US-ASCII")
    assert(Pdf.extractText(cyclic) == ((0L, "")))
    // a Pages node whose Kids contain ITSELF under a clean root
    val selfKid = ("%PDF-1.4\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "%%EOF\n").getBytes("US-ASCII")
    assert(Pdf.extractText(selfKid) == ((0L, "")))
  }
}
