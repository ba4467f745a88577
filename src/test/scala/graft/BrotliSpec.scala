package graft

import graft.operators.Brotli
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The full RFC 7932 decode against REAL encoder output: every row of
  * `fixtures/brotli_vectors.parquet` is a stream the reference brotli
  * ENCODER produced (quality 0-11, lgwin 10-24, dictionary-heavy /
  * UTF-8 / incompressible / run / empty payloads, cross-checked against
  * the reference decoder at generation time — tools/gen_brotli_fixture
  * .py) and the pure-JVM decoder must inflate it bit-exactly. Plus the
  * never-throws contract under truncation and bit-flip fuzzing, and the
  * output cap. */
class BrotliSpec extends AnyFunSuite with SharedSpark {

  private val fixture = s"${graft.sources.Tables.fixtureDir}/brotli_vectors.parquet"
  private val Cap = 64L * 1024 * 1024

  private lazy val vectors: Array[(Long, String, Int, Int, Array[Byte], Array[Byte])] =
    spark.read.parquet(fixture)
      .select("vec_id", "family", "quality", "lgwin", "payload", "br")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getAs[Array[Byte]]("payload"), r.getAs[Array[Byte]]("br")))

  test("every encoder-produced vector inflates bit-exactly (all qualities, windows, payload families)") {
    assert(vectors.length >= 100, s"fixture carries ${vectors.length} vectors")
    val fams = vectors.map(_._2).toSet
    assert(Set("english_large", "random_64k", "multilingual", "empty",
      "run_200k", "mixed").subsetOf(fams), s"families: $fams")
    assert(vectors.map(_._3).toSet == Set(0, 1, 2, 5, 9, 11))
    assert(vectors.map(_._4).toSet == Set(10, 16, 22, 24))
    vectors.foreach { case (id, fam, q, w, payload, br) =>
      val got = Brotli.inflate(br, Cap)
      assert(got.isDefined, s"vec $id ($fam q$q w$w): decode refused")
      assert(java.util.Arrays.equals(got.get, payload),
        s"vec $id ($fam q$q w$w): ${got.get.length} bytes vs ${payload.length}")
    }
  }

  test("truncation at every byte boundary: never throws, and never fabricates a full-length decode") {
    // english_small at q11/w22 exercises dictionary + transforms in a
    // sub-KB stream — cheap to truncate exhaustively
    val (_, _, _, _, payload, br) = vectors
      .find(v => v._2 == "english_small" && v._3 == 11).get
    (0 until br.length).foreach { n =>
      val got = Brotli.inflate(java.util.Arrays.copyOf(br, n), Cap)
      // a strict prefix can decode only to a strict prefix situation:
      // it must never reproduce the complete payload
      assert(got.forall(g => !java.util.Arrays.equals(g, payload)),
        s"truncation at $n decoded the full payload")
    }
  }

  test("bit-flip fuzz: never throws, output always within cap") {
    val (_, _, _, _, _, br) = vectors
      .find(v => v._2 == "html" && v._3 == 5).get
    val cap = 1L << 20
    var i = 0
    while (i < br.length) {
      val mut = br.clone()
      mut(i) = (mut(i) ^ (1 << (i % 8))).toByte
      val got = Brotli.inflate(mut, cap) // must not throw
      got.foreach(g => assert(g.length <= cap))
      i += 1
    }
  }

  test("output cap: a stream inflating past the cap refuses instead of buffering") {
    val (_, _, _, _, payload, br) = vectors
      .find(v => v._2 == "run_200k" && v._3 == 11).get
    assert(payload.length == 200000)
    assert(Brotli.inflate(br, 1000L).isEmpty)
    assert(Brotli.inflate(br, payload.length - 1L).isEmpty)
    assert(Brotli.inflate(br, payload.length.toLong).isDefined)
  }

  test("empty payload and garbage input") {
    val (_, _, _, _, payload, br) = vectors.find(_._2 == "empty").get
    assert(payload.isEmpty)
    assert(Brotli.inflate(br, Cap).exists(_.isEmpty))
    assert(Brotli.inflate(Array.emptyByteArray, Cap).isEmpty)
    assert(Brotli.inflate(Array.fill(64)(0x5a.toByte), Cap).isEmpty ||
      Brotli.inflate(Array.fill(64)(0x5a.toByte), Cap).get.length <= Cap)
  }

  test("q349 plan: the decode streams through the scan, payload column pruned from the engine side") {
    // the registered query must not read the oracle's `payload` column —
    // the engine derives everything from the compressed bytes alone
    val df = graft.queries.LlmQueries.q349BrotliDecode(spark, "/root/testdata/sf0.001")
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    scans.foreach(s => assert(!s.requiredSchema.fieldNames.contains("payload"),
      s"payload read by the engine side: ${s.requiredSchema.fieldNames.mkString(",")}"))
  }
}
