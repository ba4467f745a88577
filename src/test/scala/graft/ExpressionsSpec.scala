package graft
// (KMV sketch tests appended below the existing expression tests)

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.GraftFunctions
import graft.operators.{Dedup, Similarity}

/** Native Catalyst expressions: bit-exactness against the declarative
  * higher-order-function formulations they replaced, codegen viability on
  * real data, and the SQL registration surface. */
class ExpressionsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, p) => acc + p)

  test("ArrayDotProduct is bit-identical to the left-fold HOF dot on real embeddings") {
    val emb = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.limit(1).select(col("embedding").as("__q"))
    val both = emb.crossJoin(broadcast(q)).select(
      GraftFunctions.dotNative(col("embedding"), col("__q")).as("native"),
      hofDot(col("embedding"), col("__q")).as("hof"))
    val mismatches = both.filter(
      // bit-level compare: IEEE == would also pass for -0.0 vs 0.0
      expr("cast(native as string) <> cast(hof as string)") ||
        col("native").isNull =!= col("hof").isNull).count()
    assert(mismatches == 0)
  }

  test("ArrayDotProduct handles float/double mixes, nulls, and empty arrays") {
    val d = Seq(
      (1L, Some(Seq(1f, 2f, 3f))),
      (2L, None),
      (3L, Some(Seq.empty[Float]))).toDF("id", "v")
    val w = typedLit(Seq(2.0, 0.5, 1.0))
    val out = d.select(col("id"),
      when(col("v").isNotNull && size(col("v")) === 3,
        GraftFunctions.dotNative(col("v"), w)).as("dot"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).contains(1.0 * 2.0 + 2.0 * 0.5 + 3.0 * 1.0))
    assert(out(2L).isEmpty && out(3L).isEmpty)
  }

  test("ArrayDotProduct fails fast on length mismatch instead of truncating") {
    val d = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
    val e = intercept[Exception] {
      d.select(GraftFunctions.dotNative(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("MinHashSignature: sig(A) == sig(B) iff same shingle SET; supersets differ") {
    val d = Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq("b c d", "a b c")),          // same set, different order
      (3L, Seq("a b c", "b c d", "x y z")), // superset
      (4L, Seq.empty[String])               // empty: all Long.MaxValue
    ).toDF("id", "sh")
    val out = d.select(col("id"), GraftFunctions.minhashNative(col("sh"), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
    assert(out(1L).length == 64)
    // per-component: min over a subset is >= min over the superset
    assert(out(1L).zip(out(3L)).forall { case (a, b) => a >= b })
    assert(out(4L).forall(_ == Long.MaxValue))
  }

  test("MinHash components behave like independent hashes (distinct values)") {
    val d = Seq(Tuple1(Seq("a b c", "d e f", "g h i"))).toDF("sh")
    val sig = d.select(GraftFunctions.minhashNative(col("sh"), 64).as("s"))
      .collect().head.getSeq[Long](0)
    // 64 mins over 3 items from 64 distinct hash functions: collisions
    // would indicate the per-k mixing is broken
    assert(sig.distinct.length == 64)
  }

  test("both expressions generate native code (no CodegenFallback eval call)") {
    // `explain codegen` emits the whole-stage generated Java. The inline
    // loop text exists only on the doGenCode path — a CodegenFallback
    // expression would instead generate a boxed `.eval(row)` call.
    val codegenMode = org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    // AQE wraps the plan and reports 0 codegen subtrees before execution —
    // turn it off for the explain (codegen behavior itself is identical)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      val cg = emb.select(GraftFunctions.dotNative(col("embedding"), col("embedding")))
        .queryExecution.explainString(codegenMode)
      assert(cg.contains("WholeStageCodegen"))
      assert(cg.contains("graft_dot: length mismatch"), "dot loop not inlined in generated code")
      // minhash over a codegen'd tokenizer (`split`); the production shingle
      // path shares a Project with HOF `transform` (CodegenFallback), which
      // excludes that Project from whole-stage codegen regardless of us
      val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
      val cg2 = docs.select(GraftFunctions.minhashNative(split(col("text"), " "), 64))
        .queryExecution.explainString(codegenMode)
      assert(cg2.contains("graft.expressions.MinHashSignature.compute"),
        "minhash compute call not in generated code")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("graft_dot / graft_minhash are callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0F, 2.0F), array(3.0D, 0.5D)) AS d, " +
        "size(graft_minhash(array('a', 'b'), 16)) AS n")
      .collect().head
    assert(r.getDouble(0) == 4.0 && r.getInt(1) == 16)
    GraftFunctions.register(spark) // idempotent
  }

  test("graft_shingles / graft_char_ngrams / graft_fingerprint / graft_lexicon_hits from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_shingles(array('a', 'b', 'c'), 2) AS sh, " +
        "graft_char_ngrams('abcd', 3) AS ng, " +
        "graft_fingerprint('ab') AS fp, " +
        "graft_lexicon_hits(array('the', 'fox', 'the'), array('the', 'a')) AS hits")
      .collect().head
    assert(r.getSeq[String](0) == Seq("a b", "b c"))
    assert(r.getSeq[String](1) == Seq("abc", "bcd"))
    assert(r.getLong(2) == (97L * 31 + 98) % 1000000007L) // fold of 'a','b' code points
    assert(r.getInt(3) == 2)
    // a non-constant lexicon must be rejected, not silently mis-planned
    val err = intercept[Exception] {
      spark.sql("SELECT graft_lexicon_hits(array('x'), array(CAST(rand() AS STRING)))")
        .collect()
    }
    assert(err.getMessage.contains("constant array<string> lexicon"))
  }

  test("graft_top_k and the bloom build/probe pair are callable from SQL") {
    GraftFunctions.register(spark)
    // top-3 of ids 0..9 scored by themselves: (9,9),(8,8),(7,7) in rank order
    val t = spark.sql(
      "SELECT graft_top_k(id, id, 3) AS t FROM range(10)").collect().head
    assert(t.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) == Seq(9L, 8L, 7L))
    // build over 0..99, probe a member and a non-member (65536 bits / 3
    // hashes at 100 keys: deterministic, and FP odds ~1e-7 if it weren't)
    val b = spark.sql(
      """WITH b AS (SELECT graft_bloom_build(id, 65536, 3) AS bf FROM range(100))
        |SELECT graft_bloom_contains(CAST(50 AS BIGINT), (SELECT bf FROM b), 3) AS hit,
        |       graft_bloom_contains(CAST(999999999 AS BIGINT), (SELECT bf FROM b), 3) AS miss
        |""".stripMargin).collect().head
    assert(b.getBoolean(0) && !b.getBoolean(1))
  }

  test("KMV sketch: exact below k, estimator form at k, order/partition-invariant") {
    import graft.functions.TextFunctions.md5Long
    // 10 distinct values with k=16 -> buffer holds the full distinct set
    val small = (1 to 30).map(i => (i % 10).toString).toDF("v")
      .select(md5Long(col("v")).as("h"))
    val exactSmall = small.agg(GraftFunctions.kmvDistinct(col("h"), 16)).head.getDouble(0)
    assert(exactSmall == 10.0)

    // 5000 distinct values, k=64: estimate within 25% of truth, and identical
    // across different partitionings (merge path must be order-invariant)
    val big = (1 to 5000).map(_.toString).toDF("v").select(md5Long(col("v")).as("h"))
    val e1 = big.repartition(1).agg(GraftFunctions.kmvDistinct(col("h"), 64)).head.getDouble(0)
    val e8 = big.repartition(8).agg(GraftFunctions.kmvDistinct(col("h"), 64)).head.getDouble(0)
    assert(e1 == e8, "KMV estimate depends on partitioning")
    assert(math.abs(e1 - 5000) / 5000 < 0.25, s"estimate $e1 too far from 5000")

    // duplicates never inflate the sketch: same estimate after union with itself
    val dup = big.union(big).repartition(5)
      .agg(GraftFunctions.kmvDistinct(col("h"), 64)).head.getDouble(0)
    assert(dup == e1)
  }

  test("CharNgrams native expression matches the HOF substr windows incl. edge lengths") {
    import graft.functions.TextFunctions
    val d = Seq("abcdef", "abc", "ab", "").toDF("t")
    val hof = when(length(col("t")) >= 3,
      transform(sequence(lit(1), length(col("t")) - 2), i => col("t").substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    val rows = d.select(TextFunctions.charTrigrams(col("t")).as("native"), hof.as("h"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    assert(rows(0).getSeq[String](0) == Seq("abc", "bcd", "cde", "def"))
    assert(rows(2).getSeq[String](0).isEmpty)
  }

  test("LexiconHits native expression equals the filter-HOF count on real corpus text") {
    import graft.functions.TextFunctions
    val lex = Seq("the", "a", "of", "and", "to", "in")
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = split(lower(col("text")), " ")
    val mismatches = docs.select(
      TextFunctions.lexiconHits(toks, lex).as("native"),
      TextFunctions.lexiconHitsHof(toks, lex).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0)
  }

  test("PolyFingerprint native expression equals the HOF fold on real corpus text") {
    import graft.functions.TextFunctions
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val mismatches = docs.select(
      TextFunctions.polyFingerprint(col("text")).as("native"),
      TextFunctions.polyFingerprintHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0)
    // empty string folds to the zero accumulator
    val empty = Seq("").toDF("t")
      .select(TextFunctions.polyFingerprint(col("t"))).head.getLong(0)
    assert(empty == 0L)
  }

  test("SimhashAgg is partition/order-invariant and matches the per-bit definition") {
    import graft.functions.TextFunctions.md5Long
    val toks = Seq("spark", "batch", "window", "join", "spark").map(Tuple1(_)).toDF("tok")
      .select(md5Long(col("tok")).as("h"))
    val viaAgg = toks.repartition(3).agg(GraftFunctions.simhashAgg(col("h"))).head.getLong(0)
    val viaAgg1 = toks.repartition(1).agg(GraftFunctions.simhashAgg(col("h"))).head.getLong(0)
    assert(viaAgg == viaAgg1)
    // reference computation: per-bit ±1 counters over the same hashes
    val hs = toks.collect().map(_.getLong(0))
    val expected = (0 until 60).map { b =>
      val s = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
      if (s > 0) 1L << b else 0L
    }.sum
    assert(viaAgg == expected)
  }

  test("graft_kmv_distinct / graft_simhash are callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_kmv_distinct(h, 16) AS est, graft_simhash(h) AS sig
        |FROM (SELECT cast(conv(substring(md5(cast(id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h
        |      FROM range(10))""".stripMargin).collect().head
    assert(r.getDouble(0) == 10.0) // 10 distinct < k -> exact
    assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 60))
  }

  test("graft_hist_quantile is callable from SQL after registration") {
    GraftFunctions.register(spark)
    // values 0..99, width 10: p50 rank is 50 -> value 49 -> bucket 4 -> edge 50
    val r = spark.sql(
      "SELECT graft_hist_quantile(id, 10, 1000, 50) AS e FROM range(100)")
      .collect().head
    assert(r.getLong(0) == 50L)
  }

  test("HistQuantile: upper-edge estimate within width of the exact quantile," +
    " partition-invariant, clamped, null-safe") {
    val vals = (0 until 500).map(i => (17L * i) % 431) // deterministic spread
    val d = vals.map(v => ("g", v)).toDF("g", "v")
    def est(df: org.apache.spark.sql.DataFrame, q: Int): Long =
      df.groupBy("g").agg(GraftFunctions.histQuantile(col("v"), 16L, 64, q).as("e"))
        .collect().head.getAs[Long]("e")
    for (q <- Seq(10, 50, 90, 100)) {
      val exact = vals.sorted.apply(((q * vals.length + 99) / 100) - 1)
      val e = est(d, q)
      assert(e > exact && e - exact <= 16, s"q=$q exact=$exact est=$e")
      // merge path: same result however the rows are partitioned
      assert(est(d.repartition(7), q) == e)
    }
    // clamp: values past maxBuckets*width saturate to the sentinel edge
    val big = Seq(("g", 10L), ("g", 5000L), ("g", 6000L)).toDF("g", "v")
    assert(est(big, 90) == 65L * 16L)
    // empty group (all nulls) -> null estimate
    val nulls = Seq(("g", None: Option[Long])).toDF("g", "v")
    val r = nulls.groupBy("g")
      .agg(GraftFunctions.histQuantile(col("v"), 16L, 64, 50).as("e")).collect().head
    assert(r.isNullAt(1))
  }

  test("TopKByScore: rank order with id tie-break, partition-invariant, k-capped") {
    val d = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 20L), ("a", 5L, 5L),
      ("b", 9L, 7L)).toDF("g", "id", "score")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(GraftFunctions.topKByScore(col("score"), col("id"), 3).as("top"))
        .select(col("g"), posexplode(col("top")))
        .select(col("g"), col("pos"), col("col.score"), col("col.id"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val expected = Set(
      ("a", 0, 30L, 2L), ("a", 1, 30L, 3L), ("a", 2, 20L, 4L), // ties: lower id first
      ("b", 0, 7L, 9L)) // fewer than k rows -> all of them
    assert(run(d) == expected)
    assert(run(d.repartition(5)) == expected) // merge path: same selection
  }

  test("lshBucket literal-plane form matches the oracle's md5 sign derivation") {
    // plane sign for (p, i) must equal the SQL mirror's
    // ('0x' || substring(md5(p || ':' || i), 1, 8))::BIGINT & 1 test.
    // Spot-check a few against values computed via Spark's own md5():
    val checks = Seq((0, 1), (0, 2), (3, 7), (5, 64))
    val sparkSigns = checks.map { case (p, i) =>
      spark.sql(s"SELECT cast(conv(substring(md5('$p:$i'), 1, 8), 16, 10) as bigint) & 1")
        .collect().head.getLong(0)
    }
    val scalaSigns = checks.map { case (p, i) =>
      if (Similarity.planeSign(p, i) > 0) 1L else 0L
    }
    assert(sparkSigns == scalaSigns)
  }

  test("graft_moments: zero-length vectors are counted and never mix with d > 0") {
    def moments(vecs: Seq[Seq[Double]], slices: Int) =
      spark.sparkContext.parallelize(vecs, slices).toDF("v")
        .agg(GraftFunctions.momentMatrix(col("v")))
        .head().getSeq[java.math.BigDecimal](0).map(_.longValueExact())
    // all rows 0-dim, spread over partitions: d = 0 and every row counted
    assert(moments(Seq(Seq.empty, Seq.empty, Seq.empty), 3) == Seq(0L, 3L))
    // nothing seen at all: the empty result
    assert(moments(Seq.empty, 2) == Seq(0L, 0L))
    // a 0-dim vector next to a 2-dim one is a dimension mismatch, on the
    // update path (one partition) and on the merge path (two)
    for (slices <- Seq(1, 2)) {
      val e = intercept[Exception](
        moments(Seq(Seq.empty, Seq(1.0, 2.0)), slices))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("mixed vector dimensions")),
        s"slices=$slices: ${e.getMessage}")
    }
  }
}
