package graft

/** Skew stress bench: runs the dedup/join/window suite over the
  * [[SkewFixture]] (one hot source / hot user / hot shingle at ~50% mass)
  * and records the work DISTRIBUTION, not just wall time — per query:
  * the worst stage's max-task/median-task ratio, max task ms, and shuffle
  * read/write volume, via [[Harness.TaskStats]].
  *
  * What the ratios mean: a skew-resilient plan (salted join, PrefixSum
  * mixing, df-ordered prefix index) keeps max/median low — the hot key's
  * work is spread across tasks. A per-key-sequential operator (sessionize:
  * ONE user's timeline is inherently one ordered group) honestly shows its
  * hot-key ratio instead of hiding it in a total. The JSON gates the
  * salted paths at ratio < [[SaltedRatioBound]] and separately reports
  * whether AQE's skew-join split fires on the raw (un-prefix-filtered)
  * shingle-index join — the safety net behind q42's own df-ordering, which
  * removes the hot posting list before the join ever sees it.
  *
  * One pass per query (after an untimed warmup): stage ratios are
  * structural — they reflect the plan's key distribution, not JIT noise,
  * so reps buy little here.
  */
object BenchSkew {

  /** Queries whose skew resilience is an explicit design claim. */
  val SaltedPaths = Seq("q90_salted_join", "q63_seq_packing", "q70_top_per_source",
    "q76_global_shuffle", "q78_quality_deciles", "q42_jaccard_exact")

  /** Per-key-sequential semantics (one user's ordered timeline): reported,
    * not gated — the honest cost of a hot key under such an operator. */
  val PerKeySequential = Set("q54_sessionize")

  val SaltedRatioBound = 4.0

  /** Suite: every query reading only documents/events tables whose plan
    * has a skewable shuffle (dedup banding, source mixing, user joins). */
  val Suite = Seq(
    "q27_exact_dedup", "q28_neardup_pairs", "q40_simhash_neardup",
    "q42_jaccard_exact", "q54_sessionize", "q63_seq_packing",
    "q70_top_per_source", "q76_global_shuffle", "q77_retention_cohorts",
    "q78_quality_deciles", "q90_salted_join",
    // round-6 additions: heavy hitters IS the zipf case (its shuffles carry
    // <=k counters / <=k candidate groups by construction — ratios should
    // stay flat however hot the keys); BM25 shuffles only term-filtered rows
    "q101_heavy_hitters", "q105_bm25_search",
    // round-7 additions: the bigram-count join probes hot (w1,w2) keys
    // from the zipf text (partial agg caps the count side; AQE owns probe
    // skew); streaming HLL carries 64-byte state per group however hot
    // the user — both observed for evidence, not gated
    "q135_bigram_rarity", "q137_stream_distinct",
    // round-10 additions: decontamination probes hot 8-gram keys (zipf
    // boilerplate grams are shared by many docs AND the eval slice —
    // the per-doc distinct() caps each doc's contribution and AQE owns
    // probe skew); fertility is a |languages|-key aggregate whose hot
    // language is partial-agg-combined — both observed for evidence
    "q248_decontamination", "q254_fertility")

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_SRC", "/root/testdata/sf0.1")
    val skewDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "fixtures/skew")
    val spark = Harness.session()

    if (!graft.sources.Sinks.exists(spark, s"$skewDir/documents.parquet") ||
        !graft.sources.Sinks.exists(spark, s"$skewDir/embeddings.parquet"))
      SkewFixture.generate(spark, srcDir, skewDir)

    val taskStats = Harness.TaskStats.attach(spark)
    Harness.warmUp(spark, Seq("q27_exact_dedup", "q28_neardup_pairs", "q54_sessionize"))

    val measured = scala.collection.mutable.LinkedHashMap[String, (Double, Harness.Snapshot)]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    for (name <- Suite) {
      try measured(name) =
        taskStats.measure(Harness.timedNoop(SparkEntry.queries(name)(spark, skewDir)))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench-skew] $name FAILED: ${e.getMessage}")
          failed += name
      }
      spark.sharedState.cacheManager.clearCache() // q42 persists its shingle sets
    }

    // AQE-skew safety-net check. q42's OWN join needs no AQE split on this
    // fixture — that is the finding, not a gap: the df-ordered prefix
    // index exiles the hot posting list (df=50k shingles rank last per
    // doc, so they never enter the index), and the measured stage ratio
    // above confirms no skewed partition survives. The net must still
    // exist for skew the operator does NOT remove, so verify AQE's
    // skew-join split fires on the RAW (un-prefix-filtered) inverted-index
    // self-join over the same hot-prefix fixture — the shape q42 would
    // degrade to without its filter. Sampled (1% of docs) and with
    // thresholds tuned to local-mode volumes: the check is of the
    // MECHANISM (does the final adaptive plan mark the join skewed), which
    // is volume-threshold-relative at any scale.
    import org.apache.spark.sql.functions.{col, explode}
    val aqeConfs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val aqeFired =
      try Harness.withConfs(spark, aqeConfs) {
        val docs = graft.sources.Tables.documents(spark, skewDir)
          .filter(col("doc_id") % 100 === 0).select("doc_id", "text")
        val sets = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
        val inv = sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
        val joined = inv.as("a").join(inv.as("b"), "sh")
          .filter(col("a.doc_id") < col("b.doc_id"))
          .groupBy().count()
        joined.collect()
        joined.queryExecution.executedPlan.toString.contains("skew=true")
      } catch { case _: Throwable => false }
      finally spark.sharedState.cacheManager.clearCache()

    // ------------------- candidate-volume gates (structural) -------------------
    // Wall time on a fixture tracks the box; CANDIDATE volume is a pure
    // function of (fixture, operator parameters) — the machine-independent
    // gate that catches banding/quantizer parameter regressions. Budgets
    // are justified against the operators' own scale claims:
    //
    //  * q28 (MinHash LSH, 16 bands × 4 rows): candidates must stay
    //    corpus-PROPORTIONAL. Measured volume on this fixture is ~100
    //    candidates/doc (9.9M over 100k docs): ~65 intra-base pairs per
    //    base doc (cross-replica J≈0.4 → per-pair collision
    //    p = 1-(1-0.4⁴)¹⁶ ≈ 0.34 over 190 replica pairs) plus the hot-
    //    prefix tail — SHORT hot docs reach J≈0.1-0.25 against each other
    //    (6 shared prefix tokens over few total), where 16×4 banding
    //    collides at 0.2-6%. Budget 512×n_docs is ~5× headroom over that
    //    measured linear volume, while a banding regression (e.g. 32
    //    bands × 2 rows: p(J=0.1) = 1-(1-0.01)³² ≈ 0.28) puts ≥340M
    //    candidates through the hot half alone — 6× past the budget.
    //  * SemDeDup cells at the documented k=√n sizing: in-cell pair
    //    volume ≤ 8·n^1.5 — 16× the perfectly-balanced volume (√n cells
    //    of √n vectors → n^1.5/2 pairs). A quantizer that fails to SPLIT
    //    the 50%-mass hot cluster leaves (n/2)²/2 pairs in one cell, two
    //    orders past the budget. (q110 itself pins k=8 for its sf-scale
    //    oracle; the gate runs the same train/assign path at the sizing
    //    the operator documents for scale.)
    import org.apache.spark.sql.functions.{count => fcount, lit, sum => fsum}
    val gateDocs = graft.sources.Tables.documents(spark, skewDir)
    val nDocs = gateDocs.count()
    val gateSets = graft.operators.Dedup.shingleSets(gateDocs, "doc_id", "text", 3)
    val gateSigs = gateSets.select(col("doc_id"),
      graft.operators.Dedup.minhashSignature(col("shingles"), 64).as("sig"))
    val q28Cands = graft.operators.Dedup.lshCandidates(gateSigs, 16, 4).count()
    val q28Budget = 512L * nDocs
    val gateEmb = graft.sources.Tables.embeddings(spark, skewDir)
      .select("vec_id", "embedding")
    val nVecs = gateEmb.count()
    val semCentroids = graft.operators.Similarity.trainCentroidsLite(
      gateEmb, "vec_id", "embedding", k = 0, sampleMod = 10L, maxSample = 2000)
    val semCellPairs = gateEmb
      .select(graft.operators.Similarity.ivfAssign(col("embedding"), semCentroids)
        .as("cluster"))
      .groupBy("cluster").agg(fcount(lit(1)).as("c"))
      .agg(fsum(col("c") * (col("c") - lit(1L)))).first().getLong(0) / 2
    val semBudget = (8.0 * math.pow(nVecs.toDouble, 1.5)).toLong

    //  * q153 (RA link prediction, hub cap 200): the hub-capped two-hop
    //    candidate stream must stay ≤ (cap/2)·Σdeg — the operator's own
    //    scale claim. Gate graph: deterministic zipf co-purchase edges
    //    (endpoint = floor(10000^u) over a salted-hash uniform u, so node
    //    v is drawn ∝ 1/v and the top nodes reach degrees in the
    //    thousands — far past the cap). The gate also recomputes the
    //    UNCAPPED pair volume Σ d·(d−1)/2 from the degree table and
    //    requires it ABOVE the budget: proof the fixture's hubs would
    //    blow the join without the cap, i.e. the gate is non-vacuous.
    import org.apache.spark.sql.functions.{concat, expr, floor => ffloor,
      greatest, least, pmod, pow => fpow}
    val gateHubCap = 200
    val zipfEdges = spark.range(400000L)
      .select(
        pmod(graft.functions.TextFunctions.md5Long(concat(lit("gA"), col("id"))),
          lit(1048576L)).as("ua"),
        pmod(graft.functions.TextFunctions.md5Long(concat(lit("gB"), col("id"))),
          lit(1048576L)).as("ub"))
      .select(
        ffloor(fpow(lit(10000.0), col("ua").cast("double") / 1048576.0))
          .cast("long").as("x"),
        ffloor(fpow(lit(10000.0), col("ub").cast("double") / 1048576.0))
          .cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("pa"), greatest(col("x"), col("y")).as("pb"))
      .distinct()
    val q153Cands = graft.operators.LinkPredict.raCandidates(zipfEdges, gateHubCap).count()
    val q153SumDeg = 2L * zipfEdges.count()
    val q153Budget = (gateHubCap.toLong / 2) * q153SumDeg
    val q153Uncapped = zipfEdges.select(col("pa").as("src"))
      .unionAll(zipfEdges.select(col("pb").as("src")))
      .groupBy("src").agg(fcount(lit(1)).as("d"))
      .agg(fsum(expr("d * (d - 1) DIV 2"))).first().getLong(0)

    val gatesOk = q28Cands <= q28Budget && semCellPairs <= semBudget &&
      q153Cands <= q153Budget && q153Uncapped > q153Budget
    spark.sharedState.cacheManager.clearCache()

    case class QStat(sec: Double, ratio: Double, maxTaskMs: Long, medTaskMs: Double,
                     nTasks: Int, shufReadMb: Double, shufWriteMb: Double)
    val stats = measured.toSeq.map { case (name, (sec, snap)) =>
      val durs = snap.tasks.map(_.durMs)
      name -> QStat(
        sec,
        Harness.worstStageRatio(snap.tasks),
        if (durs.isEmpty) 0L else durs.max,
        Harness.median(durs.map(_.toDouble)),
        durs.length,
        snap.tasks.map(_.shuffleReadB).sum / 1048576.0,
        snap.tasks.map(_.shuffleWriteB).sum / 1048576.0)
    }
    val saltedOk = stats.filter(s => SaltedPaths.contains(s._1))
      .forall(_._2.ratio < SaltedRatioBound)
    def f(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qJson = stats.map { case (n, s) =>
      s""""$n":{"sec":${f(s.sec)},"ratio":${f(s.ratio)},"max_task_ms":${s.maxTaskMs},""" +
        s""""med_task_ms":${f(s.medTaskMs)},"n_tasks":${s.nTasks},""" +
        s""""shuffle_read_mb":${f(s.shufReadMb)},"shuffle_write_mb":${f(s.shufWriteMb)}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"skew_suite","sf":"$skewDir","queries":$qJson,""" +
        s""""failed":${failed.map(q => s""""$q"""").mkString("[", ",", "]")},""" +
        s""""salted_paths":${SaltedPaths.map(q => s""""$q"""").mkString("[", ",", "]")},""" +
        s""""salted_ratio_bound":$SaltedRatioBound,"salted_ratio_ok":$saltedOk,""" +
        s""""candidate_gates":{"q28_lsh_candidates":$q28Cands,""" +
        s""""q28_budget":$q28Budget,"n_docs":$nDocs,""" +
        s""""semdedup_cell_pairs":$semCellPairs,"semdedup_budget":$semBudget,""" +
        s""""n_vecs":$nVecs,"q153_two_hop_candidates":$q153Cands,""" +
        s""""q153_budget":$q153Budget,"q153_uncapped_pairs":$q153Uncapped,""" +
        s""""q153_sum_deg":$q153SumDeg},"candidate_gates_ok":$gatesOk,""" +
        s""""aqe_skew_fired_raw_index_join":$aqeFired}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SKEW.json"), json)
    spark.stop()
  }
}
