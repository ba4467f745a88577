package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence harness (dev tool, like [[Bench]]): answers "what
  * happens ABOVE the bench SF?" with measurements instead of claims.
  *
  * Builds a ~sf1 dataset by replicating the driver's sf0.1 tables
  * `REPLICATION`× under per-replica KEY OFFSETS — each replica's entity
  * keys are disjoint (customers, parts, suppliers, orders, events, docs,
  * vectors), dimension tables (region/nation) and the calendar stay
  * shared, so the scaled corpus has the same local structure (degree
  * distributions, basket sizes, text content) at 10× the volume: the
  * co-purchase graph becomes 10 disjoint copies, daily event density
  * rises 10×, dedup clusters grow 10×. That is exactly the axis a
  * 100-TB deployment grows along (more entities, same physics), and it
  * is the stress the per-key/bounded-state scale arguments must survive.
  * Offsets are sized so every replicated id stays far below 2³¹ — the
  * packed-key operators' loud guard (LinkPredict/LabelProp) must keep
  * holding at sf1.
  *
  * Runs each query once at sf0.1 and once at sf1 (same local[cpus]
  * session, noop sink — see Bench's rationale) with a task-metrics
  * listener, and prints one JSON line per query: wall seconds at both
  * scales, the ratio, disk/memory spill, shuffle write volume, peak
  * single-task execution memory, and the longest single task — the
  * numbers that expose a memory cliff, an accidental O(n²), or a
  * single-task serialization point before a cluster does.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleBench"` —
  * env knobs: SPARK_GRAFT_SCALE_SRC (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE_DIR (default /tmp/graft_sf1),
  * SPARK_GRAFT_SCALE_REPL (default 10),
  * SPARK_GRAFT_SCALE_ONLY (comma list to restrict queries). */
object ScaleBench {

  /** Queries measured: every family with real data-volume exposure —
    * scan/agg, multi-join, top-k, the dedup ladder, banded ANN, corpus
    * build, text stats, graph suite (incl. the q153 heavy), PCA moments,
    * PrefixSum slabs, driver-bounded ABC classes, the q232 equi-depth
    * profiler (the round-9 verdict's flagged single-task window risk),
    * and the value-histogram median. Excluded by design: q31 brute-force
    * ANN (the stated non-scale baseline — its bucketed/IVF successors
    * are here), fixture-input pipeline queries (journey/weather/media:
    * fixed-size inputs, no SF axis), and streaming queries (micro-batch
    * machinery floor dominates; bounded state is argued by watermarks,
    * not data volume). */
  val DefaultQueries: Seq[String] = Seq(
    "q01_groupby_agg", "q05_roleplay_join", "q08_topk",
    "q27_exact_dedup", "q28_neardup_pairs", "q38_neardup_dedup",
    "q39_lsh_ann", "q46_ivf_trained_nn", "q96_containment",
    "q110_semdedup", "q66_token_quantiles", "q81_corpus_stats",
    "q180_heaps_law", "q158_pca_top",
    "q142_triangle_counts", "q146_kcore", "q148_label_prop",
    "q173_harmonic_centrality", "q208_item_cf", "q233_diameter_sweep",
    "q153_link_predict",
    "q211_abc_classes", "q232_column_profile", "q241_weighted_lag",
    "q244_coverage_gaps",
    // round-11 additions: BQ rerank (trained-cell ANN under growth),
    // quality keeper (near-dup + CC composition), source minhash +
    // zipf spectrum (per-source state, should be ~flat under
    // replication), k-anonymity (output SHRINKS as data grows)
    "q266_ivf_bq_rerank", "q269_quality_keeper", "q271_source_minhash",
    "q272_zipf_spectrum", "q274_k_anonymity",
    // round-13 crawl-side ops with an SF axis: URL canonicalization is a
    // pure per-row projection (ratio should track the scan), URL dedup
    // adds the one groupBy on the canonical string. q292 (persisted-index
    // search) stays out: its first call pays the one-time index build,
    // which would pollute a single-shot ratio. The fixture-input crawl
    // ops (WARC/HTML/PDF/paragraph) have no SF axis
    "q300_url_canonical", "q301_url_dedup")

  /** Per-replica key offsets, disjoint per entity family and sized so
    * max(id) + REPL·offset ≪ 2³¹ for the packed-key id spaces (parts,
    * users, docs) while staying comfortably unique for the rest. */
  private[graft] val Offsets: Map[String, Map[String, Long]] = Map(
    "customer" -> Map("c_custkey" -> 1000000L),
    "supplier" -> Map("s_suppkey" -> 1000000L),
    "part" -> Map("p_partkey" -> 1000000L),
    "orders" -> Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L),
    "lineitem" -> Map("l_orderkey" -> 10000000L, "l_partkey" -> 1000000L,
      "l_suppkey" -> 1000000L),
    "events" -> Map("event_id" -> 100000000L, "user_id" -> 1000000L),
    "documents" -> Map("doc_id" -> 1000000L),
    "embeddings" -> Map("vec_id" -> 1000000L),
    "region" -> Map.empty, "nation" -> Map.empty)

  private[graft] def replicate(df: DataFrame, n: Int, offsets: Map[String, Long]): DataFrame =
    if (offsets.isEmpty) df
    else {
      val withRep = df.withColumn("rep", explode(sequence(lit(0L), lit(n - 1L))))
      offsets.foldLeft(withRep) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + col("rep") * off)
      }.drop("rep")
    }

  private def buildScaled(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    // ONE marker whose CONTENT records (src, n): a directory built x30 and
    // later requested x10 must rebuild, not silently serve the x30 data —
    // per-replication marker files left both behind and the stale one won
    val marker = new java.io.File(s"$out/_BUILT")
    val want = s"$src x $n\n"
    if (marker.isFile &&
        java.nio.file.Files.readString(marker.toPath) == want) {
      println(s"[scale] reusing $out (x$n)"); return
    }
    if (marker.isFile) marker.delete() // stale build: different src or n
    println(s"[scale] building $out = $src x $n")
    val shards = spark.sparkContext.defaultParallelism
    Offsets.foreach { case (table, offs) =>
      val df = spark.read.parquet(s"$src/$table.parquet")
      // replicated tables must land in cluster-shaped files: the explode
      // inflates 1-2 input splits into GB-scale row groups, which would
      // hand the SCAN side a single-task stage — a build artifact, not
      // an engine property
      val scaled = replicate(df, n, offs)
      (if (offs.isEmpty) scaled else scaled.repartition(shards))
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    java.nio.file.Files.writeString(marker.toPath, want)
  }

  /** Whole-run task-metrics sink; reset per measured query. Also keeps a
    * per-stage breakdown (task count, total/max task time, spill) so a
    * straggler can be ATTRIBUTED to its plan site, not just observed. */
  private class Metrics extends SparkListener {
    val diskSpill = new AtomicLong; val memSpill = new AtomicLong
    val shufWrite = new AtomicLong; val input = new AtomicLong
    val peakMem = new AtomicLong; val maxTaskMs = new AtomicLong
    case class StageAgg(var name: String = "", var tasks: Long = 0L,
                        var totalMs: Long = 0L, var maxMs: Long = 0L,
                        var spill: Long = 0L)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    override def onStageSubmitted(
        e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
      val agg = stages.computeIfAbsent(e.stageInfo.stageId, _ => StageAgg())
      agg.name = e.stageInfo.name.linesIterator.nextOption().getOrElse("")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        diskSpill.addAndGet(m.diskBytesSpilled)
        memSpill.addAndGet(m.memoryBytesSpilled)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        peakMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        if (e.taskInfo != null) {
          maxTaskMs.getAndUpdate(p => math.max(p, e.taskInfo.duration))
          val agg = stages.computeIfAbsent(e.stageId, _ => StageAgg())
          agg.synchronized {
            agg.tasks += 1
            agg.totalMs += e.taskInfo.duration
            agg.maxMs = math.max(agg.maxMs, e.taskInfo.duration)
            agg.spill += m.diskBytesSpilled
          }
        }
      }
    }
    def topStages(n: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2.totalMs).take(n).map { case (id, a) =>
        f"    stage $id%5d tasks=${a.tasks}%3d total=${a.totalMs / 1000.0}%.1fs " +
          f"max=${a.maxMs / 1000.0}%.1fs spill=${a.spill / 1048576}%dMB  ${a.name.take(90)}"
      }
    }
    def reset(): Unit = {
      Seq(diskSpill, memSpill, shufWrite, input, peakMem, maxTaskMs)
        .foreach(_.set(0L))
      stages.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val repl = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPL", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Shuffle-partition count is THE deployment knob this harness exists
    // to measure: local[32] with 32 partitions puts 46M candidate rows in
    // one q153 aggregate task at sf1 (past the sort-agg spill knee); a
    // real cluster sizes partitions at 64-128MB of shuffle data.
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — arbitrary session confs for
    // A/B runs (e.g. adaptive.coalescePartitions.minPartitionNum, which
    // stops AQE from merging the reads of a stage whose JOIN output
    // explodes far past its input — AQE sizes reads from input bytes)
    val builder0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufParts)
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
      .map(_.split(";").filter(_.contains("=")))
      .getOrElse(Array.empty[String])
      .foldLeft(builder0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-scale-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new Metrics
    spark.sparkContext.addSparkListener(metrics)

    buildScaled(spark, src, out, repl)

    def mb(l: Long): Double = math.round(l / 1048.576) / 1000.0
    val names = DefaultQueries.filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(dir: String): (Double, Map[String, Double]) = {
        spark.sharedState.cacheManager.clearCache()
        metrics.reset()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, Map(
          "spill_disk_mb" -> mb(metrics.diskSpill.get),
          "spill_mem_mb" -> mb(metrics.memSpill.get),
          "shuffle_write_mb" -> mb(metrics.shufWrite.get),
          "input_mb" -> mb(metrics.input.get),
          "peak_task_mem_mb" -> mb(metrics.peakMem.get),
          "max_task_sec" -> metrics.maxTaskMs.get / 1000.0))
      }
      try {
        // untimed warmup at the smallest SF: plan + codegen compile
        // must not be attributed to the sf0.1 leg (Bench's rationale)
        try fn(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        val (small, _) = run(src)
        val (big, m) = run(out)
        if (sys.env.contains("SPARK_GRAFT_SCALE_STAGES")) {
          System.err.println(s"[stages] $name (sf1 leg):")
          metrics.topStages(6).foreach(System.err.println)
        }
        val ratio = math.round(big / small * 100) / 100.0
        val extra = m.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        println(f"""{"query":"$name","sf01_sec":${math.round(small * 1000) / 1000.0}%s,"sf1_sec":${math.round(big * 1000) / 1000.0}%s,"ratio":$ratio%s,$extra}""")
      } catch {
        case e: Throwable =>
          println(s"""{"query":"$name","error":"${Option(e.getMessage).getOrElse(e.getClass.getName).take(200).replace("\"", "'").replace("\n", " ")}"}""")
      }
    }
    spark.stop()
  }
}
