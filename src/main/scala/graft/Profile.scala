package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Scratch stage-level profiler for the hot LLM-suite queries (dev tool,
  * not part of the engine surface). */
object Profile {
  def time(name: String)(df: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (args.contains("loops")) { profileLoops(spark, dir); spark.stop(); return }
    if (args.contains("tail")) { profileTail(spark, dir, args.filter(_.startsWith("q"))); spark.stop(); return }
    if (args.contains("q153regime")) { profileQ153Regime(spark, dir); spark.stop(); return }
    if (args.contains("webcorpus")) { profileWebcorpus(spark); spark.stop(); return }

    val docs = Tables.documents(spark, dir)
    println(s"[profile] docs partitions = ${docs.rdd.getNumPartitions}")
    time("warmup")(docs.select(col("doc_id")))

    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    time("shingleSets")(sets)
    val sigs = sets.select(col("doc_id"), Dedup.minhashSignature(col("shingles"), 64).as("sig"))
    time("sigs (64 xxhash/shingle)")(sigs)
    val cands = Dedup.lshCandidates(sigs, 16, 4)
    time("lshCandidates")(cands)
    println(s"[profile] n candidates = ${cands.count()}")
    time("nearDupPairs full")(Dedup.nearDupPairs(docs, "doc_id", "text"))

    // repartitioned variant
    val docsR = docs.repartition(32)
    time("nearDupPairs repart32")(Dedup.nearDupPairs(docsR, "doc_id", "text"))

    // q42
    time("q42 full")(Dedup.jaccardPairsExact(docs, "doc_id", "text"))
    time("q42 full again")(Dedup.jaccardPairsExact(docs, "doc_id", "text"))

    // q42 persisted-sets A/B: does caching beat the ~3x shingle recompute?
    val setsP = Dedup.shingleSets(docs, "doc_id", "text", 3).persist()
    time("q42 persisted cold")(Dedup.jaccardPairsExactOnSets(setsP, 4, 5))
    time("q42 persisted warm")(Dedup.jaccardPairsExactOnSets(setsP, 4, 5))
    setsP.unpersist()

    val emb = Tables.embeddings(spark, dir)
    println(s"[profile] emb partitions = ${emb.rdd.getNumPartitions}")
    time("bucketedNN label")(Similarity.bucketedNearestNeighbor(emb, "vec_id", "embedding", "label"))
    time("bucketedNN label repart")(Similarity.bucketedNearestNeighbor(emb.repartition(32), "vec_id", "embedding", "label"))
    println(s"[profile] label buckets: ")
    emb.groupBy("label").count().orderBy(desc("count")).show(5)
    time("lsh ann 6 planes")(Similarity.lshNearestNeighbor(emb, "vec_id", "embedding", 6))
    spark.stop()
  }

  /** Long-tail fixed-overhead attribution (r18, VERDICT #6): for each
    * named query, decompose the per-rep wall into task time (sum of task
    * durations / cores — the only data-proportional part), job/stage
    * counts, and everything else (Catalyst planning, AQE
    * re-optimization, scheduling, noop-commit) — the fixed per-query
    * cost that dominates a fixture-scale suite. Usage:
    *   sbt "runMain graft.Profile tail q85_normalize_dedup q102_bucketed_join" */
  def profileTail(spark: SparkSession, dir: String, names: Array[String]): Unit = {
    import org.apache.spark.scheduler._
    val stats = new java.util.concurrent.atomic.AtomicLongArray(4)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        stats.getAndAdd(0, 1L)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stats.getAndAdd(1, 1L)
        stats.getAndAdd(2, s.stageInfo.numTasks.toLong)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) stats.getAndAdd(3, t.taskInfo.duration)
    })
    val qs = if (names.nonEmpty) names.toSeq
      else Seq("q334_webcorpus_decontam", "q85_normalize_dedup",
        "q102_bucketed_join", "q124_subquery_sql", "q314_webcorpus_rejects")
    for (rep <- 1 to 2; q <- qs) {
      (0 to 3).foreach(stats.set(_, 0L))
      Thread.sleep(200)
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"[tail] $q%-28s rep$rep wall ${wall}%6.2f s  jobs ${stats.get(0)}%3d  " +
        f"stages ${stats.get(1)}%3d  tasks ${stats.get(2)}%5d  taskSum ${stats.get(3) / 1e3}%6.2f s")
    }
  }

  /** Iterative-loop plan capture + timing for the graph operators (r18):
    * the loop rounds materialize eagerly inside each operator (sever =
    * eager localCheckpoint), so Explain only ever shows the final severed
    * scan — a QueryExecutionListener records every executed round plan
    * instead. Prints per-round Exchange/Sort node counts and one full
    * representative round plan per operator, plus interleaved timings.
    * Run against stashed (r17) vs current code for the plans/r18
    * before/after evidence. */
  def profileLoops(spark: SparkSession, dir: String): Unit = {
    val plans = scala.collection.mutable.Buffer[(String, String)]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          plans.synchronized { plans += funcName -> qe.executedPlan.toString }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    val und = graft.sources.CoPurchaseGraph.distinctEdges(spark, dir)
    time("warmup (graph table)")(und.select(col("pa")))
    import spark.implicits._
    def run(label: String)(body: => DataFrame): Unit = {
      plans.synchronized(plans.clear())
      Thread.sleep(200)
      time(label)(body)
      Thread.sleep(200)
      val snap = plans.synchronized(plans.toVector)
      snap.zipWithIndex.foreach { case ((fn, p), i) =>
        val ex = p.linesIterator.count(_.contains("Exchange"))
        val srt = p.linesIterator.count(l => l.trim.startsWith("+- Sort") ||
          l.trim.startsWith(":- Sort") || l.trim.startsWith("Sort "))
        println(s"[loops] $label job$i($fn): $ex Exchange, $srt Sort")
      }
      // one representative ROUND plan: the last checkpoint before the end
      snap.reverse.find(_._1.contains("Checkpoint")).orElse(snap.lastOption)
        .foreach { case (fn, p) =>
          println(s"[loops] ===== $label representative round plan ($fn) =====")
          println(p.linesIterator.take(60).mkString("\n"))
        }
    }
    for (rep <- 1 to 2) {
      run(s"q148 labelprop rep$rep")(
        graft.operators.LabelProp.communities(und, "pa", "pb", rounds = 3))
      run(s"q233-bfs hop3 rep$rep")(
        graft.operators.Bfs.hopDistances(und, "pa", "pb",
          Seq(1L).toDF("node"), "node", maxHops = 3))
      run(s"q186 hits r2 rep$rep")(
        graft.operators.Hits.scores(
          Tables.lineitem(spark, dir).select(col("l_suppkey"), col("l_partkey")),
          "l_suppkey", "l_partkey", rounds = 2))
    }
  }

  /** JOB-level attribution of the webcorpus build/append at fixture scale
    * (r17): q313/q317/q323 are dominated by per-action fixed overhead
    * (330-page fixture, ~25 Spark actions each), so the lever is the
    * NUMBER and cost of actions, not data volume. Registers a listener
    * recording every job's wall time + call site, then runs the one-shot
    * build, the base build, the restore copy, and the batch append the
    * way q317 composes them, printing per-phase totals and the slowest
    * jobs of each phase. */
  def profileWebcorpus(spark: SparkSession): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = scala.collection.concurrent.TrieMap[Int, (String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (Option(j.properties.getProperty("spark.job.description"))
          .getOrElse(j.stageInfos.lastOption.map(_.name.take(70)).getOrElse("?")),
          System.nanoTime()))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(j.jobId)
        if (st != null) done.put(j.jobId, (st._1, (System.nanoTime() - st._2) / 1e9))
      }
    })
    // ACTION-level durations (QueryExecutionListener): include Catalyst
    // analysis/optimization/physical planning and AQE re-optimization —
    // the wall-minus-jobSum gap the job listener cannot see (r18)
    val acts = scala.collection.concurrent.TrieMap[Long, (String, Double)]()
    val actSeq = new java.util.concurrent.atomic.AtomicLong()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          acts.put(actSeq.incrementAndGet(), (fn, ns / 1e9))
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    val warcShards = "/root/repo/fixtures/warc_shards.parquet"
    val robotsFx = "/root/repo/fixtures/robots.parquet"
    def phase(label: String)(body: => Unit): Unit = {
      done.clear()
      acts.clear()
      val t0 = System.nanoTime()
      body
      Thread.sleep(300) // let the listener bus drain
      val wall = (System.nanoTime() - t0) / 1e9
      val byJob = done.values.toSeq
      val byAct = acts.values.toSeq
      println(f"[webcorpus] $label%-22s wall ${wall}%7.2f s  jobs ${byJob.size}%3d  jobSum ${byJob.map(_._2).sum}%7.2f s  acts ${byAct.size}%3d  actSum ${byAct.map(_._2).sum}%7.2f s")
      byJob.groupBy(_._1).map { case (site, xs) => (site, xs.map(_._2).sum, xs.size) }
        .toSeq.sortBy(-_._2).take(12).foreach { case (site, s, n) =>
          println(f"[webcorpus]    $s%6.2f s  ×$n%-3d $site")
        }
    }
    val full = java.nio.file.Files.createTempDirectory("graft-wcprof-full").toString
    phase("build (6 shards)") {
      graft.app.WebCorpusApp.build(spark, warcShards, robotsFx, full)
    }
    val base = java.nio.file.Files.createTempDirectory("graft-wcprof-base").toString
    phase("build base (5 shards)") {
      graft.app.WebCorpusApp.build(spark, warcShards, robotsFx, base,
        shardPred = col("shard_id") =!= 5)
    }
    phase("append shard 5") {
      graft.app.WebCorpusApp.append(spark, warcShards, robotsFx, base,
        batchId = "shard-5", shardPred = col("shard_id") === 5)
    }
    phase("maintain") {
      graft.app.WebCorpusApp.maintain(spark, base)
    }
  }

  /** Join-regime A/B for q153's bimodality (r17): run the shipped
    * topPredictions under (a) bench defaults, (b) broadcast disabled
    * (forced sort-merge/shuffled-hash), (c) broadcast forced large —
    * 3 reps each, printing the time and the JOIN NODES of the final
    * (post-AQE) executed plan, so the fast and slow modes can be mapped
    * to a physical regime instead of guessed at. */
  def profileQ153Regime(spark: SparkSession, dir: String): Unit = {
    val und = graft.sources.CoPurchaseGraph.distinctEdges(spark, dir)
    time("warmup (graph table)")(und.select(col("pa")))
    def joinsOf(df: DataFrame): String = {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("AQEShuffleRead"))
        .map(_.trim.take(90)).mkString(" | ")
    }
    val floor = spark.sparkContext.defaultParallelism.toString
    for (rep <- 1 to 3;
         (label, confs) <- Seq(
           "bench-default" -> Map(
             "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> floor),
           "no-broadcast" -> Map(
             "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> floor,
             "spark.sql.autoBroadcastJoinThreshold" -> "-1",
             "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"),
           "broadcast-200m" -> Map(
             "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> floor,
             "spark.sql.autoBroadcastJoinThreshold" -> "200m",
             "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "200m"))) {
      val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = graft.operators.LinkPredict.topPredictions(und, hubCap = 200, k = 50)
        val t0 = System.nanoTime()
        val joins = joinsOf(df)
        println(f"[regime] $label%-15s rep$rep ${(System.nanoTime() - t0) / 1e9}%7.2f s  $joins")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
