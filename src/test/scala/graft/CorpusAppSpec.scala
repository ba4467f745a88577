package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.app.CorpusApp
import graft.sources.Sinks

/** End-to-end corpus materialization: one build over the sf0.001 documents
  * table, then structural invariants over the WRITTEN tables (shard sizing,
  * rank totality, manifest handshake) and byte-identical rebuild — the
  * determinism contract a restartable 100-TB build depends on. */
class CorpusAppSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def build(): String = {
    val out = Files.createTempDirectory("graft-corpus-spec").toString
    CorpusApp.build(spark, sf, out)
    out
  }

  test("written corpus: positions are a total 1..n rank and shards are full except the last") {
    val out = build()
    val corpus = spark.read.parquet(s"$out/corpus")
    val n = corpus.count()
    assert(n > 0)
    // pos is exactly 1..n — no gaps, no dup ranks, no single-task sort needed to prove it
    val agg = corpus.agg(
      min("pos").as("mn"), max("pos").as("mx"),
      countDistinct("pos").as("d")).head()
    assert(agg.getLong(0) == 1L && agg.getLong(1) == n && agg.getLong(2) == n)
    // every shard holds ShardSize docs except possibly the last
    val sizes = corpus.groupBy("shard").agg(count(lit(1)).as("c"))
      .orderBy("shard").collect()
    sizes.dropRight(1).foreach(r => assert(r.getLong(1) == CorpusApp.ShardSize))
    assert(sizes.last.getLong(1) <= CorpusApp.ShardSize)
    // shard is derived from pos, so shard boundaries respect the global order
    val crossCheck = corpus
      .filter(expr(s"shard != (pos - 1) div ${CorpusApp.ShardSize}")).count()
    assert(crossCheck == 0)
  }

  test("manifest agrees with the written tables; stats sum to the corpus") {
    val out = build()
    val corpus = spark.read.parquet(s"$out/corpus")
    val m = spark.read.parquet(s"$out/manifest").head()
    assert(m.getAs[Long]("n_clean") == corpus.count())
    assert(m.getAs[Long]("n_shards") == corpus.select("shard").distinct().count())
    assert(m.getAs[Long]("n_raw") ==
      spark.read.parquet(s"$sf/documents.parquet").count())
    val stats = spark.read.parquet(s"$out/corpus_stats")
    val totals = stats.agg(sum("n_docs"), sum("n_tokens")).head()
    val direct = corpus.agg(count(lit(1)), sum("n_tokens")).head()
    assert(totals.getLong(0) == direct.getLong(0))
    assert(totals.getLong(1) == direct.getLong(1))
  }

  test("append: init + batch covers the same survivor set; old positions never move; rerun is a no-op") {
    val out = Files.createTempDirectory("graft-corpus-spec").toString
    CorpusApp.build(spark, sf, out, pred = col("doc_id") % 2 === 0)
    val phase1 = spark.read.parquet(s"$out/corpus")
      .select("doc_id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    CorpusApp.append(spark, sf, out, batchId = "b1", pred = col("doc_id") % 2 === 1)
    val after = spark.read.parquet(s"$out/corpus")
      .select("doc_id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every phase-1 row kept its exact position
    phase1.foreach { case (id, p) => assert(after(id) == p) }
    // appended rows occupy max(phase1)+1 .. n contiguously
    assert(after.values.toSeq.sorted == (1L to after.size.toLong))

    // same batch id again: ledger-gated full no-op (data AND manifest)
    CorpusApp.append(spark, sf, out, batchId = "b1", pred = col("doc_id") % 2 === 1)
    assert(spark.read.parquet(s"$out/corpus").count() == after.size.toLong)

    // the exact-fp history gate held: no content fingerprint appears twice
    val c = spark.read.parquet(s"$out/corpus")
    assert(c.select("fp").distinct().count() == c.count())
    // manifest tracked the cumulative raw count across both phases
    assert(spark.read.parquet(s"$out/manifest").head().getAs[Long]("n_raw") ==
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("append never rescans the written corpus beyond the fp gate and max-pos read") {
    // the O(batch)-not-O(corpus) claim, asserted structurally: register a
    // QueryExecutionListener for the whole append and record every column
    // each file scan reads from the written corpus. The exact-fp gate reads
    // `fp`, the position offset reads `pos` — a derived-table rescan would
    // read source/n_tokens/shard and fail the subset check.
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft-corpus-spec").toString
    CorpusApp.build(spark, sf, out, pred = col("doc_id") % 2 === 0)
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.sparkPlan.foreach {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            scans.add((f.relation.location.rootPaths.map(_.toString).mkString(","),
              f.output.map(_.name)))
          case _ => ()
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    // the build's own scans must not land in `scans`
    GraftSqlBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      CorpusApp.append(spark, sf, out, batchId = "b1", pred = col("doc_id") % 2 === 1)
      // the execution listener is fed from the listener bus: drain it so
      // every scan of the append has landed before asserting on them
      GraftSqlBridge.drainListenerBus(spark.sparkContext)
      val corpusScans = scans.asScala
        .filter(_._1.startsWith(s"file:$out/corpus"))
        .filterNot(_._1.contains("corpus_stats")).toSeq
      assert(corpusScans.nonEmpty, s"no corpus scans observed; saw ${scans.asScala.toSeq}")
      val colsRead = corpusScans.flatMap(_._2).toSet
      assert(colsRead.subsetOf(Set("fp", "pos")),
        s"append scanned written-corpus columns beyond the gate: $colsRead")
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental derived tables equal the full audit recompute") {
    val out = Files.createTempDirectory("graft-corpus-spec").toString
    CorpusApp.build(spark, sf, out, pred = col("doc_id") % 3 === 0)
    CorpusApp.append(spark, sf, out, batchId = "b1", pred = col("doc_id") % 3 === 1)
    CorpusApp.append(spark, sf, out, batchId = "b2", pred = col("doc_id") % 3 === 2)
    def snap(t: String) =
      spark.read.parquet(s"$out/$t").collect().map(_.toString).toSet
    val incStats = snap("corpus_stats")
    val incManifest = snap("manifest")
    CorpusApp.auditDerived(spark, out)
    assert(snap("corpus_stats") == incStats, "audit recompute diverged from folded stats")
    assert(snap("manifest") == incManifest, "audit recompute diverged from folded manifest")
  }

  private def rows(dir: String, t: String): Set[String] = {
    val df = spark.read.parquet(s"$dir/$t")
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSet
  }

  test("appendBatch: in-batch duplicates collapse to the min id; re-ingest under a new id appends nothing") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val shift = docs.agg(max("doc_id")).head().getLong(0) + 1
    // every doc of the batch twice: the copy under a larger id must lose
    val doubled = batch.unionByName(batch.withColumn("doc_id", col("doc_id") + shift))
    val out = Files.createTempDirectory("graft-corpus-spec").toString
    CorpusApp.appendBatch(spark, out, "b1", doubled)
    val single = Files.createTempDirectory("graft-corpus-spec").toString
    CorpusApp.appendBatch(spark, single, "b1", batch)
    val corpus = spark.read.parquet(s"$out/corpus")
    val n = corpus.count()
    assert(n > 0 && corpus.select("fp").distinct().count() == n)
    assert(corpus.filter(col("doc_id") >= shift).count() == 0, "a higher-id copy survived")
    assert(rows(out, "corpus") == rows(single, "corpus"))
    assert(rows(out, "corpus_stats") == rows(single, "corpus_stats"))
    // the same docs under a NEW batch id pass the ledger gate; the exact
    // fp gate against the written corpus leaves nothing to append
    CorpusApp.appendBatch(spark, out, "b2", batch)
    assert(spark.read.parquet(s"$out/corpus").count() == n)
    assert(rows(out, "corpus_stats") == rows(single, "corpus_stats"))
    assert(Sinks.ledger(spark, s"$out/ledger").keySet == Set("b1", "b2"))
  }

  test("crash matrix: a crash at any commit rename of an append converges on replay") {
    val t0 = System.nanoTime()
    val base = Files.createTempDirectory("graft-corpus-spec").toString
    CorpusApp.build(spark, sf, base, pred = col("doc_id") % 2 === 0)
    def copyOfBase(): String = {
      val w = Files.createTempDirectory("graft-corpus-spec").toString
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(base), new java.io.File(w))
      w
    }
    def append(out: String): Unit =
      CorpusApp.append(spark, sf, out, batchId = "b1", pred = col("doc_id") % 2 === 1)
    val tables = Seq("corpus", "corpus_stats", "manifest", "ledger")
    val clean = copyOfBase()
    val renames = CrashingFs.around(spark, failAt = None)(append(clean))
      .map(_.stripPrefix(clean))
    // the swap renames of corpus_stats, manifest and ledger, plus the
    // first tagged move into corpus/ (its part names carry a per-write
    // UUID, so that point is named by directory)
    val swaps = renames.filterNot(_.startsWith("/corpus/"))
    assert(swaps.toSet == Set("/corpus_stats.__old", "/corpus_stats", "/manifest.__old",
      "/manifest", "/ledger.__old", "/ledger"), renames.mkString("\n"))
    val points = swaps.map(p => (Some(p), None)) :+ ((None, Some("/corpus")))
    val want = tables.map(t => t -> rows(clean, t)).toMap
    val diverged = points.flatMap { case (at, under) =>
      val w = copyOfBase()
      CrashingFs.around(spark, at.map(w + _), under.map(w + _)) {
        intercept[java.io.IOException](append(w))
      }
      append(w)
      // a table the crash left missing counts as diverged
      tables.filterNot(t => scala.util.Try(rows(w, t)).toOption.contains(want(t)))
        .map(t => s"${at.orElse(under).get}: $t")
    }
    assert(diverged.isEmpty, s"tables diverged from a clean append: ${diverged.mkString(", ")}")
    // a FIRST batch (no build) crashed on its first corpus move leaves a
    // corpus directory with no data file behind
    val Seq(first, firstClean) =
      Seq.fill(2)(Files.createTempDirectory("graft-corpus-spec").toString)
    CrashingFs.around(spark, failAt = None, failUnder = Some(s"$first/corpus")) {
      intercept[java.io.IOException](append(first))
    }
    append(first)
    append(firstClean)
    tables.foreach(t => assert(rows(first, t) == rows(firstClean, t), s"first batch: $t"))
    info(f"${points.size + 1} crash points in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("rebuild over the same input is byte-identical (restartability contract)") {
    val a = build()
    val b = build()
    for (t <- Seq("corpus", "corpus_stats", "manifest"))
      assert(rows(a, t) == rows(b, t), s"table $t differs")
  }

  test("Materialized.resetPerPass forces a full corpus rebuild (bench honesty hook)") {
    // the bench drops corpus state between passes so every rep pays the
    // real build/append cost; this pins that the hook actually discards
    // the memoized materialization (a fresh temp dir on the next call)
    // and removes the old one from disk
    import graft.queries.CorpusQueries
    import graft.sources.Materialized
    Materialized.resetPerPass()
    val first = CorpusQueries.q81CorpusStats(spark, sf).inputFiles.toSet
    assert(CorpusQueries.q81CorpusStats(spark, sf).inputFiles.toSet == first,
      "memo must be stable between calls within a pass")
    Materialized.resetPerPass()
    val second = CorpusQueries.q81CorpusStats(spark, sf).inputFiles.toSet
    assert(second.nonEmpty && second != first,
      "reset did not force a rebuild into a fresh materialization")
    val oldDir = java.nio.file.Paths.get(
      new java.net.URI(first.head)).getParent.getParent
    assert(!java.nio.file.Files.exists(oldDir),
      s"reset left the previous materialization on disk: $oldDir")
    Materialized.resetPerPass()
  }
}
