package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.Sinks

/** The idempotent parquet sinks (S5/S6/S7): swap-commit overwrite, append,
  * keyed upsert — rerunning a week must be a no-op on keyed tables. */
class SinksSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def tmpDir = Files.createTempDirectory("graft-sinks").toString

  test("overwriteSwap replaces the table atomically and leaves no temp dir") {
    val path = s"$tmpDir/t"
    Sinks.overwriteSwap(Seq((1, "a")).toDF("k", "v"), path)
    Sinks.overwriteSwap(Seq((2, "b"), (3, "c")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 2)
    assert(!new java.io.File(path + ".__tmp").exists())
  }

  test("overwriteSwap cleans its backup and recovers from a stale one") {
    val path = s"$tmpDir/t"
    Sinks.overwriteSwap(Seq((1, "a")).toDF("k", "v"), path)
    Sinks.overwriteSwap(Seq((2, "b")).toDF("k", "v"), path)
    assert(!new java.io.File(path + ".__old").exists())
    // a crash between the two swap renames leaves dst absent + .__old intact;
    // the next run must clear the leftover and commit normally
    new java.io.File(path).renameTo(new java.io.File(path + ".__old"))
    Sinks.overwriteSwap(Seq((3, "c")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).as[(Int, String)].collect().toSeq == Seq((3, "c")))
    assert(!new java.io.File(path + ".__old").exists())
  }

  test("upsert: a crash between the swap's two renames loses no committed row") {
    val path = s"$tmpDir/t"
    Sinks.upsert(spark, path, Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), Seq("k"))
    val batch = Seq((4, "d")).toDF("k", "v")
    // the tmp -> path rename fails: path is gone, its backup is at .__old
    CrashingFs.around(spark, failAt = Some(path)) {
      intercept[java.io.IOException](Sinks.upsert(spark, path, batch, Seq("k")))
    }
    assert(!new java.io.File(path).exists() && new java.io.File(path + ".__old").exists())
    Sinks.upsert(spark, path, batch, Seq("k"))
    assert(spark.read.parquet(path).sort("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    assert(!new java.io.File(path + ".__old").exists())
  }

  test("compact shrinks the file count without changing a row") {
    val path = s"$tmpDir/t"
    // 8 one-row appends -> at least 8 data files (fragmented table)
    (1 to 8).foreach(i => Sinks.appendTagged(Seq((i, s"v$i")).toDF("k", "v"), path, s"b$i"))
    def partFiles = new java.io.File(path).listFiles()
      .count(f => !f.getName.startsWith(".") && f.getName.endsWith(".parquet"))
    val before = spark.read.parquet(path).as[(Int, String)].collect().toSet
    assert(partFiles >= 8)
    Sinks.compact(spark, path, targetRowsPerFile = 4L)
    assert(partFiles == 2) // ceil(8 rows / 4 per file)
    assert(spark.read.parquet(path).as[(Int, String)].collect().toSet == before)
  }

  test("compactPartitioned folds every partition dir in one pass, rows unchanged") {
    val path = s"$tmpDir/t"
    // 3 fragmented appends × 4 buckets -> ≥3 files per bucket dir
    (1 to 3).foreach { i =>
      Sinks.appendTagged(
        (0 until 8).map(k => (k % 4, i * 100 + k)).toDF("bucket", "v"),
        path, batchId = s"b$i", partitionBy = Seq("bucket"))
    }
    def filesIn(dir: String) = new java.io.File(s"$path/$dir").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = spark.read.parquet(path).as[(Int, Int)].collect().toSet
    assert(filesIn("bucket=0") >= 3)
    Sinks.compactPartitioned(spark, path, targetRowsPerFile = 100L)
    // one-pass fold: each bucket dir collapses to ONE file, rows identical
    (0 until 4).foreach(b => assert(filesIn(s"bucket=$b") == 1))
    assert(spark.read.parquet(path).as[(Int, Int)].collect().toSet == before)
  }

  test("compactPartitioned falls back per-dir when a partition exceeds the target") {
    val path = s"$tmpDir/t"
    (1 to 2).foreach { i =>
      Sinks.appendTagged(
        (0 until 12).map(k => (k % 2, i * 100 + k)).toDF("bucket", "v"),
        path, batchId = s"b$i", partitionBy = Seq("bucket"))
    }
    val before = spark.read.parquet(path).as[(Int, Int)].collect().toSet
    // 12 rows per bucket > 5 per file -> per-dir path must split, not 1 file
    Sinks.compactPartitioned(spark, path, targetRowsPerFile = 5L)
    def filesIn(dir: String) = new java.io.File(s"$path/$dir").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    (0 until 2).foreach(b => assert(filesIn(s"bucket=$b") == 3)) // ceil(12/5)
    assert(spark.read.parquet(path).as[(Int, Int)].collect().toSet == before)
  }

  test("append grows the table") {
    val path = s"$tmpDir/t"
    Sinks.appendTagged(Seq((1, "a")).toDF("k", "v"), path, "b1")
    Sinks.appendTagged(Seq((2, "b")).toDF("k", "v"), path, "b2")
    assert(spark.read.parquet(path).count() == 2)
  }

  test("upsert: first write creates, rerun of the SAME batch is a no-op (idempotence)") {
    val path = s"$tmpDir/t"
    val week1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Sinks.upsert(spark, path, week1, Seq("k"))
    val first = spark.read.parquet(path).sort("k").as[(Int, String)].collect().toSeq
    Sinks.upsert(spark, path, week1, Seq("k")) // rerun the same week
    val second = spark.read.parquet(path).sort("k").as[(Int, String)].collect().toSeq
    assert(first == second && first == Seq((1, "a"), (2, "b")))
  }

  test("upsert: a later batch updates collisions and adds new keys; keys stay unique") {
    val path = s"$tmpDir/t"
    Sinks.upsert(spark, path, Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    Sinks.upsert(spark, path, Seq((2, "B"), (3, "C")).toDF("k", "v"), Seq("k"))
    val rows = spark.read.parquet(path).sort("k").as[(Int, String)].collect().toSeq
    assert(rows == Seq((1, "a"), (2, "B"), (3, "C")))
    val t = spark.read.parquet(path)
    assert(t.groupBy("k").count().filter(col("count") > 1).count() == 0)
  }

  /** (relative file name -> md5) for every data file under a partition dir. */
  private def partitionFiles(root: String, part: String): Map[String, String] = {
    val dir = java.nio.file.Paths.get(root, part)
    val md = java.security.MessageDigest.getInstance("MD5")
    java.nio.file.Files.walk(dir).filter(java.nio.file.Files.isRegularFile(_))
      .iterator().asScala.map { p =>
        dir.relativize(p).toString ->
          md.digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
  }

  test("upsertPartitioned: merging one week rewrites ONLY touched partition dirs") {
    val path = s"$tmpDir/fact"
    val week1 = Seq(
      (1L, "2021-01-04", 10), (2L, "2021-01-04", 20),
      (3L, "2021-01-05", 30), (4L, "2021-01-06", 40))
      .toDF("rid", "d", "v").withColumn("d", col("d").cast("date"))
    Sinks.upsertPartitioned(spark, path, week1, Seq("rid"), "d")
    val jan4Before = partitionFiles(path, "d=2021-01-04")
    val jan5Before = partitionFiles(path, "d=2021-01-05")
    assert(jan4Before.nonEmpty && jan5Before.nonEmpty)

    // week 2 touches Jan 6 (update rid=4) and Jan 7 (new rows) only
    val week2 = Seq((4L, "2021-01-06", 44), (5L, "2021-01-07", 50))
      .toDF("rid", "d", "v").withColumn("d", col("d").cast("date"))
    Sinks.upsertPartitioned(spark, path, week2, Seq("rid"), "d")

    // untouched partitions: same files, byte-identical
    assert(partitionFiles(path, "d=2021-01-04") == jan4Before)
    assert(partitionFiles(path, "d=2021-01-05") == jan5Before)
    // touched + new partitions hold the merged data; keys unique
    val rows = spark.read.parquet(path).select("rid", "v").sort("rid")
      .as[(Long, Int)].collect().toSeq
    assert(rows == Seq((1L, 10), (2L, 20), (3L, 30), (4L, 44), (5L, 50)))
    assert(!new java.io.File(path + ".__tmp").exists())
  }

  test("appendWithManifest: snapshot-consistent skipping reads across the append") {
    val path = s"$tmpDir/m"
    val base = (1L to 900L).map(i => (i, s"v$i")).toDF("k", "v")
    Sinks.writeWithManifest(base, path, "k", numFiles = 8)
    val before = Sinks.skippingFiles(spark, path, Seq(("k", 1L, 2000L))).size
    // append a batch ABOVE the existing key range
    val batch = (901L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    Sinks.appendWithManifest(batch.repartition(2), path, Seq("k"))
    // the stage dir is gone and the manifest grew by the batch's files
    assert(!new java.io.File(path + ".__stage").exists())
    val after = Sinks.skippingFiles(spark, path, Seq(("k", 1L, 2000L))).size
    assert(after > before, s"manifest did not grow: $before -> $after")
    // rows from BOTH vintages come back, exactly
    val got = Sinks.readSkipping(spark, path, Seq(("k", 850L, 950L)))
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == (850L to 950L).map(i => (i, s"v$i")))
    // the appended range alone is served from the new files only
    val newOnly = Sinks.skippingFiles(spark, path, Seq(("k", 950L, 1000L)))
    assert(newOnly.nonEmpty && newOnly.size <= 2,
      s"appended range touched ${newOnly.size} files")
    // rebuildManifest after a compaction repairs the stats (compact's
    // swap drops the old _manifest with the rest of the dir)
    Sinks.compact(spark, path, targetRowsPerFile = 400L)
    Sinks.rebuildManifest(spark, path, Seq("k"))
    val all = Sinks.readSkipping(spark, path, Seq(("k", 1L, 1000L))).count()
    assert(all == 1000L)
  }

  test("bucketed tables join and aggregate with NO exchange (co-located join)") {
    val n = 4
    spark.sql("DROP TABLE IF EXISTS graft_fact_b")
    spark.sql("DROP TABLE IF EXISTS graft_dim_b")
    Sinks.writeBucketed((1 to 100).map(i => (i.toLong, s"f$i")).toDF("k", "fv"),
      "graft_fact_b", "k", n)
    Sinks.writeBucketed((1 to 50).map(i => (i.toLong, s"d$i")).toDF("k", "dv"),
      "graft_dim_b", "k", n)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path so the assertion is about bucketing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_fact_b").join(spark.table("graft_dim_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 50)
      // aggregation on the bucket key is exchange-free too
      val agg = spark.table("graft_fact_b").groupBy("k").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("upsertPartitioned: rows in the NULL partition survive later merges touching it") {
    val path = s"$tmpDir/fact"
    // batch 1 seeds the null partition (e.g. an unparseable date) + a real date
    val week1 = Seq((1L, Some("2021-01-04"), 10), (2L, None, 20))
      .toDF("rid", "d", "v").withColumn("d", col("d").cast("date"))
    Sinks.upsertPartitioned(spark, path, week1, Seq("rid"), "d")
    // batch 2 adds another null-partition row: rid 2 must NOT be lost
    val week2 = Seq((3L, None: Option[String], 30))
      .toDF("rid", "d", "v").withColumn("d", col("d").cast("date"))
    Sinks.upsertPartitioned(spark, path, week2, Seq("rid"), "d")
    val rows = spark.read.parquet(path).select("rid", "v").sort("rid")
      .as[(Long, Int)].collect().toSeq
    assert(rows == Seq((1L, 10), (2L, 20), (3L, 30)))
  }

  test("upsertPartitioned: a crash inside one partition's swap loses no committed row") {
    val path = s"$tmpDir/fact"
    def batch(rows: (Long, String, Int)*) =
      rows.toDF("rid", "d", "v").withColumn("d", col("d").cast("date"))
    Sinks.upsertPartitioned(spark, path,
      batch((1L, "2021-01-04", 10), (2L, "2021-01-05", 20), (3L, "2021-01-05", 30)),
      Seq("rid"), "d")
    // the next batch touches Jan 5, which the first one wrote; the rename
    // of its rewrite into the table fails
    val next = batch((4L, "2021-01-05", 40))
    CrashingFs.around(spark, failAt = Some(s"$path/d=2021-01-05")) {
      intercept[java.io.IOException](Sinks.upsertPartitioned(spark, path, next, Seq("rid"), "d"))
    }
    Sinks.upsertPartitioned(spark, path, next, Seq("rid"), "d")
    assert(spark.read.parquet(path).select("rid").sort("rid").as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("upsertPartitioned: rerunning the same batch is a no-op (idempotence)") {
    val path = s"$tmpDir/fact"
    val batch = Seq((1L, "2021-01-04", 1), (2L, "2021-01-05", 2))
      .toDF("rid", "d", "v").withColumn("d", col("d").cast("date"))
    Sinks.upsertPartitioned(spark, path, batch, Seq("rid"), "d")
    val before = spark.read.parquet(path).sort("rid").collect().toSeq
    Sinks.upsertPartitioned(spark, path, batch, Seq("rid"), "d")
    val after = spark.read.parquet(path).sort("rid").collect().toSeq
    assert(before == after && before.size == 2)
  }

  test("snapshots: versions are immutable, latest follows the marker") {
    val path = s"$tmpDir/snap"
    assert(Sinks.writeSnapshot(Seq((1, "a")).toDF("k", "v"), path) == 1)
    assert(Sinks.writeSnapshot(Seq((1, "a2"), (2, "b")).toDF("k", "v"), path) == 2)
    assert(Sinks.snapshotVersions(spark, path) == Seq(1, 2))
    assert(Sinks.readSnapshot(spark, path, 1).as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(Sinks.readSnapshot(spark, path).sort("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "a2"), (2, "b")))
    // a third write changes latest but not the pinned past
    Sinks.writeSnapshot(Seq((9, "z")).toDF("k", "v"), path)
    assert(Sinks.readSnapshot(spark, path, 1).as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(Sinks.readSnapshot(spark, path).as[(Int, String)].collect().toSeq == Seq((9, "z")))
  }

  test("snapshots: an orphan version dir (crashed commit) is skipped, never reused") {
    val path = s"$tmpDir/snap"
    Sinks.writeSnapshot(Seq((1, "a")).toDF("k", "v"), path)
    // simulate a crash AFTER the v-dir rename but BEFORE the marker commit
    new java.io.File(s"$path/v=00002").mkdirs()
    // latest still resolves to the committed v1
    assert(Sinks.readSnapshot(spark, path).as[(Int, String)].collect().toSeq == Seq((1, "a")))
    // the next write must number PAST the orphan (no silent overwrite)
    assert(Sinks.writeSnapshot(Seq((2, "b")).toDF("k", "v"), path) == 3)
    assert(Sinks.readSnapshot(spark, path).as[(Int, String)].collect().toSeq == Seq((2, "b")))
  }

  test("expireSnapshots keeps the newest K and the marker's version; old reads fail cleanly") {
    val path = s"$tmpDir/snap"
    (1 to 4).foreach(i => Sinks.writeSnapshot(Seq((i, s"v$i")).toDF("k", "v"), path))
    // simulate a crashed commit's orphan staging dir next to the table
    new java.io.File(s"$path.__tmp_v9").mkdirs()
    assert(Sinks.expireSnapshots(spark, path, keep = 2) == Seq(1, 2))
    assert(Sinks.snapshotVersions(spark, path) == Seq(3, 4))
    // retained reads intact, latest marker untouched
    assert(Sinks.readSnapshot(spark, path, 3).as[(Int, String)].collect().toSeq == Seq((3, "v3")))
    assert(Sinks.readSnapshot(spark, path).as[(Int, String)].collect().toSeq == Seq((4, "v4")))
    // expired reads fail cleanly (path gone), orphan staging dir reclaimed
    assertThrows[org.apache.spark.sql.AnalysisException] {
      Sinks.readSnapshot(spark, path, 1).collect()
    }
    assert(!new java.io.File(s"$path.__tmp_v9").exists())
    // idempotent: a second sweep expires nothing
    assert(Sinks.expireSnapshots(spark, path, keep = 2).isEmpty)
    // numbering continues past the expired range, never reusing a version
    assert(Sinks.writeSnapshot(Seq((9, "z")).toDF("k", "v"), path) == 5)
  }

  test("expireSnapshots never deletes the version the marker references, even when old") {
    val path = s"$tmpDir/snap"
    (1 to 3).foreach(i => Sinks.writeSnapshot(Seq((i, s"v$i")).toDF("k", "v"), path))
    // pin the marker back to v1 (an operator rolled latest back by hand);
    // drop the sidecar checksum the raw rewrite invalidates
    val f = new java.io.FileOutputStream(s"$path/_latest")
    f.write("1".getBytes("UTF-8")); f.close()
    new java.io.File(s"$path/._latest.crc").delete()
    assert(Sinks.expireSnapshots(spark, path, keep = 1) == Seq(2))
    assert(Sinks.snapshotVersions(spark, path) == Seq(1, 3))
    assert(Sinks.readSnapshot(spark, path).as[(Int, String)].collect().toSeq == Seq((1, "v1")))
  }

  test("snapshots: missing marker falls back to the highest committed version") {
    val path = s"$tmpDir/snap"
    Sinks.writeSnapshot(Seq((1, "a")).toDF("k", "v"), path)
    Sinks.writeSnapshot(Seq((2, "b")).toDF("k", "v"), path)
    new java.io.File(s"$path/_latest").delete()
    assert(Sinks.readSnapshot(spark, path).as[(Int, String)].collect().toSeq == Seq((2, "b")))
  }

  test("deleteByKey removes exactly the victims; rerun is a no-op") {
    val path = s"$tmpDir/t"
    Sinks.overwriteSwap(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), path)
    Sinks.deleteByKey(spark, path, Seq(2L).toDF("id"), Seq("id"))
    assert(spark.read.parquet(path).sort("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c")))
    Sinks.deleteByKey(spark, path, Seq(2L).toDF("id"), Seq("id"))
    assert(spark.read.parquet(path).count() == 2)
  }

  test("deletePartitioned rewrites ONLY touched partitions and drops emptied ones") {
    val path = s"$tmpDir/fact"
    val rows = Seq(
      (1L, "2021-01-04", 10), (2L, "2021-01-04", 20),
      (3L, "2021-01-05", 30), (4L, "2021-01-06", 40))
      .toDF("rid", "d", "v").withColumn("d", col("d").cast("date"))
    Sinks.upsertPartitioned(spark, path, rows, Seq("rid"), "d")
    val jan5Before = partitionFiles(path, "d=2021-01-05")

    // victims: one of two rows in Jan 4, the ONLY row in Jan 6
    val victims = Seq((1L, "2021-01-04"), (4L, "2021-01-06"))
      .toDF("rid", "d").withColumn("d", col("d").cast("date"))
    Sinks.deletePartitioned(spark, path, victims, Seq("rid"), "d")

    // untouched partition byte-identical; emptied partition dir is gone
    assert(partitionFiles(path, "d=2021-01-05") == jan5Before)
    assert(!new java.io.File(s"$path/d=2021-01-06").exists())
    assert(spark.read.parquet(path).select("rid").sort("rid")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    assert(!new java.io.File(path + ".__tmp").exists())
  }

  test("appendTagged + purgeTagged: uncommitted batches are revocable, committed ones survive") {
    val path = Files.createTempDirectory("graft-tagged").toString + "/t"
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
      .write.partitionBy("p").parquet(path)
    Sinks.appendTagged(Seq((4L, "a")).toDF("id", "p"), path, "batch-1",
      partitionBy = Seq("p"))
    Sinks.appendTagged(Seq((5L, "c")).toDF("id", "p"), path, "batch-2",
      partitionBy = Seq("p"))
    spark.catalog.refreshByPath(path)
    assert(spark.read.parquet(path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // batch-2 never committed: purge revokes exactly its files — including
    // the partition directory the batch itself introduced (p=c)
    val purged = Sinks.purgeTagged(spark, path,
      committedTags = Set(Sinks.tagOf("batch-1")))
    assert(purged >= 1)
    assert(spark.read.parquet(path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 4L))
    // idempotent: nothing left to purge
    assert(Sinks.purgeTagged(spark, path, Set(Sinks.tagOf("batch-1"))) == 0)
    // a leftover stage dir from a crashed appendTagged is swept too
    val stray = new java.io.File(s"$path.__stage-${Sinks.tagOf("batch-9")}")
    stray.mkdirs()
    assert(Sinks.purgeTagged(spark, path, Set.empty) >= 1)
    assert(!stray.exists())
  }

  test("readCommitted: uncommitted tagged files are invisible; clean tables read normally (r14 advice)") {
    val path = Files.createTempDirectory("graft-committed").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(path)
    Sinks.appendTagged(Seq((3L, "a")).toDF("id", "p"), path, "batch-1",
      partitionBy = Seq("p"))
    Sinks.appendTagged(Seq((4L, "c")).toDF("id", "p"), path, "batch-2",
      partitionBy = Seq("p"))
    spark.catalog.refreshByPath(path)
    // a PLAIN reader observes the dirty rows — that is the window the
    // committed reader exists to close
    assert(spark.read.parquet(path).count() == 4)
    // only batch-1 committed: its rows + the untagged build rows show,
    // batch-2's do not; partition columns survive the pruned listing
    val seen = Sinks.readCommitted(spark, path, Set(Sinks.tagOf("batch-1")))
      .select("id", "p").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(seen == Seq((1L, "a"), (2L, "b"), (3L, "a")), s"got $seen")
    // both committed: identical to the plain read (fast path)
    assert(Sinks.readCommitted(spark, path,
      Set(Sinks.tagOf("batch-1"), Sinks.tagOf("batch-2"))).count() == 4)
    // nothing committed, only tagged files: schema-only empty frame
    val none = Sinks.readCommitted(spark, path, Set.empty)
    assert(none.count() == 2) // untagged build rows are always committed
  }

  test("inParallel: the first failure stops queued actions, interrupts and awaits running ones, and rethrows its own exception") {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val interrupted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val blocking = new java.util.concurrent.CountDownLatch(2)
    def action(i: Int)(body: => Unit): () => Unit = () => {
      started.add(i)
      threads.add(Thread.currentThread())
      body
    }
    def blockUntilInterrupted(i: Int): Unit = {
      blocking.countDown()
      try Thread.sleep(Long.MaxValue)
      catch { case e: InterruptedException => interrupted.add(i); throw e }
    }
    val e = intercept[IllegalStateException](Sinks.inParallel(spark)(
      // throws as soon as actions 2 and 3 are running
      action(1) { blocking.await(); throw new IllegalStateException("action 1") },
      action(2)(blockUntilInterrupted(2)),
      action(3)(blockUntilInterrupted(3)),
      action(4)(()),
      action(5)(())))
    assert(e.getMessage == "action 1")
    assert(started.asScala.toSet == Set(1, 2, 3))
    assert(interrupted.asScala.toSet == Set(2, 3))
    assert(threads.asScala.forall(!_.isAlive))
  }
}
