package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, element_at, input_file_name, lit, max, min, split}
import graft.operators.Upsert

/** Parquet sinks as engine operations (SURVEY.md §2.1 S5/S6/S7).
  *
  * The reference writes with plain `mode('overwrite')` / `mode('append')`
  * (journey-data-transformation.py:106,156,160; init-data-transformation.py:43,92)
  * and delegates idempotence to Redshift's UPSERT load. We keep append for
  * genuinely incremental facts, but replace blind overwrite with a
  * write-to-temp-then-swap commit, and provide a keyed upsert so re-running a
  * week is a no-op on keyed tables (SURVEY.md §7.5 #1).
  */
object Sinks {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The swap commit: `dst` → `dst.__old`, `tmp` → `dst`, drop `__old`.
    * Properties a plain overwrite lacks: (1) readers never observe a
    * HALF-WRITTEN table — each rename is atomic, so `dst` is always either
    * the complete old or the complete new table (there is a brief window
    * between the two renames where the path is ABSENT — a reader can miss,
    * but can never read a torn table); (2) no crash point loses data — a
    * crash mid-write leaves `dst` untouched, and a crash between the
    * renames leaves the previous table recoverable at `dst.__old` (rename
    * it back by hand, or just re-run the job: the next swap clears it). */
  private def swapCommit(f: org.apache.hadoop.fs.FileSystem, tmp: Path, dst: Path): Unit = {
    val old = new Path(dst.toString + ".__old")
    f.delete(old, true) // leftover from a crashed swap of a PREVIOUS run
    if (f.exists(dst) && !f.rename(dst, old))
      throw new java.io.IOException(s"swap-commit backup rename failed: $dst -> $old")
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"swap-commit rename failed: $tmp -> $dst")
    f.delete(old, true)
  }

  /** S5 made safe: materialize to `<path>.__tmp`, then swap-commit (see
    * [[swapCommit]] for the exact crash/visibility guarantees). Renames are
    * metadata-only on HDFS-likes. */
  def overwriteSwap(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    val tmp = new Path(path + ".__tmp")
    f.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    swapCommit(f, tmp, new Path(path))
  }

  /** How many writes [[inParallel]] runs at once: enough for the next
    * write's tasks to back-fill the executor tail of the current one, not
    * enough to fight for cores. */
  val ParallelWrites = 3

  /** Run INDEPENDENT write actions side by side, [[ParallelWrites]] at a
    * time, and return once all of them have finished. Independent actions
    * are only sequential because the driver calls them one by one;
    * overlapping them lets one write's tasks fill another's executor tail
    * and overlaps their driver-side planning and commit time. Each action
    * runs on its own thread, which inherits the caller's job description;
    * an action that wants its own label sets it itself.
    *
    * Failure contract: after the first failure no further action starts,
    * the Spark jobs of the running actions are cancelled (they carry a
    * job tag unique to this call) and their threads interrupted, and the
    * call returns only once every action thread has stopped — then it
    * rethrows the failed action's own exception. No write of an aborted
    * batch outlives the exception, so a caller that commits after this
    * call (a ledger append) never commits a batch with a failed write. */
  def inParallel(spark: SparkSession)(actions: (() => Unit)*): Unit = {
    import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    val sc = spark.sparkContext
    val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(ParallelWrites, (r: Runnable) => {
      val t = new Thread(r, s"$tag-${threads.size}")
      threads.add(t)
      t
    })
    val done = new ExecutorCompletionService[Unit](pool)
    // the failure is recorded on the failing thread before that thread can
    // pick up a queued action, so no action starts after a failure
    val futures = actions.map(a => done.submit(() => if (failure.get == null) {
      sc.addJobTag(tag)
      try a() catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
    }))
    try futures.foreach { _ =>
      try done.take().get()
      catch { case e: ExecutionException => throw e.getCause }
    } catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        throw Option(failure.get).getOrElse(e)
    } finally {
      futures.foreach(_.cancel(true))
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      // a terminated pool can still have a worker thread on its way out
      threads.forEach(_.join())
    }
  }

  /** S6: incremental append (the fact-table write). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  // --------------------------------------------------- revocable appends

  /** File-name prefix carrying a batch tag: `b-<16 md5 hex>-<part name>`.
    * The tag makes an append REVOCABLE — every file a batch contributed
    * is identifiable after a crash, so [[purgeTagged]] can delete the
    * files of batches that never reached their ledger commit. This is
    * the minimal transaction-log idea (Delta/Iceberg keep the same
    * information in a log; here it rides the file NAME so plain parquet
    * readers stay untouched). */
  private[graft] def tagOf(batchId: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(batchId.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  private val TaggedName = "^b-([0-9a-f]{16})-".r

  /** Tagged append: stage-write the batch next to the table, then move
    * its data files IN with the `b-<tag>-` name prefix (partition
    * subdirectories preserved, so `partitionBy` layouts keep their
    * pruning structure). Each rename is atomic; a crash mid-move leaves
    * only tagged files, which the next [[purgeTagged]] revokes — the
    * append as a whole becomes atomic at the caller's ledger commit. */
  def appendTagged(df: DataFrame, path: String, batchId: String,
                   partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    val tag = tagOf(batchId)
    val stage = new Path(s"$path.__stage-$tag")
    f.delete(stage, true)
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    // move data files (recursively — partition dirs), tag in the name;
    // listFiles returns QUALIFIED paths (file:/...), so strip against the
    // qualified stage prefix
    val stagePrefix = f.makeQualified(stage).toString
    val it = f.listFiles(stage, true)
    val moves = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && !p.getName.startsWith("_")) {
        val rel = f.makeQualified(p).toString
          .stripPrefix(stagePrefix).stripPrefix("/")
        val relDir = rel.lastIndexOf('/') match {
          case -1 => ""
          case i  => rel.substring(0, i)
        }
        val dstDir = if (relDir.isEmpty) new Path(path) else new Path(path, relDir)
        moves += ((p, new Path(dstDir, s"b-$tag-${p.getName}")))
      }
    }
    moves.foreach { case (src, dst) =>
      f.mkdirs(dst.getParent)
      if (!f.rename(src, dst))
        throw new java.io.IOException(s"tagged append move failed: $src -> $dst")
    }
    f.delete(stage, true)
    spark.catalog.refreshByPath(path)
  }

  /** Revoke uncommitted appends: delete every `b-<tag>-` data file under
    * `path` (recursively) whose tag is NOT in `committedTags`, plus any
    * leftover stage directories. Call with the ledger's committed tag
    * set before appending — recovery is then a deterministic replay of
    * the crashed batch. Returns the number of files deleted. Cost is a
    * file LISTING of the table, never a data read. */
  def purgeTagged(spark: SparkSession, path: String,
                  committedTags: Set[String]): Int = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return 0
    var purged = 0
    // leftover stages from crashed appendTagged calls
    f.listStatus(root.getParent).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(root.getName + ".__stage-")) {
        val tag = n.stripPrefix(root.getName + ".__stage-")
        if (!committedTags.contains(tag)) { f.delete(st.getPath, true); purged += 1 }
      }
    }
    val it = f.listFiles(root, true)
    val doomed = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val p = it.next().getPath
      TaggedName.findFirstMatchIn(p.getName).foreach { m =>
        if (!committedTags.contains(m.group(1))) doomed += p
      }
    }
    doomed.foreach { p => f.delete(p, false); purged += 1 }
    if (purged > 0) spark.catalog.refreshByPath(path)
    purged
  }

  /** COMMITTED view of a tagged-append table (r14 advice): between
    * [[appendTagged]] and the caller's ledger commit — or after a crash,
    * before the next purge — uncommitted `b-<tag>-` files are visible
    * to any plain parquet reader. This reader makes the ledger
    * discipline enforceable at READ time: list the table's files (one
    * namenode listing, never a data read), drop files whose tag is not
    * in `committedTags`, and read the rest. Untagged files (the build's
    * overwriteSwap output) are always committed. Fast path: when no
    * uncommitted file exists the read is the ordinary full-table scan —
    * identical plan, partition discovery intact. */
  def readCommitted(spark: SparkSession, path: String,
                    committedTags: Set[String]): DataFrame = {
    val f = fs(spark, path)
    val root = new Path(path)
    val keep = scala.collection.mutable.ArrayBuffer.empty[String]
    var dirty = false
    val it = f.listFiles(root, true)
    while (it.hasNext) {
      val p = it.next().getPath
      val n = p.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
        TaggedName.findFirstMatchIn(n) match {
          case Some(m) if !committedTags.contains(m.group(1)) => dirty = true
          case _ => keep += p.toString
        }
      }
    }
    if (!dirty) spark.read.parquet(path)
    else if (keep.isEmpty) spark.read.parquet(path).limit(0) // schema only
    else spark.read.option("basePath", path).parquet(keep.toSeq: _*)
  }

  /** Does a table exist at `path`? (One namenode call.) */
  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** The `col=value` partition directories of a partitioned table (one
    * listing) — the unit [[compact]] runs over so only fragmented
    * partitions pay a rewrite. */
  def partitionDirs(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath.toString)
  }

  /** Data-file count under `path` (recursive listing; `_`/`.` metadata
    * files excluded) — the fragmentation measure maintenance watches. */
  def dataFileCount(spark: SparkSession, path: String): Int = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return 0
    var n = 0
    val it = f.listFiles(root, true)
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Small-file compaction: rewrite a table (or ONE partition directory of
    * a partitioned table) into `ceil(rows / targetRowsPerFile)` files, with
    * [[swapCommit]]'s crash guarantees. Incremental appends and streaming
    * upserts fragment a table into per-batch files; at scale the resulting
    * footer/open overhead dominates scans long before data volume does, so
    * compaction is a scheduled maintenance pass, not an afterthought. The
    * row count comes from parquet footers (no data scan); the rewrite is
    * one round-robin repartition — no key shuffle, rows unchanged. Run it
    * per PARTITION directory on partitioned tables so only fragmented
    * partitions pay the rewrite. */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Unit = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val df = spark.read.parquet(path)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    overwriteSwap(df.repartition(nFiles), path)
    spark.catalog.refreshByPath(path)
  }

  /** Compact a Hive-partitioned table in ONE pass (r17 — guide §6 "small
    * files"): the per-partition-directory loop planned, counted, rewrote
    * and swap-committed each `col=value` directory separately (~2 Spark
    * jobs + a listing + a rename per directory — for a postings table
    * with dozens of buckets that is the dominant cost of `maintain()`),
    * where one partitioned read + `partitionBy` rewrite folds every
    * directory in a single job and ONE atomic root swap. The hash
    * repartition on the partition column lands each value in exactly one
    * task, so each directory compacts to one file; directories whose row
    * count exceeds `targetRowsPerFile` fall back to the per-directory
    * path so the file-size contract holds (the per-partition row counts
    * are one bounded aggregate over footer metadata). Structure — and
    * therefore partition pruning — is preserved either way. */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetRowsPerFile: Long): Unit = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val dirs = partitionDirs(spark, path)
    if (dirs.isEmpty) return
    val partCol = new Path(dirs.head).getName.split("=")(0)
    val df = spark.read.parquet(path)
    val oversized = df.groupBy(partCol).count()
      .filter(col("count") > targetRowsPerFile).limit(1).count() > 0
    if (!oversized) overwriteSwapPartitioned(
      df.repartition(col(partCol)), path, partCol)
    else dirs.foreach(d => compact(spark, d, targetRowsPerFile))
    spark.catalog.refreshByPath(path)
  }

  /** S7: keyed UPSERT into a parquet table — the engine-level replacement for
    * the reference's Redshift `method='UPSERT'` load. Reads the current
    * table lazily, merges (updates win on key collision), and swap-commits;
    * the temp-write means reading and replacing the same path is safe.
    * Idempotent: applying the same updates twice leaves the table unchanged.
    *
    * Rewrites the WHOLE table per merge — right for dimension-sized tables
    * (stations/weather/datetime); for a fact table partitioned on a date key
    * use [[upsertPartitioned]], which only rewrites touched partitions.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame, keys: Seq[String]): Unit = {
    val f = fs(spark, path)
    val merged =
      if (f.exists(new Path(path))) Upsert.merge(spark.read.parquet(path), updates, keys)
      else updates
    overwriteSwap(merged, path)
  }

  /** Hive-style partitioned overwrite: `<path>/<partCol>=<value>/...` via
    * `partitionBy`, with the same temp-write + swap commit as
    * [[overwriteSwap]]. The layout mirrors the reference's monthly raw-zone
    * folders (proc_0_ingestion_to_s3_dag.py:17) and is what makes
    * [[upsertPartitioned]] and partition-pruned reads possible. */
  def overwriteSwapPartitioned(df: DataFrame, path: String, partCol: String): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    val tmp = new Path(path + ".__tmp")
    f.delete(tmp, true)
    df.write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    swapCommit(f, tmp, new Path(path))
  }

  /** Bucketed table write: pre-shuffle ONCE at write time into
    * `numBuckets` hash buckets on `bucketCol` (sorted within buckets), so
    * every later join or aggregation on that key is EXCHANGE-FREE — Spark
    * reads matching buckets pairwise instead of shuffling either side.
    * This is the 100-TB answer to "the same fact⋈dim join runs nightly":
    * amortize the shuffle into the write. Catalog-registered
    * (`saveAsTable`) because the bucket spec lives in the table metadata —
    * path-based parquet cannot carry it. Pick `numBuckets` so a bucket is
    * a few hundred MB at target scale; both sides of a co-located join
    * must agree on (key, numBuckets). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, numBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** Parquet write with COLUMN BLOOM FILTERS on the named key columns —
    * the point-lookup accelerator for keys too high-cardinality to sort or
    * partition by: each row group carries a bloom of its key values, so a
    * `key = x` scan skips every row group whose bloom rejects x WITHOUT
    * reading data pages (parquet-mr applies it under Spark's pushed
    * filters). Complements [[graft.operators.ZOrder]] (min/max pruning
    * needs clustered values; blooms don't care about order) at the cost of
    * `ndv`-sized filter bytes per group. */
  def writeParquetBloom(df: DataFrame, path: String,
                        bloomCols: Seq[(String, Long)]): Unit = {
    val base = df.write.mode("overwrite").format("parquet")
    bloomCols.foldLeft(base) { case (w, (c, ndv)) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        // parquet-mr omits the bloom when a chunk stays fully
        // dictionary-encoded (the dictionary already answers membership);
        // a true high-cardinality key overflows the dictionary anyway —
        // opting out here makes the test data behave like the real case
        .option(s"parquet.enable.dictionary#$c", "false")
    }.save(path)
  }

  /** File-level min/max stats manifest — the lake-format "data skipping"
    * primitive (Delta's per-file stats / Iceberg's manifest entries, as an
    * engine operation over plain parquet). The table is RANGE-CLUSTERED on
    * `statsCol` into `numFiles` files, and a one-file `_manifest` parquet
    * inside the table dir records each data file's (file, lo, hi, rows).
    * Underscore-prefixed paths are invisible to Spark/Hadoop parquet
    * readers, so the table stays a perfectly ordinary parquet dir.
    *
    * Why this exists when parquet already has row-group min/max and
    * [[writeParquetBloom]]: those prune AFTER a file is opened (footer
    * read per file). The manifest prunes files WITHOUT opening them — one
    * bounded read (a row per data file) replaces 10^5-10^6 footer reads
    * at 100-TB scale, and the range clustering makes the per-file spans
    * disjoint so a point/range predicate touches O(selectivity) files.
    * Written via the same swap-commit as [[overwriteSwap]]: stats and data
    * can never be observed torn. */
  def writeWithManifest(df: DataFrame, path: String, statsCol: String,
                        numFiles: Int): Unit =
    writeClusteredWithManifest(
      df.repartitionByRange(numFiles, col(statsCol)), path, Seq(statsCol))

  /** Write an ALREADY-CLUSTERED frame with a min/max manifest over any
    * set of stats columns. The caller picks the layout — range
    * partitioning for 1-D predicates ([[writeWithManifest]]), a Z-order
    * curve for multi-dimensional boxes
    * ([[graft.operators.ZOrder.zOrdered]]) — and the manifest records
    * `lo_<col>`/`hi_<col>` per data file for every stats column, so
    * [[readSkipping]] can prune on any conjunction of ranges. How tight
    * the per-file spans are (and so how much skipping buys) is exactly
    * the quality of the chosen clustering. */
  /** Per-data-file min/max stats rows for a parquet dir — one scan, one
    * row per file (file identity is the basename, so the rows survive a
    * directory rename). */
  private def fileStats(spark: SparkSession, dir: String,
                        statsCols: Seq[String]): DataFrame = {
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c"))) :+
      count(lit(1)).as("rows")
    spark.read.parquet(dir)
      .groupBy(element_at(split(input_file_name(), "/"), -1).as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  def writeClusteredWithManifest(clustered: DataFrame, path: String,
                                 statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "need at least one stats column")
    val spark = clustered.sparkSession
    val f = fs(spark, path)
    val tmp = new Path(path + ".__tmp")
    f.delete(tmp, true)
    clustered.write.mode("overwrite").parquet(tmp.toString)
    fileStats(spark, tmp.toString, statsCols).coalesce(1)
      .write.mode("overwrite").parquet(new Path(tmp, "_manifest").toString)
    swapCommit(f, tmp, new Path(path))
  }

  /** Append a batch to a manifest-carrying table with SNAPSHOT semantics
    * for skipping reads: the batch lands in a stage dir, its per-file
    * stats are computed there, the data files are then renamed into the
    * table, and ONLY afterwards is the merged manifest swap-committed.
    * Because [[readSkipping]] opens exclusively manifest-listed files, a
    * concurrent skipping read serves either the complete pre-append or the
    * complete post-append table — never a torn middle (the same
    * manifest-last commit order the lake formats use). The appended files
    * keep whatever clustering the caller gave the batch; their manifest
    * spans are conservative, so pruning quality degrades gracefully until
    * a re-cluster ([[writeClusteredWithManifest]]) — correctness never
    * depends on layout. */
  def appendWithManifest(batch: DataFrame, path: String,
                         statsCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val f = fs(spark, path)
    require(f.exists(new Path(path, "_manifest")),
      s"$path has no _manifest — write it with writeWithManifest first")
    val stage = new Path(path + ".__stage")
    f.delete(stage, true)
    batch.write.mode("overwrite").parquet(stage.toString)
    val newStats = fileStats(spark, stage.toString, statsCols)
      // the manifest swap below rewrites _manifest while this frame's
      // lineage still points at it via the union — materialize first
      .unionByName(spark.read.parquet(s"$path/_manifest"))
      .localCheckpoint(true)
    val parts = f.listStatus(stage).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
    parts.foreach { p =>
      val dst = new Path(path, p.getName) // UUID part names: collision-free
      if (!f.rename(p, dst))
        throw new java.io.IOException(s"manifest append move failed: $p -> $dst")
    }
    overwriteSwap(newStats.coalesce(1), s"$path/_manifest")
    f.delete(stage, true)
    spark.catalog.refreshByPath(path)
  }

  /** Recompute `_manifest` from the table's current data files — the
    * repair/maintenance path after any operation that rewrote files
    * without manifest bookkeeping (e.g. [[compact]]). */
  def rebuildManifest(spark: SparkSession, path: String,
                      statsCols: Seq[String]): Unit =
    overwriteSwap(fileStats(spark, path, statsCols).coalesce(1), s"$path/_manifest")

  /** Data-skipping range read over a manifest-carrying table: reads the
    * manifest (one row per data file — the ONLY driver-side
    * materialization, bounded by file count, never rows), keeps the files
    * whose per-column spans intersect EVERY requested range, and scans
    * just those with the residual predicate applied. Returns the rows of
    * the table with each range column in its closed interval. */
  def readSkipping(spark: SparkSession, path: String,
                   ranges: Seq[(String, Any, Any)]): DataFrame = {
    val files = skippingFiles(spark, path, ranges)
    val pred = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (files.isEmpty) {
      // empty result, correct schema: one footer read, zero data pages
      val any = spark.read.parquet(s"$path/_manifest")
        .select(col("file")).as[String](org.apache.spark.sql.Encoders.STRING)
        .first()
      spark.read.parquet(s"$path/$any").filter(lit(false))
    } else spark.read.parquet(files: _*).filter(pred)
  }

  /** 1-D convenience overload. */
  def readSkipping(spark: SparkSession, path: String, statsCol: String,
                   lo: Any, hi: Any): DataFrame =
    readSkipping(spark, path, Seq((statsCol, lo, hi)))

  /** The surviving file paths for a skipping read — split out so tests
    * (and curious operators) can assert how much was pruned. */
  def skippingFiles(spark: SparkSession, path: String,
                    ranges: Seq[(String, Any, Any)]): Seq[String] =
    spark.read.parquet(s"$path/_manifest")
      .filter(ranges.map { case (c, lo, hi) =>
        col(s"hi_$c") >= lit(lo) && col(s"lo_$c") <= lit(hi)
      }.reduce(_ && _))
      .select(col("file")).collect().map(r => s"$path/${r.getString(0)}").toSeq

  /** 1-D convenience overload. */
  def skippingFiles(spark: SparkSession, path: String,
                    lo: Any, hi: Any, statsCol: String): Seq[String] =
    skippingFiles(spark, path, Seq((statsCol, lo, hi)))

  /** S7 at scale: keyed UPSERT into a table partitioned on `partCol`, that
    * rewrites ONLY the partitions the update batch touches. A weekly merge
    * into a 100 TB fact partitioned by date costs ~7 partition rewrites, not
    * a 100 TB table rewrite (the whole-table [[upsert]] is quadratic-ish
    * over the table's lifetime; this is linear in the batch).
    *
    * Contract: a row's `partCol` value is immutable under updates (true for
    * fact_journey — weather_date derives from start_date which is part of
    * the row identity). If a key could MOVE partitions, the stale copy in
    * the old partition would survive; that needs a key→partition index and
    * is out of scope for a date-partitioned fact.
    *
    * Mechanics: (1) partition-pruned read of the target restricted to the
    * touched partition values (the pruning predicate is `partCol IN
    * (<touched>)`, pushed to the directory listing — untouched partitions
    * are never even read); (2) keyed merge of just those rows with the
    * batch; (3) write the merged touched partitions to a temp dir with
    * `partitionBy`; (4) swap each written `partCol=value` directory into the
    * target individually. Commit is atomic PER PARTITION (two renames), the
    * same granularity Hive/Spark dynamic partition overwrite provides; a
    * mid-loop crash leaves each partition either fully old or fully new,
    * and re-running the batch converges (the merge is idempotent).
    *
    * The touched-partition value list is collected driver-side: it is
    * bounded by the number of DISTINCT partition values in one batch (days
    * in a week), not by data size. */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        keys: Seq[String], partCol: String): Unit = {
    val f = fs(spark, path)
    val dst = new Path(path)
    if (!f.exists(dst)) { overwriteSwapPartitioned(updates, path, partCol); return }
    // bounded: distinct partition values of ONE batch (e.g. 7 days/week)
    val touched = updates.select(partCol).distinct().collect().map(_.get(0))
    // NULL partition values land in the default partition dir; `isin` never
    // matches NULL, so without the explicit isNull arm a batch touching the
    // null partition would fail to read its existing rows and the swap
    // would silently drop them
    val (nullTouched, nonNull) = touched.partition(_ == null)
    val pruning =
      if (nullTouched.isEmpty) col(partCol).isin(nonNull: _*)
      else if (nonNull.isEmpty) col(partCol).isNull
      else col(partCol).isin(nonNull: _*) || col(partCol).isNull
    val existing = spark.read.parquet(path)
      .filter(pruning)
      .select(updates.columns.map(col): _*) // partition col read-reordered to the end
    val merged = Upsert.merge(existing, updates, keys)
    val tmp = new Path(path + ".__tmp")
    f.delete(tmp, true)
    merged.write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    // swap exactly the partition dirs the merged write produced
    f.listStatus(tmp).filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .foreach { s =>
        val target = new Path(dst, s.getPath.getName)
        f.delete(target, true)
        if (!f.rename(s.getPath, target))
          throw new java.io.IOException(s"partition swap failed: ${s.getPath} -> $target")
      }
    f.delete(tmp, true)
  }

  /** Versioned snapshot write — time travel for a parquet table, the
    * lakehouse pattern (Delta/Iceberg snapshots) reduced to its two
    * load-bearing mechanics: immutable version directories plus an
    * atomically-swapped latest pointer. Layout: `<path>/v=00001/…` per
    * snapshot and a `<path>/_latest` marker file naming the committed
    * version. Commit order is (1) write data to a temp dir, (2) rename it
    * to `v=N` (atomic), (3) rename a fresh marker over `_latest` (atomic)
    * — so a crash anywhere leaves every previously committed version
    * intact and readable, and at worst an orphan `v=N` the pointer never
    * references (the next write skips past it: version numbering comes
    * from the directory listing, not the marker). Old versions are never
    * rewritten — audit/time-travel reads ([[readSnapshot]]) are stable
    * until a retention sweep ([[expireSnapshots]]) reclaims them.
    * Returns the committed version number. */
  def writeSnapshot(df: DataFrame, path: String): Int = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    val dst = new Path(path)
    f.mkdirs(dst)
    val next = snapshotVersions(spark, path).lastOption.getOrElse(0) + 1
    val tmp = new Path(path + s".__tmp_v$next")
    f.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    val vdir = new Path(dst, f"v=$next%05d")
    if (!f.rename(tmp, vdir))
      throw new java.io.IOException(s"snapshot commit failed: $tmp -> $vdir")
    val mTmp = new Path(dst, "_latest.__tmp")
    val out = f.create(mTmp, true)
    out.write(next.toString.getBytes("UTF-8"))
    out.close()
    val marker = new Path(dst, "_latest")
    f.delete(marker, false)
    if (!f.rename(mTmp, marker))
      throw new java.io.IOException(s"snapshot marker commit failed: $marker")
    next
  }

  /** Committed snapshot versions at `path`, ascending (directory listing —
    * one namenode call; orphans from crashed commits are listed too, which
    * is exactly what makes version numbers never reused). */
  def snapshotVersions(spark: SparkSession, path: String): Seq[Int] = {
    val f = fs(spark, path)
    val dst = new Path(path)
    if (!f.exists(dst)) Seq.empty
    else f.listStatus(dst).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.drop(2).toInt).sorted
  }

  /** Retention sweep for [[writeSnapshot]] tables: keep the newest `keep`
    * committed versions — plus, unconditionally, whichever version the
    * `_latest` marker references — delete every older `v=` directory, and
    * reclaim orphan `.__tmp_v*` sibling dirs left by crashed commits.
    *
    * Crash-safety by the same argument as the commit path: the marker and
    * every retained version directory are never touched, each delete is
    * independent and idempotent, so a crash mid-sweep leaves a strict
    * subset of the expired versions still present and a re-run converges.
    * Version NUMBERS are still never reused — [[writeSnapshot]] numbers
    * from the remaining listing's max, which the sweep keeps (keep ≥ 1).
    * Single-maintenance-writer assumption (already required by the swap
    * commits): don't run the sweep concurrently with a snapshot write, or
    * the orphan-temp reclaim could delete an in-flight commit's staging
    * dir. Returns the expired version numbers. */
  def expireSnapshots(spark: SparkSession, path: String, keep: Int): Seq[Int] = {
    require(keep >= 1, "keep must be >= 1 (the latest snapshot must survive)")
    val f = fs(spark, path)
    val dst = new Path(path)
    if (!f.exists(dst)) return Seq.empty
    val versions = snapshotVersions(spark, path)
    val marker = new Path(dst, "_latest")
    val latestRef: Option[Int] =
      if (!f.exists(marker)) None
      else {
        val in = f.open(marker)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim.toInt)
        finally in.close()
      }
    val keepSet = versions.takeRight(keep).toSet ++ latestRef
    val expired = versions.filterNot(keepSet)
    expired.foreach(v => f.delete(new Path(dst, f"v=$v%05d"), true))
    val parent = dst.getParent
    if (parent != null && f.exists(parent))
      f.listStatus(parent)
        .filter(_.getPath.getName.startsWith(dst.getName + ".__tmp_v"))
        .foreach(s => f.delete(s.getPath, true))
    expired
  }

  /** Time-travel read: `version > 0` pins a snapshot; `version = 0` reads
    * the latest COMMITTED one (the `_latest` marker; falls back to the
    * highest version directory when the marker is missing, e.g. a table
    * mid-first-commit). */
  def readSnapshot(spark: SparkSession, path: String, version: Int = 0): DataFrame = {
    val f = fs(spark, path)
    val v =
      if (version > 0) version
      else {
        val marker = new Path(path, "_latest")
        if (f.exists(marker)) {
          val in = f.open(marker)
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim.toInt
          finally in.close()
        } else snapshotVersions(spark, path).lastOption.getOrElse(
          throw new java.io.FileNotFoundException(s"no committed snapshot at $path"))
      }
    spark.read.parquet(new Path(path, f"v=$v%05d").toString)
  }

  /** Keyed DELETE (GDPR / right-to-be-forgotten): remove every row whose
    * key appears in `victims`, rewriting the whole table under
    * [[overwriteSwap]]'s crash guarantees. The anti join is null-safe
    * equality-free (`left_anti` on the key columns), distributed, and
    * broadcast-sized when the victim list is small — the common case.
    * Idempotent: re-running with the same victims is a byte-identical
    * rewrite. For date-partitioned facts prefer [[deletePartitioned]]. */
  def deleteByKey(spark: SparkSession, path: String, victims: DataFrame,
                  keys: Seq[String]): Unit = {
    val remaining = spark.read.parquet(path)
      .join(victims.select(keys.map(col): _*).distinct(), keys, "left_anti")
    overwriteSwap(remaining, path)
    spark.catalog.refreshByPath(path)
  }

  /** [[deleteByKey]] at fact scale: the victim batch carries the partition
    * column, so only TOUCHED partitions are read, anti-joined, and swapped
    * — a deletion request against a 100 TB date-partitioned fact costs a
    * handful of partition rewrites. Same per-partition atomic-swap commit
    * and same bounded driver-side touched-value list as
    * [[upsertPartitioned]]; a partition whose rows are ALL deleted is
    * removed rather than left as an empty directory. */
  def deletePartitioned(spark: SparkSession, path: String, victims: DataFrame,
                        keys: Seq[String], partCol: String): Unit = {
    val f = fs(spark, path)
    val dst = new Path(path)
    if (!f.exists(dst)) return
    val touched = victims.select(partCol).distinct().collect().map(_.get(0))
    if (touched.isEmpty) return
    val (nullTouched, nonNull) = touched.partition(_ == null)
    val pruning =
      if (nullTouched.isEmpty) col(partCol).isin(nonNull: _*)
      else if (nonNull.isEmpty) col(partCol).isNull
      else col(partCol).isin(nonNull: _*) || col(partCol).isNull
    val remaining = spark.read.parquet(path).filter(pruning)
      .join(victims.select(keys.map(col): _*).distinct(), keys, "left_anti")
    val tmp = new Path(path + ".__tmp")
    f.delete(tmp, true)
    remaining.write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    val rewritten = f.listStatus(tmp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName).toSet
    // every touched partition is replaced by its rewrite, or dropped when
    // nothing survived (the rewrite produced no dir for it)
    val touchedDirs = touched.map { v =>
      // the exact escaping Spark's file committer uses for partition dirs
      val enc = if (v == null) "__HIVE_DEFAULT_PARTITION__"
                else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .escapePathName(v.toString)
      s"$partCol=$enc"
    }.toSet
    touchedDirs.foreach { name =>
      val target = new Path(dst, name)
      f.delete(target, true)
      if (rewritten.contains(name) &&
          !f.rename(new Path(tmp, name), target))
        throw new java.io.IOException(s"partition swap failed: $name")
    }
    f.delete(tmp, true)
    spark.catalog.refreshByPath(path)
  }
}
