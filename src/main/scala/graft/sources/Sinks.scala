package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, element_at, input_file_name, lit, max, min, split}
import graft.operators.Upsert
import graft.operators.Sever.SeverOps

/** Parquet sinks as engine operations (SURVEY.md §2.1 S5/S6/S7).
  *
  * The reference writes with plain `mode('overwrite')` / `mode('append')`
  * (journey-data-transformation.py:106,156,160; init-data-transformation.py:43,92)
  * and delegates idempotence to Redshift's UPSERT load. We replace blind
  * overwrite with a write-to-temp-then-swap commit, blind append with a
  * tagged move that a ledger commit makes atomic ([[ingestBatch]]), and
  * provide a keyed upsert so re-running a week is a no-op on keyed tables
  * (SURVEY.md §7.5 #1).
  *
  * One commit path: a table is replaced only by [[replaceTable]], its
  * partitions only by [[replacePartitions]], and staged files enter it
  * only through [[moveIn]]. Recovery rule ([[recover]], run first by every
  * operation): an absent `path` gets its `path.__old` backup back, a
  * backup next to a live `path` is deleted, and a partition backed up in
  * `path.__old_parts/` whose live dir is missing is moved back — so a
  * crash leaves each table and partition fully old or fully new.
  */
object Sinks {

  /** The file system holding `path`, after [[recover]] ran there. */
  private def fs(spark: SparkSession, path: String): FileSystem = {
    val f = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    rollBack(f, new Path(path))
    f
  }

  /** Apply the recovery rule at `path` (it renames: single writer, reads
    * included). Call it before a plain `spark.read` of a table. */
  def recover(spark: SparkSession, path: String): Unit = fs(spark, path)

  private def backup(dst: Path): Path = new Path(dst.toString + ".__old")

  /** A sibling of the table root, so partition discovery never lists it. */
  private def partsBackup(dst: Path): Path = new Path(dst.toString + ".__old_parts")

  private def rollBack(f: FileSystem, dst: Path): Unit = {
    val old = backup(dst)
    if (f.exists(old)) {
      if (f.exists(dst)) f.delete(old, true) else move(f, old, dst)
    }
    val parts = partsBackup(dst)
    if (f.exists(parts)) {
      f.listStatus(parts).foreach { s =>
        val live = new Path(dst, s.getPath.getName)
        if (!f.exists(live)) move(f, s.getPath, live)
      }
      f.delete(parts, true)
    }
  }

  private def move(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst)) throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** The swap commit: `dst` → `dst.__old`, `tmp` → `dst`, drop `__old`.
    * Readers never observe a HALF-WRITTEN table: each rename is atomic
    * (between the two the path is ABSENT — a reader can miss, but never
    * read a torn table). A crash mid-write leaves `dst` untouched; a
    * crash between the renames leaves the old table at `dst.__old`, which
    * [[recover]] renames back — a merge re-run against the absent table
    * would drop every committed row. */
  private def swapCommit(f: FileSystem, tmp: Path, dst: Path): Unit = {
    if (f.exists(dst)) move(f, dst, backup(dst))
    move(f, tmp, dst)
    f.delete(backup(dst), true)
  }

  /** The one whole-table replace: `write` the new table to the path it is
    * given (`<path>.__tmp`), then [[swapCommit]]. */
  private def replaceTable(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val f = fs(spark, path)
    val tmp = new Path(path + ".__tmp")
    f.delete(tmp, true)
    write(tmp.toString)
    swapCommit(f, tmp, new Path(path))
  }

  /** S5 made safe: materialize to `<path>.__tmp`, then swap-commit (see
    * [[swapCommit]] for the exact crash/visibility guarantees). Renames are
    * metadata-only on HDFS-likes. */
  def overwriteSwap(df: DataFrame, path: String): Unit =
    replaceTable(df.sparkSession, path)(df.write.mode("overwrite").parquet(_))

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
    * call (a ledger commit) never commits a batch with a failed write. */
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
    moveIn(f, stage, path, s"b-$tag-")
    f.delete(stage, true)
    spark.catalog.refreshByPath(path)
  }

  /** The one move into a table: each data file under `stage` moves to its
    * relative dir under `path` (partition dirs kept) as `prefix` + name,
    * one atomic rename each, planned from one listing. */
  private def moveIn(f: FileSystem, stage: Path, path: String, prefix: String): Unit = {
    // listFiles returns QUALIFIED paths (file:/...), so strip against the
    // qualified stage prefix
    val stagePrefix = f.makeQualified(stage).toString
    dataFiles(f, stage).foreach { p =>
      val relDir = f.makeQualified(p.getParent).toString
        .stripPrefix(stagePrefix).stripPrefix("/")
      val dst = new Path(if (relDir.isEmpty) new Path(path) else new Path(path, relDir),
        prefix + p.getName)
      f.mkdirs(dst.getParent)
      move(f, p, dst)
    }
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
    dataFiles(f, root).filter(uncommitted(_, committedTags))
      .foreach { p => f.delete(p, false); purged += 1 }
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
    val (dirty, keep) = dataFiles(fs(spark, path), new Path(path))
      .partition(uncommitted(_, committedTags))
    if (dirty.isEmpty) spark.read.parquet(path)
    else if (keep.isEmpty) spark.read.parquet(path).limit(0) // schema only
    else spark.read.option("basePath", path).parquet(keep.map(_.toString): _*)
  }

  private def uncommitted(file: Path, committedTags: Set[String]): Boolean =
    TaggedName.findFirstMatchIn(file.getName).exists(m => !committedTags(m.group(1)))

  /** The parquet data files under `root`, recursively (one listing;
    * `_`/`.` metadata files excluded). */
  private def dataFiles(f: FileSystem, root: Path): Seq[Path] = {
    val it = f.listFiles(root, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val p = it.next().getPath
      val n = p.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) files += p
    }
    files.toSeq
  }

  // ------------------------------------------------------------- ledgers

  /** The batch ledger at `path` (empty when absent): committed batch ids,
    * each with a count `n` its app defines. Read driver-side. */
  def ledger(spark: SparkSession, path: String): Map[String, Long] =
    if (!exists(spark, path)) Map.empty
    else spark.read.parquet(path).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Commit the caller's FULL ledger (its [[ledger]] read plus new
    * batches) as one `(batch_id, n)` file: one [[overwriteSwap]], the
    * atomic commit point of the batches it adds, then a refresh. */
  def commitLedger(spark: SparkSession, path: String, entries: Map[String, Long]): Unit = {
    import spark.implicits._
    overwriteSwap(entries.toSeq.sortBy(_._1).toDF("batch_id", "n").coalesce(1), path)
    spark.catalog.refreshByPath(path)
  }

  /** What [[ingestBatch]] hands its body: the committed ledger, and
    * whether the entry purge deleted files of a crashed attempt. */
  final case class Ingest(applied: Map[String, Long], purged: Boolean) {
    def committedTags: Set[String] = applied.keySet.map(tagOf)
  }

  /** The one ledgered batch step. A `batchId` already in the ledger at
    * `ledgerPath` is a no-op. Otherwise every uncommitted tagged file
    * under `tables` (what the caller appends to) is purged, `body` runs
    * its [[appendTagged]] moves and derived-table writes and returns the
    * batch's ledger count (`None`: the batch leaves no trace, nothing is
    * committed), and the ledger swap commits it last — a crash anywhere
    * before replays in full, and nothing runs after. Single writer: a
    * concurrent append's files look like a crashed attempt's. */
  def ingestBatch(spark: SparkSession, ledgerPath: String, batchId: String,
                  tables: Seq[String])(body: Ingest => Option[Long]): Unit = {
    val applied = ledger(spark, ledgerPath)
    if (!applied.contains(batchId))
      body(Ingest(applied, purgeUncommitted(spark, tables, applied)))
        .foreach(n => commitLedger(spark, ledgerPath, applied + (batchId -> n)))
  }

  /** [[ingestBatch]]'s purge: revoke every tagged file under `tables`
    * whose batch is not in `applied`. Returns whether it deleted any. */
  def purgeUncommitted(spark: SparkSession, tables: Seq[String],
                       applied: Map[String, Long]): Boolean = {
    val committed = applied.keySet.map(tagOf)
    tables.map(purgeTagged(spark, _, committed)).sum > 0
  }

  /** Does a table exist at `path`, after [[recover]]? (Namenode calls only.) */
  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** The `col=value` partition directories of a partitioned table (one
    * listing) — how [[compactPartitioned]] finds the partition column. */
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
    if (!f.exists(root)) 0 else dataFiles(f, root).size
  }

  /** Small-file compaction: rewrite a table into
    * `ceil(rows / targetRowsPerFile)` files, with [[swapCommit]]'s crash
    * guarantees (partitioned tables: [[compactPartitioned]]). Incremental
    * appends and streaming upserts fragment a table into per-batch files;
    * at scale the resulting footer/open overhead dominates scans long
    * before data volume does, so compaction is a scheduled maintenance
    * pass, not an afterthought. The row count comes from parquet footers
    * (no data scan); the rewrite is one round-robin repartition — no key
    * shuffle, rows unchanged. */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Unit = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    recover(spark, path)
    val df = spark.read.parquet(path)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    overwriteSwap(df.repartition(nFiles), path)
    spark.catalog.refreshByPath(path)
  }

  /** Compact a Hive-partitioned table in ONE pass (r17 — guide §6 "small
    * files"): one partitioned read, one `partitionBy` rewrite and ONE
    * atomic root swap fold every `col=value` directory, where a
    * per-directory loop would plan, count, rewrite and swap each one
    * (~2 Spark jobs + a listing + a rename per directory — for a postings
    * table with dozens of buckets the dominant cost of `maintain()`). The
    * hash repartition on the partition column lands each value in exactly
    * one task, and `maxRecordsPerFile` splits that task's output, so each
    * directory compacts to `ceil(rows / targetRowsPerFile)` files.
    * Structure — and therefore partition pruning — is preserved. */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetRowsPerFile: Long): Unit = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val dirs = partitionDirs(spark, path)
    if (dirs.isEmpty) return
    val partCol = new Path(dirs.head).getName.split("=")(0)
    val df = spark.read.parquet(path).repartition(col(partCol))
    replaceTable(spark, path)(df.write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile).partitionBy(partCol).parquet(_))
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
  def upsert(spark: SparkSession, path: String, updates: DataFrame, keys: Seq[String]): Unit =
    overwriteSwap(
      if (exists(spark, path)) Upsert.merge(spark.read.parquet(path), updates, keys)
      else updates,
      path)

  /** Hive-style partitioned overwrite: `<path>/<partCol>=<value>/...` via
    * `partitionBy`, with the same temp-write + swap commit as
    * [[overwriteSwap]]. The layout mirrors the reference's monthly raw-zone
    * folders (proc_0_ingestion_to_s3_dag.py:17) and is what makes
    * [[upsertPartitioned]] and partition-pruned reads possible. */
  def overwriteSwapPartitioned(df: DataFrame, path: String, partCol: String): Unit =
    replaceTable(df.sparkSession, path)(
      df.write.mode("overwrite").partitionBy(partCol).parquet(_))

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

  /** Write an ALREADY-CLUSTERED frame with a min/max manifest over any
    * set of stats columns. The caller picks the layout — range
    * partitioning for 1-D predicates ([[writeWithManifest]]), a Z-order
    * curve for multi-dimensional boxes
    * ([[graft.operators.ZOrder.zOrdered]]) — and the manifest records
    * `lo_<col>`/`hi_<col>` per data file for every stats column, so
    * [[readSkipping]] can prune on any conjunction of ranges. How tight
    * the per-file spans are (and so how much skipping buys) is exactly
    * the quality of the chosen clustering. */
  def writeClusteredWithManifest(clustered: DataFrame, path: String,
                                 statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "need at least one stats column")
    val spark = clustered.sparkSession
    replaceTable(spark, path) { tmp =>
      clustered.write.mode("overwrite").parquet(tmp)
      fileStats(spark, tmp, statsCols).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/_manifest")
    }
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
    require(exists(spark, s"$path/_manifest"),
      s"$path has no _manifest — write it with writeWithManifest first")
    val stage = new Path(path + ".__stage")
    f.delete(stage, true)
    batch.write.mode("overwrite").parquet(stage.toString)
    val newStats = fileStats(spark, stage.toString, statsCols)
      // the manifest swap below rewrites _manifest while this frame's
      // lineage still points at it via the union — materialize first
      .unionByName(spark.read.parquet(s"$path/_manifest"))
      .sever()
    moveIn(f, stage, path, prefix = "") // UUID part names: collision-free
    overwriteSwap(newStats.coalesce(1), s"$path/_manifest")
    f.delete(stage, true)
    spark.catalog.refreshByPath(path)
  }

  /** Recompute `_manifest` from the table's current data files — the
    * repair/maintenance path after any operation that rewrote files
    * without manifest bookkeeping (e.g. [[compact]]). */
  def rebuildManifest(spark: SparkSession, path: String,
                      statsCols: Seq[String]): Unit = {
    recover(spark, path)
    overwriteSwap(fileStats(spark, path, statsCols).coalesce(1), s"$path/_manifest")
  }

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

  /** The surviving file paths for a skipping read — split out so tests
    * (and curious operators) can assert how much was pruned. */
  def skippingFiles(spark: SparkSession, path: String,
                    ranges: Seq[(String, Any, Any)]): Seq[String] = {
    recover(spark, s"$path/_manifest")
    spark.read.parquet(s"$path/_manifest")
      .filter(ranges.map { case (c, lo, hi) =>
        col(s"hi_$c") >= lit(lo) && col(s"lo_$c") <= lit(hi)
      }.reduce(_ && _))
      .select(col("file")).collect().map(r => s"$path/${r.getString(0)}").toSeq
  }

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
    * Mechanics ([[replacePartitions]]): a partition-pruned read of just the
    * touched partitions (untouched partitions are never even listed), a
    * keyed merge of those rows with the batch, a `partitionBy` write to a
    * temp dir, and a swap of each rewritten partition. Commit is atomic
    * PER PARTITION (two renames: the live dir aside, the rewrite in), the
    * same granularity Hive/Spark dynamic partition overwrite provides; a
    * mid-loop crash leaves each partition either fully old or fully new,
    * [[recover]] puts back a partition whose swap was cut between its two
    * renames, and re-running the batch converges (the merge is
    * idempotent). A ledger recording the batch afterwards
    * ([[commitLedger]]) is itself a whole-table swap. */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
                        keys: Seq[String], partCol: String): Unit =
    if (!exists(spark, path)) overwriteSwapPartitioned(updates, path, partCol)
    else replacePartitions(spark, path, partCol, updates)(existing =>
      // partition col read-reordered to the end
      Upsert.merge(existing.select(updates.columns.map(col): _*), updates, keys))

  /** The one partition replace: `rewrite` the partitions `batch` touches
    * (a pruned read) into `<path>.__tmp`, then per dir the rewrite produced
    * or the batch touched, move the live dir to `<path>.__old_parts/` and
    * the rewrite (if any) in — a touched partition left empty is dropped.
    * The touched values are collected driver-side: bounded by the
    * DISTINCT partition values of one batch (days in a week). */
  private def replacePartitions(spark: SparkSession, path: String, partCol: String,
                                batch: DataFrame)(rewrite: DataFrame => DataFrame): Unit = {
    val f = fs(spark, path)
    val touched = batch.select(partCol).distinct().collect().map(_.get(0))
    if (touched.isEmpty) return
    // NULL partition values land in the default partition dir; `isin` never
    // matches NULL, so without the isNull arm the null partition's existing
    // rows would not be read and its swap would drop them
    val (nulls, values) = touched.partition(_ == null)
    val pruning =
      if (nulls.isEmpty) col(partCol).isin(values: _*)
      else col(partCol).isin(values: _*) || col(partCol).isNull
    val tmp = new Path(path + ".__tmp")
    f.delete(tmp, true)
    rewrite(spark.read.parquet(path).filter(pruning))
      .write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    val produced = f.listStatus(tmp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName).toSet
    val touchedDirs = touched.map { v =>
      // the exact escaping Spark's file committer uses for partition dirs
      val enc = if (v == null) "__HIVE_DEFAULT_PARTITION__"
                else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .escapePathName(v.toString)
      s"$partCol=$enc"
    }
    val dst = new Path(path)
    val parts = partsBackup(dst)
    f.mkdirs(parts)
    (produced ++ touchedDirs).foreach { name =>
      val live = new Path(dst, name)
      if (f.exists(live)) move(f, live, new Path(parts, name))
      if (produced(name)) move(f, new Path(tmp, name), live)
    }
    f.delete(parts, true)
    f.delete(tmp, true)
    spark.catalog.refreshByPath(path)
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
    move(f, tmp, new Path(dst, f"v=$next%05d"))
    val mTmp = new Path(dst, "_latest.__tmp")
    val out = f.create(mTmp, true)
    out.write(next.toString.getBytes("UTF-8"))
    out.close()
    val marker = new Path(dst, "_latest")
    f.delete(marker, false)
    move(f, mTmp, marker)
    next
  }

  /** The version a snapshot table's `_latest` marker names, if it has one. */
  private def latestMarker(f: FileSystem, dst: Path): Option[Int] = {
    val marker = new Path(dst, "_latest")
    if (!f.exists(marker)) None
    else {
      val in = f.open(marker)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
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
    val keepSet = versions.takeRight(keep).toSet ++ latestMarker(f, dst)
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
    val v =
      if (version > 0) version
      else latestMarker(fs(spark, path), new Path(path))
        .orElse(snapshotVersions(spark, path).lastOption)
        .getOrElse(throw new java.io.FileNotFoundException(s"no committed snapshot at $path"))
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
    recover(spark, path)
    val remaining = spark.read.parquet(path)
      .join(victims.select(keys.map(col): _*).distinct(), keys, "left_anti")
    overwriteSwap(remaining, path)
    spark.catalog.refreshByPath(path)
  }

  /** [[deleteByKey]] at fact scale: the victim batch carries the partition
    * column, so only TOUCHED partitions are read, anti-joined, and swapped
    * ([[replacePartitions]]) — a deletion request against a 100 TB
    * date-partitioned fact costs a handful of partition rewrites, with
    * [[upsertPartitioned]]'s per-partition atomic swap. A partition whose
    * rows are ALL deleted is removed rather than left as an empty
    * directory. */
  def deletePartitioned(spark: SparkSession, path: String, victims: DataFrame,
                        keys: Seq[String], partCol: String): Unit =
    if (exists(spark, path))
      replacePartitions(spark, path, partCol, victims)(
        _.join(victims.select(keys.map(col): _*).distinct(), keys, "left_anti"))
}
