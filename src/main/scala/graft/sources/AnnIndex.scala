package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Pq, Similarity}

/** The PERSISTED IVF-PQ vector index — trained and WRITTEN once per
  * (JVM, corpus), then SERVED from the written tables by every search,
  * and maintained INCREMENTALLY on append. The missing surface the
  * in-plan ANN queries (q46/q91/q100/q128...) deliberately don't have:
  * each of those retrains its quantizer inside the plan — correct, and
  * the right shape for a one-shot query — but a production vector
  * serving path trains ONCE and amortizes across every query and every
  * ingest batch (the [[CoPurchaseGraph]] write-once/read-many contract,
  * applied to the q46 coarse quantizer + the q100 product quantizer).
  *
  * Written tables under one root:
  *  - `centroids/`  (j INT, c ARRAY<DOUBLE>) — the IVF coarse quantizer
  *    ([[Similarity.trainCentroidsLite]], k=4, mod-10 sample, 1 Lloyd
  *    pass — exactly the q46 spec, so the oracle's retrain-in-SQL
  *    matches the WRITTEN values bit-for-bit);
  *  - `codebooks/`  (s INT, j INT, c ARRAY<DOUBLE>) — the PQ codebooks
  *    ([[Pq.trainCodebooks]], m=4, k=4 — the q100 spec);
  *  - `postings/cell=N/` (vec_id BIGINT, c0..c3 INT) — every vector's
  *    coarse cell + PQ codes, PARTITIONED BY cell so a probe reads only
  *    its cells' directories (partition pruning — at 100 TB the posting
  *    list read is the whole search cost, and nprobe/k of it is skipped
  *    at the filesystem level, before any row is decoded).
  *
  * Search reads ONLY these tables: probe selection against the ~k-row
  * centroid table, an ADC distance table from the m·k-row codebook
  * table (both bounded driver reads — index metadata, not data), then
  * one pruned scan of the probed postings. Nothing re-touches the
  * corpus embeddings — which is why an appended batch must be encoded
  * at ingest ([[append]]: assign + encode the BATCH ONLY against the
  * WRITTEN quantizers, append its postings — no retrain, no corpus
  * rescan; the q265/q283 incremental convention).
  *
  * Scale: training cost is bounded (the mod-10 sample caps at 1000
  * rows) and paid once per corpus vintage; build/append write is one
  * narrow projection per row; search is O(postings in probed cells).
  * Quantizer DRIFT after many appends is the textbook caveat — and the
  * round-14 measurement (SCALE_EVIDENCE §ann drift) found it
  * UNMEASURABLE at 2.5× append growth: the incremental index equals a
  * full rebuild at every candidate budget (0.34/0.34 and 0.59/0.59
  * recall@10). What decays recall is CANDIDATE-BUDGET DILUTION (a fixed
  * ADC top-K covers a shrinking fraction of the probed cells), restored
  * by scaling the rerank candidate budget with the index's posting mass
  * (about 25% of the total postings, SCALE_EVIDENCE §ann drift) — so
  * the production rebuild cadence is about growing the CELL COUNT with
  * the corpus (k ~ √n, the q263 policy), not about retraining for
  * drift. */
object AnnIndex {

  private val IvfK = 4
  private val PqM = 4
  private val PqK = 4
  private val SampleMod = 10L
  private val MaxSample = 1000

  /** Root of the FULL-corpus index for `dir`, building on first use. */
  def path(s: SparkSession, dir: String): String =
    Materialized.dir(s"annindex:full:$dir", perPass = false)(
      build(s, Tables.embeddings(s, dir), _))

  /** Root of the INCREMENTALLY-built index for `dir`: trained + built on
    * the history (vec_id % 7 ≠ 3), then the batch (vec_id % 7 = 3)
    * APPENDED — assigned and encoded against the WRITTEN quantizers,
    * never retrained. First use pays both steps; reads serve from the
    * union postings. */
  def pathIncremental(s: SparkSession, dir: String): String =
    Materialized.dir(s"annindex:incr:$dir", perPass = false) { out =>
      val emb = Tables.embeddings(s, dir)
      build(s, emb.filter(col("vec_id") % 7 =!= 3), out)
      append(s, out, emb.filter(col("vec_id") % 7 === 3), batchId = "incr")
    }

  private def build(s: SparkSession, emb: DataFrame, out: String): Unit = {
    import s.implicits._
    val e = emb.select(col("vec_id"), col("embedding"))
    val centroids = Similarity.trainCentroidsLite(e, "vec_id", "embedding",
      IvfK, SampleMod, MaxSample, iters = 1)
    val codebooks = Pq.trainCodebooks(e, "vec_id", "embedding",
      PqM, PqK, SampleMod, MaxSample)
    centroids.zipWithIndex.map { case (c, j) => (j, c) }
      .toDF("j", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/centroids")
    codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (c, j) => (sub, j, c.toSeq) }
    }.toDF("s", "j", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/codebooks")
    coded(e, centroids, codebooks)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/postings")
  }

  /** Build an index at a caller-managed root over an arbitrary
    * (vec_id, embedding) frame — the corpus-app entry
    * ([[graft.app.WebCorpusApp]] indexes the embeddings it just wrote);
    * the memoized [[path]]/[[pathIncremental]] stay fixture surfaces. */
  def buildFrom(s: SparkSession, emb: DataFrame, out: String): Unit =
    build(s, emb, out)

  /** Ingest a batch into an EXISTING index: read the written quantizers
    * (bounded metadata reads), assign + encode the batch only, append
    * its postings. The history is never re-read or re-encoded. The
    * append is a revocable tagged file move under `batchId`
    * ([[Sinks.appendTagged]]) for crash-atomic callers. */
  def append(s: SparkSession, root: String, batch: DataFrame, batchId: String): Unit =
    Sinks.appendTagged(
      coded(batch.select(col("vec_id"), col("embedding")), readCentroids(s, root),
        readCodebooks(s, root)),
      s"$root/postings", batchId, Seq("cell"))

  /** Every vector's posting row: (vec_id, cell, c0..c3). */
  private def coded(e: DataFrame, centroids: Seq[Seq[Double]],
                    codebooks: Seq[IndexedSeq[Array[Double]]]): DataFrame = {
    val subLen = centroids.head.length / PqM
    e.select(col("vec_id").cast("long").as("vec_id") +:
      Similarity.ivfAssign(col("embedding"), centroids).as("cell") +:
      Pq.codeCols(col("embedding"), codebooks, subLen): _*)
  }

  /** The written coarse quantizer, ordered by cell — ~k rows. */
  def readCentroids(s: SparkSession, root: String): Seq[Seq[Double]] =
    s.read.parquet(s"$root/centroids").orderBy("j")
      .collect().map(_.getSeq[Double](1).toSeq).toSeq

  /** The written PQ codebooks — m·k rows. */
  def readCodebooks(s: SparkSession, root: String): Seq[IndexedSeq[Array[Double]]] =
    s.read.parquet(s"$root/codebooks").orderBy("s", "j")
      .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toIndexedSeq
      }

  /** Serve a top-K query FROM THE WRITTEN TABLES: nprobe best cells by
    * cosine against the centroid table (left-fold driver arithmetic,
    * ties to the lower cell — the oracle's ORDER BY cos DESC, j ASC),
    * one partition-pruned postings scan, ADC from the codebook distance
    * table (the [[Pq.adcSearch]] arithmetic), (adc ASC, vec_id ASC)
    * top-K. */
  def searchTopK(s: SparkSession, root: String, query: Array[Double],
                 nprobe: Int, excludeId: Long, topK: Int): DataFrame = {
    val probes = probeCells(s, root, query, nprobe)
    val cbs = readCodebooks(s, root)
    val subLen = query.length / PqM
    val dt: Seq[Seq[Double]] = cbs.zipWithIndex.map { case (cb, sub) =>
      cb.map(c => Pq.l2(java.util.Arrays.copyOfRange(query, sub * subLen, (sub + 1) * subLen), c)).toSeq
    }
    val adc = (0 until PqM)
      .map(sub => element_at(typedlit(dt(sub)), col(s"c$sub") + 1))
      .reduce(_ + _)
    s.read.parquet(s"$root/postings")
      .filter(col("cell").isin(probes: _*))
      .filter(col("vec_id") =!= excludeId)
      .withColumn("adc", adc)
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(topK)
      .select(col("vec_id"), col("adc"))
  }

  /** The nprobe best cells for a query, by cosine against the written
    * centroid table (ties to the lower cell — the oracle's ORDER BY
    * cos DESC, j ASC). */
  private def probeCells(s: SparkSession, root: String,
                         query: Array[Double], nprobe: Int): Seq[Int] = {
    val cents = readCentroids(s, root)
    def dot(a: Array[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
      acc
    }
    val qn = math.sqrt(dot(query, query.toSeq))
    cents.zipWithIndex
      .map { case (c, j) =>
        (dot(query, c) / (qn * math.sqrt(c.map(x => x * x).sum)), j)
      }
      .sortBy { case (cos, j) => (-cos, j) }
      .take(nprobe).map(_._2)
  }
}
