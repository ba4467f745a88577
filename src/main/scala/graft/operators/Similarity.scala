package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, as a 100-TB ANN stack needs:
  *  - [[knnBruteForce]]: exact top-k against ONE query vector. A single
  *    narrow pass (the query vector rides along as a broadcast literal) +
  *    `TakeOrderedAndProject` — per-partition heaps, no global sort, no
  *    collect. This is the exact baseline any ANN index is measured
  *    against, and it scales linearly with the corpus.
  *  - [[bucketedNearestNeighbor]]: IVF-style search. A coarse quantizer
  *    (here: the precomputed `label` partition — in production, the
  *    centroid id from k-means) buckets the corpus; each vector only
  *    compares within its bucket via an EQUI join on the bucket key.
  *    Spark shuffles both sides on the bucket — cost is Σ bucket², never
  *    global n². The same shape holds for LSH random-projection buckets.
  *
  * Per-core cost: the dot product is [[graft.expressions.ArrayDotProduct]],
  * a native codegen'd expression (tight primitive loop inside whole-stage
  * codegen) — the higher-order-function formulation it replaced was
  * `CodegenFallback` and dominated the ANN profile. Norms are computed once
  * per VECTOR before the candidate join, not once per candidate pair.
  *
  * Determinism: every cosine is left-fold double arithmetic over
  * exactly-widened float32 inputs in a fixed order, so DuckDB's
  * `list_reduce` mirror is bit-identical — which is why the oracle-checked
  * queries can emit or rank by the cosine values themselves and still
  * hash-match.
  */
object Similarity {

  /** dot(a, b) in double precision, left-fold order (0.0 + x1 + x2 + …).
    * DuckDB mirror: `list_reduce(list_transform(generate_series(1, len(a)),
    * i -> a[i]::DOUBLE * b[i]::DOUBLE), (x,y) -> x+y)` — list_reduce has no
    * init but 0.0 + x1 == x1 exactly, so the folds agree bit-for-bit. */
  def dot(a: Column, b: Column): Column = GraftFunctions.dotNative(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k neighbors of the vector with id `queryId`, by cosine desc
    * with id tie-break. The 1-row query side is broadcast and the plan is
    * scan → project → TakeOrderedAndProject (per-partition heaps — a
    * window-computed rank here would instead force a GLOBAL sort of the
    * corpus into one partition; the cosine itself is emitted, bit-exact,
    * and carries the ordering). */
  def knnBruteForce(emb: DataFrame, idCol: String, vecCol: String,
                    queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__q"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol).as("vec_id"), cosine(col(vecCol), col("__q")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The ±1 weight of LSH hyperplane `p` at (1-based) dimension `i`:
    * lowest bit of the first 8 md5 hex chars of "p:i". Computed driver-side
    * ONCE per (plane, dim) — the old formulation recomputed the md5 of
    * every (plane, dim) pair per ROW, interpreted. Must stay bit-identical
    * to the oracle's SQL mirror (md5 over the same string, same bit test). */
  private[graft] def planeSign(p: Int, i: Int): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes(StandardCharsets.UTF_8))
    // first 8 hex chars == first 4 bytes; & 1 is the low bit of byte 3
    if ((d(3) & 1) == 1) 1.0 else -1.0
  }

  /** Random-hyperplane LSH bucket id over `planes` sign bits for vectors of
    * dimension `dim`. Hyperplane weights are pseudo-random ±1, derived
    * deterministically from md5 of "plane:dim" — portable, so the DuckDB
    * oracle reproduces the buckets bit-for-bit (the sign test compares a
    * bit-exact double fold with 0). Bit p of the bucket = [dot(vec, w_p) > 0].
    * The weights ride along as array literals; each plane-dot is one native
    * codegen'd [[dot]] (exact ±1.0 products — bit-identical to the previous
    * per-element fold). */
  def lshBucket(vec: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    (0 until planes).map { p =>
      val w = typedLit((1 to dim).map(i => planeSign(planeOffset + p, i)))
      when(dot(vec, w) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: nearest neighbor within each vector's
    * random-hyperplane bucket. Same equi-join shape as the IVF variant but
    * the quantizer is data-independent — the pure scale path when no
    * trained centroids exist. Vectors alone in their bucket emit no row
    * (deterministically, in engine and oracle alike). The embedding
    * dimension is probed from one row (a metadata-scale job) so the plane
    * weights can be bound as literals. */
  def lshNearestNeighbor(emb: DataFrame, idCol: String, vecCol: String,
                         planes: Int): DataFrame = {
    val dim = emb.select(size(col(vecCol))).first().getInt(0)
    bucketedNearestNeighbor(
      emb.withColumn("__lsh", lshBucket(col(vecCol), planes, dim)),
      idCol, vecCol, "__lsh")
  }

  /** Embedding-cosine near-duplicate pairs: multi-table random-hyperplane
    * LSH candidates, exactly verified at `cos >= thresholdNum/thresholdDen`.
    *
    * Candidates: `tables` independent LSH tables of `planes` sign bits each
    * (plane p of table t uses the hyperplane id `t*planes + p`, so tables
    * share no planes). A pair is a candidate iff it collides in AT LEAST
    * ONE table — each table is an equi self-join on its bucket key, unioned
    * and deduped; never all-pairs. Per-table collision probability for a
    * pair at angle θ is (1-θ/π)^planes, so recall after T tables is
    * 1-(1-(1-θ/π)^p)^T — at cos 0.999 (θ=0.045 rad) with 4 tables × 8
    * planes that is 0.9998; tune tables/planes to the miss rate the corpus
    * tolerates. The threshold test itself compares the bit-exact cosine
    * against an exact rational (single IEEE divide), so verification adds
    * no error.
    *
    * Verification cost: candidate (id_a, id_b) pairs are DISTINCTed before
    * vectors are joined back, so a pair colliding in all `tables` tables
    * still costs exactly ONE dot and carries its vectors through exactly
    * one shuffle row — the bucket self-join moves only (bucket, id) pairs,
    * never embeddings (same shape as [[graft.operators.Dedup.nearDupPairs]]).
    *
    * Emits (id_a < id_b, cos). */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         planes: Int, tables: Int,
                         thresholdNum: Long, thresholdDen: Long,
                         maxCandidateFactor: Int = 0): DataFrame = {
    val dim = emb.select(size(col(vecCol))).first().getInt(0)
    // maxCandidateFactor > 0: the shared candidate budget (eager, the q96
    // convention — see Dedup.bandBudget) over the banding, which then
    // feeds the table self-join
    val banded = Dedup.bandBudget(emb.select(
      col(idCol),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          lshBucket(col(vecCol), planes, dim, planeOffset = t * planes).as("b"))): _*)).as("__tb")),
      Seq("__tb"), maxCandidateFactor, "cosine near-dup")
    val a = banded.select(col("__tb"), col(idCol).as("id_a"))
    val b = banded.select(col("__tb"), col(idCol).as("id_b"))
    val cands = a.join(b, Seq("__tb"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val normed = emb.select(col(idCol), col(vecCol),
      sqrt(dot(col(vecCol), col(vecCol))).as("__norm"))
    val va = normed.select(col(idCol).as("id_a"), col(vecCol).as("__va"), col("__norm").as("__na"))
    val vb = normed.select(col(idCol).as("id_b"), col(vecCol).as("__vb"), col("__norm").as("__nb"))
    cands.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cos"))
      .filter(col("cos") * thresholdDen >= lit(thresholdNum))
  }

  /** SemDeDup-style semantic near-dup pairs: coarse-cluster the corpus
    * with the k-means-lite quantizer ([[trainCentroidsLite]] +
    * [[ivfAssign]]), then exact-verify cosine ONLY within each cluster —
    * the embedding-space analogue of LSH banding when duplicates are
    * semantic neighbors rather than hash-colliders (Abbas et al.'s
    * SemDeDup recipe). The within-cluster pair join is an equi-join on
    * the cluster id, never an all-pairs cross; its cost is Σ cell², so at
    * scale k is sized ∝ √n (pass k = 0 for the derived sizing) to keep
    * cells — and the quadratic term — bounded. Recall is heuristic (near
    * twins land in one cell because assignment is argmax-cosine; a pair
    * straddling a cell boundary is missed) — that approximation is the
    * documented SemDeDup trade, in exchange for no signature machinery at
    * all. Integer-literal threshold compare and fold-ordered cosine keep
    * it oracle-checkable. */
  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, sampleMod: Long, maxSample: Int,
                    thresholdNum: Long, thresholdDen: Long): DataFrame = {
    val centroids = trainCentroidsLite(emb, idCol, vecCol, k, sampleMod, maxSample)
    val assigned = emb.select(col(idCol), col(vecCol),
      ivfAssign(col(vecCol), centroids).cast("long").as("cluster"))
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        cosine(col("__va"), col("__vb")).as("cos"))
      .filter(col("cos") * thresholdDen >= lit(thresholdNum))
  }

  /** K-means-lite coarse quantizer: Lloyd iterations over a bounded,
    * deterministic sample, trained DRIVER-side. This is the "trained
    * centroids" IVF needs at scale (the fixed `label` bucket of
    * [[bucketedNearestNeighbor]] only works when the corpus arrives
    * pre-clustered; real corpora don't).
    *
    * Scale contract: the EXECUTOR-side cost is one narrow argmax-of-k-dots
    * pass (see [[ivfAssign]]); only the training sample is collected, and
    * it is bounded by `maxSample` regardless of corpus size (k-means on a
    * uniform sample converges to near-identical centroids — the standard
    * coarse-quantizer recipe; pick k ∝ √n and maxSample a small multiple
    * of k·(vectors per centroid estimate)). Sampling is content-
    * deterministic (`id % sampleMod = 0`, ascending id, capped), so reruns
    * and independent engines derive the SAME centroids.
    *
    * Oracle-portable arithmetic, same discipline as every cosine here:
    * float→double exact widening, left-fold dots, per-dimension mean =
    * (ordered left-fold sum) / count — one IEEE op sequence both engines
    * reproduce bit-for-bit. Assignment is argmax cosine with lowest-index
    * tie-break; an empty cluster keeps its previous centroid.
    *
    * Adaptive sizing: pass `k = 0` and the cell count derives from ONE
    * cheap corpus count as `max(2, floor(sqrt(n)))` — the standard IVF
    * sizing (√n cells ⇒ ~√n vectors per cell, so the per-probe equi-join
    * cost Σ cell² stays ~n^1.5/k ≈ n). The bounded-sample contract is
    * unchanged: training still collects at most `maxSample` rows, so a
    * derived k needs `maxSample >= k` (in production, a small multiple of
    * k — the `require` below fails loudly rather than training k cells
    * from fewer than k points). */
  def trainCentroidsLite(emb: DataFrame, idCol: String, vecCol: String,
                         k: Int, sampleMod: Long, maxSample: Int,
                         iters: Int = 1): Seq[Seq[Double]] = {
    val cells = if (k > 0) k
                else math.max(2, math.sqrt(emb.count().toDouble).toInt)
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cosD(a: Array[Double], b: Array[Double]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))

    val sample: Array[(Long, Array[Double])] =
      emb.filter(col(idCol) % sampleMod === 0)
        .orderBy(col(idCol)).limit(maxSample)
        .select(col(idCol).cast("long"), col(vecCol))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
        .sortBy(_._1)
    require(sample.length >= cells, s"sample ${sample.length} smaller than k=$cells")

    var centroids: IndexedSeq[Array[Double]] = sample.take(cells).map(_._2).toIndexedSeq
    for (_ <- 0 until iters) {
      // strict > while scanning ascending j keeps the LOWEST index on ties
      val assigned = sample.map { case (_, v) =>
        var bestJ = 0; var bestCos = cosD(v, centroids(0))
        var j = 1
        while (j < cells) {
          val c = cosD(v, centroids(j))
          if (c > bestCos) { bestCos = c; bestJ = j }
          j += 1
        }
        bestJ
      }
      centroids = (0 until cells).map { j =>
        val members = sample.indices.collect { case i if assigned(i) == j => sample(i)._2 }
        if (members.isEmpty) centroids(j)
        else {
          val dim = members.head.length
          // per-dimension left-fold in ascending-id order, single divide
          Array.tabulate(dim)(d => members.map(_(d)).reduceLeft(_ + _) / members.length)
        }
      }
    }
    centroids.map(_.toSeq)
  }

  /** Centroid assignment as ONE narrow codegen'd expression: k native dots
    * against centroid literals, argmax cosine with lowest-index tie-break
    * (the struct array_max orders by cosine, then by negated index). No
    * shuffle, no join — the quantizer rides the scan. */
  def ivfAssign(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, j) =>
      struct(cosine(vec, typedLit(c)).as("c"), lit(-j).as("nj"))
    }: _*)
    -array_max(scored).getField("nj")
  }

  /** IVF search with a TRAINED coarse quantizer: train k-means-lite
    * centroids on a bounded sample, assign every vector in one narrow
    * pass, then nearest-neighbor within the assigned cell (the
    * [[bucketedNearestNeighbor]] equi-join — cost Σ cell², never n²). */
  def ivfNearestNeighbor(emb: DataFrame, idCol: String, vecCol: String,
                         k: Int, sampleMod: Long, maxSample: Int,
                         iters: Int = 1): DataFrame = {
    val centroids = trainCentroidsLite(emb, idCol, vecCol, k, sampleMod, maxSample, iters)
    bucketedNearestNeighbor(
      emb.withColumn("__ivf", ivfAssign(col(vecCol), centroids)),
      idCol, vecCol, "__ivf")
  }

  /** IVF-style search: each vector's nearest neighbor within its own
    * bucket. Equi-join on the bucket key, ONE dot per candidate pair (norms
    * precomputed per row on each side — `sqrt(dot(v,v))` hoisted out of the
    * pair loop; the quotient `dot/(na*nb)` is the exact same IEEE
    * expression the per-pair form evaluated, so results are bit-identical),
    * then a per-probe top-1 as a `max(struct)` AGGREGATE, not a window:
    * the aggregate partial-combines map-side, so the second shuffle moves
    * one row per probe vector instead of every candidate pair into a
    * per-key sort. Struct ordering is lexicographic — max cosine first,
    * then max negated id = LOWEST nn_id — the identical deterministic
    * tie-break the window's (cos DESC, nn_id ASC) row_number gave.
    * Emits (vec_id, nn_id). */
  def bucketedNearestNeighbor(emb: DataFrame, idCol: String, vecCol: String,
                              bucketCol: String): DataFrame = {
    val normed = emb.select(
      col(bucketCol).as("__bkt"), col(idCol), col(vecCol),
      sqrt(dot(col(vecCol), col(vecCol))).as("__norm"))
    val a = normed.select(col("__bkt"), col(idCol).as("vec_id"),
      col(vecCol).as("__va"), col("__norm").as("__na"))
    val b = normed.select(col("__bkt"), col(idCol).as("nn_id"),
      col(vecCol).as("__vb"), col("__norm").as("__nb"))
    a.join(b, "__bkt")
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("__cos"))
      .groupBy("vec_id")
      .agg(max(struct(col("__cos"), (-col("nn_id")).as("__nid"))).as("__best"))
      .select(col("vec_id"), (-col("__best.__nid")).as("nn_id"))
  }

  /** Multi-probe IVF search — the recall dial a production IVF index
    * turns: candidates still sit ONLY in their argmax cell (the index is
    * built once, nprobe=1), but each QUERY fans out to its `nprobe` best
    * cells, recovering the neighbors that landed just across a cell
    * boundary. Cost scales linearly in nprobe (probe rows × cell size —
    * the equi-join stays Σ nprobe·cell², never n²); recall approaches
    * brute force as nprobe → #cells.
    *
    * Same exactness discipline as [[bucketedNearestNeighbor]]: hoisted
    * norms, one codegen'd dot per candidate pair, per-probe top-1 as a
    * map-side-combining `max(struct)` aggregate with the (cos DESC, id
    * ASC) tie-break. Probe-cell selection reuses the argmax ordering
    * ([[ivfAssign]]'s (cos, -j) struct order), so rank-1 probe == the
    * assignment cell, and ties prefer the lower cell index — both
    * reproducible by an independent engine's `ORDER BY cos DESC, j`. */
  def multiProbeNearestNeighbor(emb: DataFrame, idCol: String, vecCol: String,
                                centroids: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    val k = centroids.length
    require(nprobe >= 1 && nprobe <= k, s"nprobe in [1, $k]")
    val scored = array(centroids.zipWithIndex.map { case (c, j) =>
      struct(cosine(col(vecCol), typedLit(c)).as("c"), lit(-j).as("nj"))
    }: _*)
    val normed = emb.select(col(idCol), col(vecCol),
      sqrt(dot(col(vecCol), col(vecCol))).as("__norm"),
      array_sort(scored).as("__scored")) // ascending (cos, nj): last = argmax
    val cand = normed.select(
      (-element_at(col("__scored"), k).getField("nj")).as("__bkt"),
      col(idCol).as("nn_id"), col(vecCol).as("__vb"), col("__norm").as("__nb"))
    val probes = normed.select(col(idCol).as("vec_id"), col(vecCol).as("__va"),
      col("__norm").as("__na"),
      explode(slice(col("__scored"), k - nprobe + 1, nprobe)).as("__p"))
      .select(col("vec_id"), col("__va"), col("__na"), (-col("__p.nj")).as("__bkt"))
    probes.join(cand, "__bkt")
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("__cos"))
      .groupBy("vec_id")
      .agg(max(struct(col("__cos"), (-col("nn_id")).as("__nid"))).as("__best"))
      .select(col("vec_id"), (-col("__best.__nid")).as("nn_id"))
  }

  /** BINARY-QUANTIZED signature: bit i−1 = (vec[i] > 0), dims 1..`bits`
    * packed into one BIGINT (≤ 60 bits so every mask literal stays a
    * positive signed long on any engine — the SimHash precedent). This is
    * the 64×-compression sketch production ANN stacks put in front of the
    * exact distance: one long per vector, candidate ranking by
    * XOR+popcount. CONTRACT: every vector has length ≥ `bits` (the
    * element access fails LOUDLY on shorter vectors — a silently
    * zero-padded signature would rank garbage). */
  def signBits(vec: Column, bits: Int = 60): Column = {
    require(bits >= 1 && bits <= 60, s"bits in [1, 60], got $bits")
    (0 until bits).map { i =>
      when(element_at(vec, i + 1) > lit(0f), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** IVF + binary-quantization rerank — the remaining production ANN
    * compression after IVF (q46), multi-probe (q91), PQ/ADC (q128):
    * within each trained IVF cell, candidates are ranked by HAMMING
    * distance on the 60-bit sign signature (XOR + popcount on one long —
    * the scan reads 8 bytes/vector instead of d floats), the top
    * `rerank` per probe survive, and ONLY those pay the exact cosine.
    *
    * The Hamming cut exploits the ≤61-value score domain: it is a
    * COUNTING THRESHOLD, not a per-pair ranking. Pass 1 histograms
    * candidates per (probe, hamming) — a codegen hash aggregate whose
    * reduce side is ≤ 61 rows per probe — and a bounded per-probe
    * window (≤ 61 rows per key) reads off h* = the largest hamming with
    * fewer than `rerank` strictly-closer candidates. Pass 2 re-runs the
    * same codegen join with h* carried on the probe side and keeps
    * ham ≤ h* in-stage — no candidate row is ever shuffled or fed to
    * per-row aggregate state. Survivors number `rerank` plus any ties
    * AT h* (threshold semantics — the honest cut for a discrete score;
    * a deterministic SET, so the oracle replays it with no tie-order
    * coordination). Two cheaper designs measured first at ×10: a
    * row_number window = one 757 s task + 18 GB spill (full sort of the
    * candidate stream); a TypedImperativeAggregate top-k = 6,670
    * task-seconds (interpreted per-row update at ~3 µs/candidate). The
    * counting cut keeps every candidate-volume pass inside
    * whole-stage codegen. Final pick: (cos desc, nn_id asc), exact. */
  def ivfBqRerank(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Seq[Seq[Double]], rerank: Int,
                  bits: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerank >= 1, s"rerank >= 1, got $rerank")
    // STAGE ISOLATION is load-bearing here: the signature projection is a
    // ~60-term expression chain (signBits) + the centroid distance fold
    // (ivfAssign), and when Spark fuses it into the candidate-join stage
    // the generated processNext exceeds the JIT/codegen method budget and
    // the WHOLE candidate-volume stage silently drops to interpreted
    // row-at-a-time execution — measured 245 s vs 5.9 s for the same
    // 100M-candidate histogram at ×10. The repartition inserts an
    // exchange so the heavy projection runs once per INPUT row in its
    // own (codegen) stage and the candidate stage sees only plain
    // columns. The shuffled payload is (id, cell, 8-byte sig) — narrow,
    // n-bounded, negligible against the candidate volume it protects.
    val assigned = emb.select(col(idCol),
      ivfAssign(col(vecCol), centroids).as("__cell"),
      signBits(col(vecCol), bits).as("__sig"))
      .repartition(col(idCol))
    // Slice salt: a trained quantizer has FEW cells (k join keys), so a
    // bare join on __cell caps reduce parallelism at k tasks with a
    // dominant cell doing most of the work alone. Sharding the index
    // side into disjoint id-slices (probe side replicated across them)
    // fans the same candidate volume over k·slices uniform tasks; the
    // counting cut is slice-oblivious (counts add).
    val slices = 16
    val a = assigned.select(col("__cell"), col(idCol).as("vec_id"),
      col("__sig").as("__sa"))
      .withColumn("__slice", explode(array((0 until slices).map(lit): _*)))
    val b = assigned.select(col("__cell"),
      pmod(col(idCol), lit(slices)).as("__slice"), col(idCol).as("nn_id"),
      col("__sig").as("__sb"))
    def candidates(probe: DataFrame): DataFrame =
      probe.join(b, Seq("__cell", "__slice"))
        .filter(col("vec_id") =!= col("nn_id"))
        .withColumn("__ham",
          bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long"))
    // pass 1: per-(probe, hamming) counts — ≤ 61 reduce rows per probe —
    // then h* = max ham with fewer than `rerank` strictly closer
    val hist = candidates(a).groupBy("vec_id", "__ham")
      .agg(count(lit(1)).as("__c"))
    val wh = Window.partitionBy("vec_id").orderBy("__ham")
    val thr = hist
      .withColumn("__before", sum("__c").over(wh) - col("__c"))
      .filter(col("__before") < rerank)
      .groupBy("vec_id").agg(max("__ham").as("__hstar"))
    // pass 2: same codegen join, threshold carried on the probe side,
    // filtered in-stage — candidate volume never shuffles
    val kept = candidates(a.join(thr, "vec_id"))
      .filter(col("__ham") <= col("__hstar"))
      .select("vec_id", "nn_id")
    val va = emb.select(col(idCol).as("vec_id"), col(vecCol).as("__va"))
    val vb = emb.select(col(idCol).as("nn_id"), col(vecCol).as("__vb"))
    kept.join(va, "vec_id").join(vb, "nn_id")
      .select(col("vec_id"), col("nn_id"),
        cosine(col("__va"), col("__vb")).as("__cos"))
      .groupBy("vec_id")
      .agg(max(struct(col("__cos"), (-col("nn_id")).as("__nid"))).as("__best"))
      .select(col("vec_id"), (-col("__best.__nid")).as("nn_id"))
  }
}
