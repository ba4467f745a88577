package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.{Chunker, Dedup, Html, Multimodal, Pdf, Pq, Robots, Similarity, Sitemap, Upsert, Url, Warc}
import graft.operators.Sever.SeverOps
import graft.sources.{CdxIndex, Materialized, Tables}

/** The LLM-training-data-pipeline operator suite (dedup, similarity search,
  * multimodal, text analysis) over the harness `documents` / `embeddings`
  * tables, each with a DuckDB oracle.
  *
  * Oracle-parity ground rules (why every query here can hash-match):
  *  - hashes are md5 (bit-identical in both engines) except LSH-internal
  *    signatures, which never reach the output — only exactly-verified
  *    pairs do;
  *  - set/threshold logic is integer arithmetic (`5*|A∩B| >= 4*|A∪B|`
  *    instead of a float Jaccard compare);
  *  - cosines are left-fold double arithmetic, identical op order both
  *    sides (see [[graft.operators.Similarity]]), and only integer
  *    ids/ranks are emitted;
  *  - ratios are a single IEEE division of two exact integers.
  */
object LlmQueries {

  private val media = "/root/repo/fixtures/media.parquet"
  private val htmlDocs = "/root/repo/fixtures/html_docs.parquet"
  private val warcShards = "/root/repo/fixtures/warc_shards.parquet"
  private val pdfDocs = "/root/repo/fixtures/pdf_docs.parquet"
  private val robotsFx = "/root/repo/fixtures/robots.parquet"
  private val sitemapsFx = "/root/repo/fixtures/sitemaps.parquet"
  private val warcCharsetShards = "/root/repo/fixtures/warc_charset_shards.parquet"
  private val warcCharsetPages = "/root/repo/fixtures/warc_charset_pages.parquet"
  private val pslFx = "/root/repo/fixtures/psl.parquet"
  private val linkPagesFx = "/root/repo/fixtures/link_pages.parquet"
  private val warcHttpShards = "/root/repo/fixtures/warc_http_shards.parquet"
  private val warcHttpPages = "/root/repo/fixtures/warc_http_pages.parquet"
  private val redirectShards = "/root/repo/fixtures/redirect_shards.parquet"
  private val redirectExpected = "/root/repo/fixtures/redirect_expected.parquet"
  private val brotliVectors = "/root/repo/fixtures/brotli_vectors.parquet"

  // ---------------------------------------------------------------- dedup

  /** Exact dedup by content hash. The corpus is the documents table plus a
    * re-keyed copy of every 10th row, so clusters of size 1 and 2 both
    * occur and the hash-groupBy provably collapses them. */
  def q27ExactDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val dups = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    Dedup.exactClusters(d.unionByName(dups), "doc_id", "text")
  }

  /** q264: the DEDUP LADDER — the composition the scale evidence names
    * as the mitigation for content-driven near-dup quadratics, now a
    * correctness-gated (and benchable) surface of its own. Rung 1 is the
    * cheap exact hash-groupBy (one shuffle on a 128-bit content hash),
    * which removes every literal copy BEFORE a single shingle is minted;
    * rung 2 runs MinHash-LSH near-dup only on the exact survivors, so
    * the banded self-join's duplicate multiplicity — the measured
    * quadratic at x10/x30 (q96 ratio 49 at x30) — is collapsed to 1 per
    * distinct text ahead of the expensive stage. Input is the q27 corpus
    * (documents + literal copies of every 10th doc); output is every
    * corpus doc with its fate: 'exact_dup' (removed by rung 1),
    * 'near_dup' (removed by rung 2), 'kept'. The oracle replays both
    * rungs — min-id keeper per md5 cluster, then the all-pairs Jaccard
    * condition over survivors only. */
  def q264DedupLadder(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val dups = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val corpus = d.unionByName(dups)
    val keepers = Dedup.exactClusters(corpus, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val exactSurvivors = corpus.join(keepers, Seq("doc_id"), "left_semi")
    val losers = Dedup.nearDupPairs(exactSurvivors, "doc_id", "text")
      .select(col("id_b").as("doc_id")).distinct()
    corpus
      .join(keepers.withColumn("is_keeper", lit(1)).select("doc_id", "is_keeper"),
        Seq("doc_id"), "left")
      .join(losers.withColumn("is_near_loser", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_keeper").isNull, "exact_dup")
          .when(col("is_near_loser").isNotNull, "near_dup")
          .otherwise("kept").as("fate"))
  }

  /** Near-dup pairs: MinHash → banded LSH buckets → equi self-join →
    * exact-Jaccard verify at 4/5. Never all-pairs (the oracle IS all-pairs
    * — affordable in DuckDB at verification scale, quadratic-impossible at
    * 100 TB, which is the point of the LSH path). */
  def q28NeardupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(Tables.documents(s, dir), "doc_id", "text")

  /** q269: QUALITY-PRIORITY near-dup keeper — production corpus dedup
    * keeps the BEST document of each near-dup component, not the
    * smallest id (the min-id convention of q38 is a determinism
    * convenience, not a curation policy; the copy worth training on is
    * the longest/cleanest one). LADDER-ORDERED (the q264 recipe —
    * round-11's one unapplied scale mitigation): rung 1 exact-collapses
    * the corpus to one representative per distinct text (one shuffle on
    * a 128-bit content hash), so the banded LSH self-join of rung 2 —
    * whose candidate volume is quadratic in per-text copy multiplicity —
    * sees multiplicity 1. Input is the q264 dup-injected corpus
    * (documents + a literal copy of every 10th doc) so rung 1 is
    * exercised at verify scale, not only under ×N replication. After
    * rung 2: connected components over the REP pair graph (similarity is
    * not transitive — components, not pairs, are the dedup unit), with
    * multi-copy exact groups (shingle-eligible ones) as members even
    * without a distinct-text neighbor — exact copies ARE near-dups at
    * Jaccard 1, which is what the un-laddered LSH would have emitted.
    * Verdicts then FAN BACK through the exact-group map (corpus ⋈ fp ⋈
    * rep component), and the keeper is a per-component
    * partial-aggregating argmax by (n_chars desc, doc_id asc) over ALL
    * members. Electing over members ≡ electing pre-collapse: exact
    * copies tie on n_chars and the group representative is the group's
    * min id, so cluster labels and keepers are identical to the
    * un-laddered output — only the candidate volume changed. Every
    * shuffle is keyed (fp, bands, node ids, cluster_id). Output: each
    * component member with its cluster and elected keeper. */
  def q269QualityKeeper(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("n_chars"))
    val corpus = d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("n_chars")))
    // RUNG 1: exact-collapse to one rep (min id) per distinct text.
    // Severed: the group table (one row per distinct text) feeds THREE
    // consumers (rep semi-join, multi-copy membership, fan-back map)
    // whose subtrees differ, so exchange reuse cannot serve them.
    val groups = Dedup.exactClusters(corpus, "doc_id", "text")
      .sever() // fp, n_copies, keeper_id
    val reps = corpus.join(groups.select(col("keeper_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // RUNG 2: banded LSH near-dup pairs over representatives ONLY
    val pairs = Dedup.nearDupPairs(reps, "doc_id", "text").select("id_a", "id_b")
    // membership: reps in a pair, plus reps of multi-copy exact groups
    // that are shingle-eligible (docs under 3 tokens never enter the LSH
    // universe, laddered or not)
    val eligible = Dedup.shingleSets(reps, "doc_id", "text", 3).select("doc_id")
    val multiReps = groups.filter(col("n_copies") >= 2)
      .select(col("keeper_id").as("doc_id"))
      .join(eligible, Seq("doc_id"), "left_semi")
    val memberReps = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id")))
      .unionByName(multiReps).distinct()
    val cc = Dedup.connectedComponents(memberReps, pairs, "doc_id")
    // FAN BACK: every corpus doc inherits its exact-group rep's component
    val repOf = corpus.withColumn("fp", md5(col("text")))
      .join(groups.select(col("fp"), col("keeper_id").as("rep_id")), "fp")
      .select(col("doc_id"), col("rep_id"), col("n_chars"))
    val members = repOf.join(cc.withColumnRenamed("doc_id", "rep_id"), "rep_id")
    val keepers = members.groupBy("cluster_id")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster_id"), (-col("b.nid")).as("keeper_id"))
    members.join(keepers, "cluster_id").select("doc_id", "cluster_id", "keeper_id")
  }

  /** q271: SOURCE-OVERLAP MinHash matrix — which corpus slices share
    * content, estimated WITHOUT comparing documents: a source's MinHash
    * component is the min over its distinct shingles (min of a union =
    * min of mins — the signature is mergeable, so at 100 TB it folds
    * per-partition then per-source, 16 longs of state per source).
    * Pair discovery is an EQUI-JOIN on (seed, min-hash value) — the
    * banded-LSH shape — so sources with zero colliding components never
    * meet and there is no all-pairs stage at any source count. Matching
    * components / 16 estimates source-level Jaccard (reported as
    * permille, integer div). Uses the portable md5 minhash (q29) so the
    * oracle replays the signature bit-for-bit. */
  /** Long-form per-source portable-minhash signature (source, k, mh) over
    * 16 seeds — min over the source's distinct shingles per seed. Shared
    * by q271 (pairwise overlap) and q273 (incremental maintenance). */
  private def sourceSignature(d: DataFrame): DataFrame = {
    val srcShingle = Dedup.shingleSets(d, "doc_id", "text", 3)
      .join(d.select("doc_id", "source"), "doc_id")
      .select(col("source"), explode(col("shingles")).as("sh"))
      .distinct()
    srcShingle
      .select(col("source"),
        explode(array((0 until 16).map(i => lit(i.toLong)): _*)).as("k"), col("sh"))
      .groupBy("source", "k")
      .agg(min(substring(md5(
        concat(col("k").cast("string"), lit(":"), col("sh"))), 1, 16)).as("mh"))
  }

  def q271SourceMinhash(s: SparkSession, dir: String): DataFrame = {
    val sig = sourceSignature(Tables.documents(s, dir))
    val a = sig.select(col("k"), col("mh"), col("source").as("source_a"))
    val b = sig.select(col("k"), col("mh"), col("source").as("source_b"))
    a.join(b, Seq("k", "mh"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_match"))
      .withColumn("est_permille", expr("(n_match * 1000) div 16"))
  }

  /** q273: INCREMENTAL MinHash-signature maintenance — the sketch-append
    * property that keeps q271's source-overlap matrix fresh at 100 TB
    * without a corpus rescan: min(sig(A ∪ Δ)) = elementwise
    * min(sig(A), sig(Δ)), so a new ingest batch only pays its OWN
    * signature (16 longs of state per source) and one keyed min-merge
    * over |sources|·16 rows — never the historical corpus. The query
    * splits documents into a base batch (even doc ids) and a delta batch
    * (odd), signs each independently, merges by min; the oracle is the
    * FULL-corpus signature, so the hash match proves increment ≡
    * rebuild (the q265 pattern, for sketches instead of counts). */
  def q273SigIncrement(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val base = sourceSignature(d.filter(col("doc_id") % 2 === 0))
    val delta = sourceSignature(d.filter(col("doc_id") % 2 === 1))
    base.unionByName(delta).groupBy("source", "k").agg(min("mh").as("mh"))
  }

  /** The MinHash machinery itself, cross-engine-checkable: 4 md5-based
    * signature components per doc (string min over shingles). */
  def q29MinhashSig(s: SparkSession, dir: String): DataFrame = {
    val sets = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text", 3)
    sets.select(col("doc_id") +:
      (0 until 4).map(k => Dedup.portableMinhash(col("shingles"), k).as(s"mh$k")): _*)
  }

  /** 60-bit SimHash signatures (explode + partial-agg groupBy). */
  def q30Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")

  /** SimHash near-dup pairs at Hamming ≤ 3 via exact byte-banding —
    * provably exhaustive (pigeonhole), still an equi-join, never
    * all-pairs. */
  def q40SimhashNeardup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text")

  /** Greedy near-dup removal: corpus minus the higher id of every verified
    * pair (anti-join on doc_id). */
  def q38NeardupDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupSurvivors(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), "doc_id", "text")
      .select("doc_id")

  /** EXACT n-gram-Jaccard near-dup pairs via the prefix-filtered inverted
    * index — zero false negatives by construction, so it must equal the
    * all-pairs oracle exactly (the strongest correctness statement in the
    * dedup suite: same output as q28's oracle with recall 1.0 guaranteed,
    * not probabilistic). */
  def q42JaccardExact(s: SparkSession, dir: String): DataFrame = {
    // persist the shingle table: it appears ~3× in the plan (index build +
    // both verify sides) — the exact multi-occurrence case the operator's
    // doc tells callers to pay once, as q64/q74 already do
    val sets = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text", 3).persist()
    Dedup.jaccardPairsExactOnSets(sets, thresholdNum = 4, thresholdDen = 5)
  }

  /** Embedding-cosine near-dup pairs at cos >= 999/1000 over the corpus
    * plus a deterministically perturbed copy of every 20th vector
    * (dimension 1 scaled by 1.05 — cos(v, v') >= 0.9997 for any v, while
    * the corpus' natural pairs top out near 0.52). Candidates from 4
    * independent LSH tables × 8 hyperplanes, exactly verified; the oracle
    * mirrors the table/bucket derivation bit-for-bit. */
  def q43CosineNeardup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val perturbed = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.05).cast("float")).otherwise(x))
          .as("embedding"))
    Similarity.cosineNearDupPairs(e.unionByName(perturbed),
      "vec_id", "embedding", planes = 8, tables = 4,
      thresholdNum = 999L, thresholdDen = 1000L)
  }

  // ----------------------------------------------------- similarity search

  /** Exact brute-force cosine top-10 for the vector with vec_id 0 —
    * the ANN baseline: one narrow pass + TakeOrderedAndProject. */
  def q31KnnBruteforce(s: SparkSession, dir: String): DataFrame =
    Similarity.knnBruteForce(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10)

  /** IVF-style bucketed search: nearest neighbor within each vector's own
    * `label` bucket (the coarse quantizer), via equi-join on the bucket. */
  def q32BucketedNn(s: SparkSession, dir: String): DataFrame =
    Similarity.bucketedNearestNeighbor(Tables.embeddings(s, dir), "vec_id", "embedding", "label")

  /** Random-hyperplane LSH ANN (6 sign bits → 64 buckets): the
    * data-independent scale path when no trained quantizer exists. */
  def q39LshAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.lshNearestNeighbor(Tables.embeddings(s, dir), "vec_id", "embedding", 6)

  /** IVF with a TRAINED coarse quantizer: k-means-lite (1 Lloyd iteration)
    * over a deterministic bounded sample, then NN within the assigned
    * cell. The oracle retrains the same centroids in SQL — sampling,
    * init, assignment, per-dim ordered-fold means — bit-for-bit. */
  def q46IvfTrainedNn(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfNearestNeighbor(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 4, sampleMod = 10L, maxSample = 1000, iters = 1)

  /** q263: q46's trained IVF with the cell count DERIVED as
    * max(2, ⌊√n⌋) instead of pinned — the operator's scale path
    * (√n cells ⇒ ~√n vectors per cell ⇒ Σcell² ≈ n^1.5/k ≈ n per
    * probe stage), now correctness-gated: the round-10 scale run showed
    * the fixed k=4 of q46 leaving a 58 s dominant task on 4 reduce keys
    * at sf1 while this derived path ran 12× faster — but only as a
    * ScaleBench variant. The oracle derives the SAME k in SQL
    * (floor(sqrt(count(*)))) and replays training — sampling (mod-2,
    * ascending, capped 1000 — a sample ≥ k at every test SF), init,
    * argmax-cos assignment, per-dimension ordered-fold means —
    * bit-for-bit, so the adaptive sizing itself is inside the hash. */
  def q263IvfDerivedK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfNearestNeighbor(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 0, sampleMod = 2L, maxSample = 1000, iters = 1)

  /** q46's trained IVF with the recall dial turned to nprobe=2: same
    * quantizer, each query probes its two best cells. */
  def q91MultiprobeNn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = Similarity.trainCentroidsLite(
      emb, "vec_id", "embedding", k = 4, sampleMod = 10L, maxSample = 1000, iters = 1)
    Similarity.multiProbeNearestNeighbor(emb, "vec_id", "embedding", centroids, nprobe = 2)
  }

  /** q266: IVF + BINARY-QUANTIZATION rerank — the last production ANN
    * compression missing from the family (q46 IVF, q91 multi-probe,
    * q128 PQ/ADC): in-cell candidates rank by Hamming distance on a
    * 60-bit sign signature (8 bytes/vector; XOR+popcount); only
    * survivors of the counting-threshold cut (budget 8 per probe, ties
    * at h* included — see [[Similarity.ivfBqRerank]]) pay the exact
    * cosine. Same trained k=4 quantizer as q46 so the oracle reuses the
    * shared training CTE chain, then replays signature, threshold, and
    * rerank bit-for-bit. */
  def q266IvfBqRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = Similarity.trainCentroidsLite(
      emb, "vec_id", "embedding", k = 4, sampleMod = 10L, maxSample = 1000, iters = 1)
    Similarity.ivfBqRerank(emb, "vec_id", "embedding", centroids, rerank = 8)
  }

  // ------------------------------------------------------------ multimodal

  /** Byte-level decode of binary image payloads (typed mapPartitions); the
    * oracle reads independently stored metadata. */
  def q33MediaDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImages(s, media)

  // q219: image payloads are extracted to one FILE per media row once per
  // JVM (bounded: the fixture media table) — the query under test is the
  // binaryFile read-back, not the extraction.
  private def imageFilesDir(s: SparkSession): String =
    Materialized.dir("binfiles", perPass = false) { tmp =>
      import java.nio.file.{Files, Paths}
      Files.createDirectories(Paths.get(tmp))
      s.read.parquet(media).select("media_id", "mime", "payload")
        .filter(col("mime").startsWith("image/")).collect()
        .foreach { r =>
          Files.write(Paths.get(tmp, s"img_${r.getLong(0)}.bin"),
            r.getAs[Array[Byte]]("payload"))
        }
    }

  /** q219: `binaryFile` DataSource ingest — the standard shape an image
    * corpus actually lands in (a directory of opaque files), vs q33's
    * blob-in-parquet column. `spark.read.format("binaryFile")` with a
    * `pathGlobFilter` yields (path, length, content) rows; ids parse from
    * file names, dims/checksums from the SAME byte-walk decoder as q33
    * ([[graft.operators.Multimodal.decode]]), and the oracle reads the
    * independently stored parquet metadata — matching proves the
    * file-per-record round trip end to end. Scale: one task per file
    * group, no driver state; the per-JVM extraction above is fixture
    * bootstrap, not the measured path. */
  def q219BinaryFiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(imageFilesDir(s))
    val rows = files.select(
        regexp_extract(col("path"), "img_(\\d+)\\.bin$", 1)
          .cast("long").as("media_id"),
        lit("image/file").as("mime"),
        col("content").as("payload"))
      .as[Multimodal.MediaRow]
    Multimodal.decode(rows).toDF()
      .select("media_id", "dec_width", "dec_height", "dec_bytes",
        "dec_checksum")
  }

  /** Frame sampling over video payloads: REAL container demux
    * ([[graft.operators.Multimodal.videoMeta]] — ISO-BMFF box walk /
    * AVI chunk walk) + codegen'd frame-index generator (every 5th frame
    * + integer ms timestamps). */
  def q47FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(s, media, everyNth = 5)

  /** q245: REAL video metadata demux — dims / frame count / fps /
    * duration parsed from actual ISO-BMFF box trees (tkhd 16.16 dims,
    * mdhd timescale, stts sample runs; version-0/1 boxes, largesize,
    * moov-last streaming layout) and AVI RIFF trees (avih main header).
    * The oracle reads the independently stored metadata columns — a
    * byte off anywhere in either container walk breaks the hash. */
  def q245VideoMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoMeta(Multimodal.readMedia(s, media)).toDF()

  /** Thumbnail geometry planning from byte-decoded dimensions (scale =
    * min(1, 64/max(w,h)), floor'd target dims — single IEEE ops). */
  def q48ThumbSpec(s: SparkSession, dir: String): DataFrame =
    Multimodal.thumbSpec(s, media, maxDim = 64)

  /** q276: IMAGE perceptual hash — a 64-bit average-hash over REAL
    * decoded pixels: GIF payloads through the library's own LZW decoder
    * (variable-width codes, dictionary growth, clear/EOI) and 24-bpp BMP
    * payloads through the aligned-row walk, palette/BGR → integer BT.601
    * luma, 8×8 nearest-neighbor grid, bit = 64·sample > Σ samples.
    * Emitted as non-negative (hi, lo) 32-bit halves so banding and the
    * oracle stay inside signed BIGINTs. The oracle REGENERATES every
    * sampled pixel from the fixture byte formulas (the q141 precedent —
    * two independent pixel decoders agreeing bit-for-bit on the hash),
    * including the seeded near-dup rows 88-95 whose pixel streams derive
    * from a BASE row's formula. */
  def q276ImagePhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imagePhash(Multimodal.readMedia(s, media)).toDF()
      .select(col("media_id"), col("img_w"), col("img_h"),
        col("phash_hi"), col("phash_lo"))

  /** q277: IMAGE perceptual NEAR-DUP pairs — the multimodal analogue of
    * text minhash dedup, over content the engine actually decodes:
    * banded aHash candidates (4×16-bit bands, pigeonhole-exhaustive at
    * Hamming ≤ 3, shuffle keyed on (band, value) — never all-pairs),
    * exact Hamming via bit_count(xor), then an exact PIXEL verify (L1
    * over the 8×8 gray samples ≤ 1024, i.e. mean |Δluma| ≤ 16). The
    * fixture's seeded families make every fate observable: exact pixel
    * copies under different ids (Hamming 0), sparse perturbations
    * (Hamming ≤ 1, L1 ≤ 132), and unrelated images (nearest non-family
    * pair: Hamming 4 / L1 1852 — outside both cuts). The oracle is the
    * all-pairs replay over regenerated pixels. */
  def q277ImageNeardup(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageNearDupPairs(Multimodal.readMedia(s, media),
      maxHamming = 3, maxSampleL1 = 1024L)

  /** q282: INCREMENTAL image content dedup — an ingestion BATCH (the
    * seeded derived rows: 89/90/91, 93/94/95) screened against the hash
    * HISTORY (everything earlier: rows 60-75 + the bases 88 and 92),
    * the production shape where each batch pays only
    * (batch × history-index), never a corpus rescan — the
    * [[graft.operators.Dedup.simhashNearDupAgainst]] pattern for media.
    * The batch filter (media_id ≥ 89, ≠ 92) also sweeps in the later
    * cross-format rows 100-103. Expected matches (5): the copies and
    * perturbations land on their base (89→88, 90→88, 93→92, 94→92) and
    * the cross-format BMP re-encode of gif-92 lands on it too (100→92);
    * the unrelated controls 91/95 and the PNG rows 101-103 (no history
    * counterpart) match nothing. */
  def q282ImageHistoryNeardup(s: SparkSession, dir: String): DataFrame = {
    val m = Multimodal.readMedia(s, media)
    val batch = m.filter(col("media_id") >= 89 && col("media_id") =!= 92)
    val hist = m.filter(col("media_id") <= 88 || col("media_id") === 92)
    Multimodal.imageNearDupAgainst(batch, hist, maxHamming = 3, maxSampleL1 = 1024L)
  }

  /** q283: INCREMENTAL audio content dedup — batch rows 97-99 screened
    * against the history (all earlier WAV rows incl. base 96). Expected:
    * 97 (exact stream copy) and 98 (sparse perturbation) land on 96; 99
    * matches nothing. */
  def q283AudioHistoryNeardup(s: SparkSession, dir: String): DataFrame = {
    val m = Multimodal.readMedia(s, media)
    val batch = m.filter(col("media_id") >= 97)
    val hist = m.filter(col("media_id") <= 96)
    Multimodal.audioNearDupAgainst(batch, hist, maxHamming = 3, maxRelL1Permille = 100L)
  }

  /** q285: GAIN-INVARIANT audio near-dup — the loudness-robust screen:
    * the envelope fingerprint already scales out constant gain, and the
    * verify compares normalized per-window permille PROFILES instead of
    * absolute energies, so a re-encoded copy at different volume
    * (fixture row 104 = row 96 at half gain) is caught here while the
    * absolute verify of q279 correctly treats it as a different
    * recording. */
  def q285AudioGainNeardup(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioNearDupPairsGainInvariant(
      Multimodal.readMedia(s, media), maxHamming = 3, maxProfileL1 = 200L)

  /** q286: VIDEO content fingerprint — demux the REAL containers (the
    * q245 box/chunk walks: ISO-BMFF mdat / AVI movi 00dc chunks), sample
    * 8 evenly-spaced raw-gray frames (the q47 convention), aHash each —
    * one (media_id, slot, hash) row per sampled frame; the bounded
    * signature a corpus banks instead of payload bytes. Oracle
    * regenerates the sampled frame pixels from the fixture stream
    * formula (seeded rows: 111/112 derive from 110, 115 from 114 — the
    * latter the CROSS-CONTAINER pair, one AVI and one MP4 carrying the
    * identical stream). Non-raw-codec video rows (0-87: no decodable
    * frame stream) are skipped by both sides. */
  def q286VideoFp(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFingerprint(Multimodal.readMedia(s, media)).toDF()
      .select(col("media_id"), col("t"), col("fp_hi"), col("fp_lo"))

  /** q287: VIDEO content near-dup pairs — banded per-slot candidates
    * (shuffle keyed (t, band, bucket), never all-pairs; recall
    * pigeonhole-exhaustive for total Hamming ≤ 24 over 8 slots), exact
    * verify over all slots (total Hamming + total sample L1). Expected:
    * the exact copies (110,111)/(114,115) at 0/0, the perturbed
    * (110,112)/(111,112) at 0/48; nearest non-family pair sits at total
    * Hamming 132. (114,115) is the cross-container match: identical
    * stream, AVI vs MP4. */
  def q287VideoNeardup(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoNearDupPairs(Multimodal.readMedia(s, media))

  /** q288: INCREMENTAL video content dedup — batch rows 111+ screened
    * against the fingerprint history (row 110), the q282/q283 production
    * shape for video: the batch pays (batch × history-index), history
    * carries 8×~300 B per video. Expected: 111 and 112 land on 110; 113
    * matches nothing; 114/115 have no history counterpart (their mutual
    * pair is in-batch and correctly NOT emitted). */
  def q288VideoHistoryNeardup(s: SparkSession, dir: String): DataFrame = {
    val m = Multimodal.readMedia(s, media)
    Multimodal.videoNearDupAgainst(
      m.filter(col("media_id") >= 111), m.filter(col("media_id") <= 110))
  }

  /** q289: HTML main-content extraction — the first operator of a
    * web-corpus pipeline ([[graft.operators.Html]]): strip
    * script/style/comments, split on block-level tags, entity-decode +
    * whitespace-normalize per block, keep blocks ≥ 25 chars with link
    * density ≤ 30% (integer rule), join in document order. The fixture
    * carries real-world shapes: link-dense nav/footers, tag-looking text
    * inside <script> strings, multi-line comments, entities, unclosed
    * tags, uppercase tags, unquoted attributes, bare '<' in prose, and
    * pure link-farm pages (empty extraction). The DuckDB oracle runs the
    * IDENTICAL regex chain (RE2/Java common ground) — both engines must
    * agree on every extracted character. */
  def q289HtmlExtract(s: SparkSession, dir: String): DataFrame =
    Html.mainContent(Html.readHtmlDocs(s, htmlDocs))

  /** q290: HTML boilerplate profile — the inverse cut of q289: how much
    * of each page is nav/footer/link-farm (block counts, chars, link
    * share in integer permille). */
  def q290HtmlBoilerplate(s: SparkSession, dir: String): DataFrame =
    Html.boilerplate(Html.readHtmlDocs(s, htmlDocs))

  /** q291: the q64 corpus clean COMPOSED on extracted HTML — extraction
    * feeds the language filter → quality filter → exact dedup → near-dup
    * removal pipeline unchanged ([[corpusSurvivorsOf]]), the order a web
    * crawl actually flows. The fixture's populations make every stage's
    * work observable: 200-219 are EXACT content duplicates of 0-19 under
    * different boilerplate (dropped by exact dedup — extraction-keyed,
    * not byte-keyed), 220-239 near-duplicates (one word changed, Jaccard
    * ≥ 0.8 — dropped by the near-dup stage), 240-259 too short
    * (quality), 260-279 Spanish (language), 280-299 link farms (empty
    * extraction). */
  def q291HtmlCorpusClean(s: SparkSession, dir: String): DataFrame =
    corpusSurvivorsOf(
      Html.mainContent(Html.readHtmlDocs(s, htmlDocs))
        .select(col("doc_id"), col("main_text").as("text")))
      .select(col("doc_id"), md5(col("text")).as("fp"))

  /** q292: ANN search served FROM THE WRITTEN INDEX
    * ([[graft.sources.AnnIndex]]) — the persisted-IVF-PQ surface: train
    * once (q46's coarse quantizer + q100's product quantizer, written as
    * centroid/codebook/postings tables, postings PARTITIONED by cell),
    * then every query reads only index tables: 2 probed cells by
    * centroid cosine, a partition-pruned postings scan, ADC top-10 for
    * the vec_id=7 query. The oracle RETRAINS everything from the corpus
    * in SQL — any damage on the write path (wrong cell, wrong code,
    * wrong centroid) breaks it (the q81/q82 written-table convention).
    * Unlike q46/q100, repeated queries pay NO training: the memoized
    * build runs once per corpus (the q262 CoPurchaseGraph contract). */
  def q292AnnIndexSearch(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.AnnIndex.path(s, dir)
    val q = Tables.embeddings(s, dir).filter(col("vec_id") === 7)
      .select(col("embedding")).first().getSeq[Float](0).toArray.map(_.toDouble)
    graft.sources.AnnIndex.searchTopK(s, root, q, nprobe = 2, excludeId = 7L, topK = 10)
  }

  /** q293: INCREMENTAL index maintenance — the index is built on the
    * HISTORY (vec_id % 7 ≠ 3), then the batch (vec_id % 7 = 3) is
    * APPENDED: assigned and PQ-encoded against the WRITTEN quantizers
    * only (no retrain, no corpus rescan — the q265/q283 incremental
    * convention), postings appended under their cells. The same search
    * then serves from the union. The oracle mirrors exactly: quantizers
    * trained on the history sample, every vector assigned/encoded with
    * them — so a retrain-on-append bug (batch leaking into the sample)
    * breaks the hash. */
  def q293AnnIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.AnnIndex.pathIncremental(s, dir)
    val q = Tables.embeddings(s, dir).filter(col("vec_id") === 7)
      .select(col("embedding")).first().getSeq[Float](0).toArray.map(_.toDouble)
    graft.sources.AnnIndex.searchTopK(s, root, q, nprobe = 2, excludeId = 7L, topK = 10)
  }

  /** q295: WARC response inventory — the crawl container walk
    * ([[graft.operators.Warc]]): 6 real WARC/1.0 shard files (shard 5 in
    * Common Crawl's record-per-gzip-member framing, shard 2 with a torn
    * garbage tail), warcinfo/request/response/metadata records, HTTP
    * blocks parsed to status/content-type/body. PACK-AND-RECOVER oracle:
    * the fixture packs html_docs pages, so every expected field is a
    * formula over html_docs — status 404 at doc_id%53=7, 301 (EMPTY
    * body + Location) at %53=21, else 200; Content-Type case varies at
    * doc_id%10=3. One byte off anywhere in the record framing, gzip
    * member walk, HTTP header parse, or body slice breaks the md5. */
  def q295WarcResponses(s: SparkSession, dir: String): DataFrame =
    Warc.responses(Warc.readShards(s, warcShards))
      .select(col("target_uri").as("url"),
        col("http_status"), col("http_content_type"),
        length(col("body")).cast("long").as("body_bytes"),
        md5(col("body")).as("body_md5"))

  /** q296: WARC census — record counts by (shard, type): proves the
    * container STRUCTURE was walked exactly (every warcinfo, every
    * request, every periodic metadata record, across both the plain and
    * the gzipped framings, with the torn tail losing nothing). */
  def q296WarcCensus(s: SparkSession, dir: String): DataFrame =
    Warc.records(Warc.readShards(s, warcShards))
      .groupBy(col("shard_id"), col("warc_type"))
      .agg(count(lit(1)).as("n_records"))

  /** q297: the full WEB FRONT DOOR composed — WARC bytes → HTTP 200
    * responses → UTF-8 body → [[graft.operators.Html]] main-content
    * extraction, keyed by the crawl's own target URI. The oracle runs
    * the q289 regex chain over html_docs (the packed source of truth)
    * restricted to the status-200 population: the engine must recover
    * the IDENTICAL extracted text from the container bytes alone. */
  def q297WarcExtract(s: SparkSession, dir: String): DataFrame = {
    val pages = Warc.responses(Warc.readShards(s, warcShards), status = Some(200))
      .select(col("target_uri").as("url"), col("body").cast("string").as("html"))
    Html.mainContent(pages, idCol = "url", htmlCol = "html")
  }

  /** q298: PARAGRAPH-level dedup (the CCNet line-dedup step) over the
    * HTML blocks — blocks ARE the paragraphs
    * ([[graft.operators.Dedup.paragraphDedup]]): each distinct paragraph
    * keeps only its first corpus occurrence (min (doc_id, pos)), then
    * per-doc reassembly. This removes the repeated nav/footer/cookie
    * boilerplate corpus-wide WITHOUT any density heuristic, and
    * whole-page duplicates (docs 200-219, copies of 0-19) lose every
    * paragraph to the earlier copy. One hash groupBy + one hash join —
    * paragraph state is per DISTINCT paragraph, never doc×doc. */
  def q298ParagraphDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.paragraphDedup(
      Html.blocks(Html.readHtmlDocs(s, htmlDocs)).select("doc_id", "pos", "text"))

  /** q299: INCREMENTAL paragraph screen — batch docs (150-299) tested
    * against the paragraph-hash HISTORY (docs 0-149): per batch doc, how
    * many paragraphs are already-seen (boilerplate or copied content)
    * vs new. The duplicate populations make it observable: docs 200-219
    * score all-dup (copies of history), while every page's nav/footer
    * paragraphs hit the history regardless. The join is batch ×
    * hash-index (the q282/q288 convention) — the history corpus text is
    * never re-read. */
  def q299ParagraphHistScreen(s: SparkSession, dir: String): DataFrame = {
    val pars = Html.blocks(Html.readHtmlDocs(s, htmlDocs)).select("doc_id", "pos", "text")
    Dedup.paragraphDedupAgainst(
      pars.filter(col("doc_id") >= 150), pars.filter(col("doc_id") < 150))
  }

  /** The messy-URL augmentation (the q49 in-query convention): every
    * documents row gets a crawl-shaped URL whose DECORATIONS — scheme
    * and host case, userinfo, default port, trailing slash, tracking
    * params, query order, fragment — vary by doc_id residues while the
    * canonical identity is shared by each block of 7 ids, so
    * canonicalization provably collapses groups the raw strings never
    * would. The oracle states the INTENDED canonical form directly
    * (pack-and-recover, not a regex replay): a wrong rule anywhere in
    * [[graft.operators.Url]] diverges. */
  private def messyUrl: Column = {
    val d = col("doc_id")
    concat(
      when(d % 2 === 0, lit("https")).otherwise(lit("HTTPS")), lit("://"),
      when(d % 11 === 0, lit("crawler:pw@")).otherwise(lit("")),
      when(d % 6 === 0, lit("www.example.com"))
        .when(d % 6 === 1, lit("WWW.Example.Com"))
        .when(d % 6 === 2, lit("www.EXAMPLE.com"))
        .when(d % 6 === 3, lit("api.news.example.co.uk"))
        .when(d % 6 === 4, lit("cdn.files.sample.org"))
        .otherwise(lit("Example.COM")),
      when(d % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/a/"), expr("doc_id div 7").cast("string"),
      when(d % 9 === 0, lit("/")).otherwise(lit("")),
      when(d % 2 === 0, concat(lit("?b=2&a=1&utm_source=s"), d.cast("string")))
        .otherwise(concat(lit("?a=1&b=2&fbclid=f"), d.cast("string"))),
      when(d % 4 === 0, concat(lit("#sec"), d.cast("string"))).otherwise(lit("")))
  }

  /** q300: URL canonicalization — the key a crawl dedups on before any
    * content arrives: lowercase scheme/host, strip userinfo + default
    * port + fragment, normalize the path, drop tracking params, sort the
    * rest. Plus host extraction and the registrable domain (pinned
    * multi-part-suffix list) — the crawler's politeness key. Pure
    * codegen'd string builtins, zero shuffle. */
  def q300UrlCanonical(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("url", messyUrl)
      .select(col("doc_id"), col("url"),
        Url.canonicalize(col("url")).as("canonical_url"),
        Url.host(col("url")).as("host"),
        Url.registeredDomain(Url.host(col("url"))).as("registered_domain"))

  /** q301: URL-level dedup — group by the canonical form: each block of
    * 7 doc_ids collapses despite every row carrying different
    * decorations; keeper = min doc_id (the earliest fetch wins). The
    * groupBy keys on the canonical string: one shuffle, no content
    * touched — the cut that runs BEFORE fetch/parse in a real crawl. */
  def q301UrlDedup(s: SparkSession, dir: String): DataFrame =
    q300UrlCanonical(s, dir)
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))

  /** q302: PDF text extraction ([[graft.operators.Pdf]]) — the #2
    * corpus document format after HTML, decoded from the BYTES: object
    * scan (recovery-mode, no xref), page tree in /Kids order (the
    * fixture ROTATES Kids on 3-page docs), /Contents single refs and
    * arrays, FlateDecode inflate, and the pinned text-operator walk
    * (Tj / ' / TJ with kerning, escapes, octal, nested parens, line
    * continuation). Unreferenced image streams are never touched; a
    * truncated deflate drops its page, never throws. Oracle: the
    * stored expected columns (the q33/q130 decode-vs-metadata
    * convention) — one byte off anywhere breaks the string compare. */
  def q302PdfExtract(s: SparkSession, dir: String): DataFrame =
    Pdf.extract(Pdf.readPdfs(s, pdfDocs)).toDF()

  /** q303: CROSS-VARIANT PDF dedup — exact content dedup over the
    * EXTRACTED text: rows 36/37 carry the same text as 0/1 under
    * different bytes (recompressed, re-laid-out, TJ-split), so byte- or
    * hash-level file dedup can never catch them; extraction-then-dedup
    * does. The composition every document pipeline runs. */
  def q303PdfTextDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactClusters(Pdf.extract(Pdf.readPdfs(s, pdfDocs)).toDF(),
      "pdf_id", "text")

  /** q304: robots.txt parsing ([[graft.operators.Robots]]) — the crawl
    * PERMISSION layer: RFC 9309 group semantics (specific-agent group
    * overrides `*`, multi-UA groups, merged matching groups, pre-group
    * rules dropped, empty patterns dropped, unknown directives and
    * comments skipped, CRLF+LF). PACK-AND-RECOVER: the fixture stores
    * the expected graftbot rule set as independent array columns; the
    * engine must parse the raw robots.txt back to exactly those rows. */
  def q304RobotsRules(s: SparkSession, dir: String): DataFrame =
    Robots.rules(Robots.readRobots(s, robotsFx), "graftbot").toDF()

  /** q305: the crawl-permission FILTER composed — canonical URLs
    * (q300) × parsed rules (q304): longest-match verdict per URL
    * (ties: Allow wins, then lexicographic; no match: default allow —
    * incl. the host with NO robots row at all). One host equi-join +
    * one groupBy on the url key; the rule side is broadcast-sized for
    * any real crawl. */
  def q305RobotsFilter(s: SparkSession, dir: String): DataFrame = {
    val urls = q300UrlCanonical(s, dir)
      .select(col("doc_id"), col("host"), Url.normPath(col("url")).as("path"))
    Robots.allowDecisions(urls,
      Robots.rules(Robots.readRobots(s, robotsFx), "graftbot"))
  }

  /** q306: sitemap XML parsing ([[graft.operators.Sitemap]]) — the
    * crawl DISCOVERY feed: `<url>` blocks of every urlset file (the
    * `<sitemapindex>` row yields nothing), whitespace-tolerant,
    * `&amp;`-class entities decoded, `<lastmod>` optional. Oracle
    * regenerates every (sitemap_url, loc, lastmod) from the fixture's
    * URL-group formulas — pack-and-recover. */
  def q306SitemapUrls(s: SparkSession, dir: String): DataFrame =
    Sitemap.urls(Sitemap.readSitemaps(s, sitemapsFx))

  /** q307: the CRAWL FRONTIER composed end-to-end — what a crawler
    * fetches next: sitemap discovery (q306) → URL canonicalization
    * (q300: scheme/entity decorations collapse) → dedup against the
    * already-crawled canonical set (q301, sf-aware) → robots permission
    * (q305's longest-match, default allow for robots-less hosts) →
    * allowed survivors. Every stage is observable in the fixture
    * groups: sitemap-a's 50 urls are canonical duplicates of crawled
    * pages, the /a/2000s and the cdn host die on robots rules, the
    * /a/33 Allow carve-out survives inside a blocked tree, and the
    * robots-less host passes by default. */
  def q307CrawlFrontier(s: SparkSession, dir: String): DataFrame = {
    val canon = Sitemap.urls(Sitemap.readSitemaps(s, sitemapsFx))
      .select(Url.canonicalize(col("loc")).as("canonical_url")).distinct()
    val crawled = q301UrlDedup(s, dir).select(col("canonical_url"))
    val fresh = canon.join(crawled, Seq("canonical_url"), "left_anti")
      .withColumn("host", Url.host(col("canonical_url")))
      .withColumn("path", Url.normPath(col("canonical_url")))
    Robots.allowDecisions(fresh,
        Robots.rules(Robots.readRobots(s, robotsFx), "graftbot"),
        keyCol = "canonical_url")
      .filter(col("allowed"))
      .select(col("canonical_url"), col("host"), col("path"), col("matched_rule"))
  }

  /** q321: FULL-COLOR JPEG reconstruction
    * ([[graft.operators.Multimodal.jpegRgb]]) — the chroma planes the
    * fast-luma path skips, IDCT'd, nearest-upsampled and converted to
    * RGB with pinned 16-bit fixed-point integers, summarized per image
    * as plane sums + per-channel (R, B) above-mean hashes. The fixture
    * stores the expected values from an INDEPENDENT Python
    * implementation of the same pinned spec (the q33/q130 convention):
    * two implementations agreeing bit-for-bit on every sum and hash. */
  def q321JpegColor(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageColorSig(Multimodal.readMedia(s, media)).toDF()

  /** q322: COLOR-verified image near-dup — the false positive the luma
    * stack cannot see: row 121 is a HUE-SHIFTED twin of 120 (identical
    * Y coefficients, Cb/Cr swapped), so the luma hash calls the pair an
    * exact duplicate (Hamming 0) while the R/B-channel hashes separate
    * them; row 122 is the true near-dup (perturbed luma, same chroma)
    * and passes both cuts. Banded luma candidates + the color verdict,
    * both thresholds auditable in the output. */
  def q322ColorNeardup(s: SparkSession, dir: String): DataFrame =
    Multimodal.colorNearDupPairs(Multimodal.readMedia(s, media))

  /** Crawl-shaped hosts for the PSL queries (the messyUrl convention):
    * deep subdomains over listed 2-label (co.uk, com.au), 3-label
    * (city.go.jp — must beat its listed go.jp parent on longest-match),
    * cc (zz), gTLD (io) and UNLISTED (qqq — the last-two fallback)
    * suffixes, plus rows whose host IS a listed suffix (go.jp). */
  private def messyHost: Column = {
    val d = col("doc_id")
    when(d % 31 === 0, lit("go.jp")).otherwise(concat(
      when(d % 4 === 0, lit("a.b."))
        .when(d % 4 === 1, lit("deep.sub."))
        .otherwise(lit("www.")),
      lit("site"), (d % 37).cast("string"), lit("."),
      when(d % 7 === 0, lit("co.uk")).when(d % 7 === 1, lit("com.au"))
        .when(d % 7 === 2, lit("city.go.jp")).when(d % 7 === 3, lit("zz"))
        .when(d % 7 === 4, lit("qqq"))
        .when(d % 7 === 5, lit("io"))
        .otherwise(lit("ac.zz"))))
  }

  /** q319: TABLE-driven registrable domains
    * ([[graft.operators.Url.withRegisteredDomain]]) — the pinned
    * 7-suffix list replaced by the PSL-shaped broadcast table (~6.8k
    * rows): longest listed suffix on a label boundary, one label
    * prepended; unlisted suffixes fall back to the last two labels;
    * a host that IS a suffix maps to itself. The oracle replays the
    * longest-match join against the same table. */
  def q319PslDomains(s: SparkSession, dir: String): DataFrame =
    Url.withRegisteredDomain(
      Tables.documents(s, dir).select(col("doc_id")).withColumn("host", messyHost),
      "host", s.read.parquet(pslFx))
      .select("doc_id", "host", "registered_domain")

  /** q320: per-registrable-domain POLITENESS keys composed into the
    * crawl frontier — the q307 output grouped by the PSL-table domain:
    * the unit a crawler rate-limits on (api.* and www.* of one
    * registrant share one budget). */
  def q320FrontierPoliteness(s: SparkSession, dir: String): DataFrame =
    Url.withRegisteredDomain(q307CrawlFrontier(s, dir), "host",
        s.read.parquet(pslFx))
      .groupBy("registered_domain")
      .agg(countDistinct(col("host")).as("n_hosts"),
        count(lit(1)).as("n_urls"))

  /** q312: CHARSET-AWARE body decode ([[graft.operators.Warc.decodeBody]])
    * — the legacy-encoding front door: windows-1252/iso-8859-1/shift_jis
    * pages declared via the HTTP Content-Type header, a `<meta>` tag, or
    * not at all (strict-utf-8 with the windows-1252 browser fallback).
    * PACK-AND-RECOVER with a STORED expectation: the fixture keeps the
    * canonical charset label and the decoded text per url, written
    * independently of the engine; one wrong alias, sniff, or fallback
    * step diverges on the string compare. */
  def q312WarcCharset(s: SparkSession, dir: String): DataFrame =
    Warc.decodedResponses(Warc.readShards(s, warcCharsetShards))
      .select(col("url"), col("charset"), col("text"))

  /** q337: HTTP BODY FRAMING decode ([[graft.operators.Warc]] parseHttp
    * — r14 verdict #2): `Transfer-Encoding: chunked` de-framing (chunk
    * extensions + trailers ignored), `Content-Encoding: gzip/x-gzip`
    * inflate, `deflate` in BOTH the zlib-wrapped and raw forms, the two
    * COMPOSED (gzip inside chunks), malformed chunk framing falling
    * back to the raw remainder, a truncated gzip body yielding the
    * empty text (None body), `br` inflated for real through the bounded
    * RFC 7932 STORED subset ([[graft.operators.Brotli]] — r16 verdict
    * #6; a COMPRESSED br meta-block and the codec-less zstd/compress
    * still yield the empty text: refused, never mojibake into the
    * ladder), and chunked+legacy-charset showing the
    * framing runs BEFORE the charset ladder. PACK-AND-RECOVER with a
    * STORED expectation (the q312 convention): the fixture keeps the
    * expected text per url, written independently of the engine. */
  def q337WarcHttpDecode(s: SparkSession, dir: String): DataFrame =
    Warc.decodedResponses(Warc.readShards(s, warcHttpShards))
      .select(col("url"), col("charset"), col("text"))

  /** q349: FULL RFC 7932 (brotli) inflate (r17 — r16 verdict #6 closed
    * for real): every fixture vector is a stream the reference brotli
    * ENCODER produced (qualities 0-11 × windows 10-24 over
    * dictionary-heavy / UTF-8 / incompressible / run / empty payloads;
    * `tools/gen_brotli_fixture.py` cross-checks each against the
    * reference decoder at generation time) and the engine's pure-JVM
    * [[graft.operators.Brotli]] decode must reproduce the original
    * bytes EXACTLY: the query emits (n_out, md5-of-uppercase-hex) of
    * the inflated bytes, the oracle recomputes both from the
    * independently stored `payload` column (DuckDB's md5 takes VARCHAR
    * only, and its `hex` emits uppercase — the engine hashes the same
    * rendering) — pack-and-recover, the q312 convention. The
    * engine side reads ONLY the compressed column (BrotliSpec pins the
    * pruned scan). Scale shape: per-row bounded byte walk through a
    * typed mapPartitions — no UDF, no shuffle, embarrassingly parallel
    * over a 100 TB crawl's response bodies. */
  def q349BrotliDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(brotliVectors).select(col("vec_id"), col("br"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexDigits = "0123456789ABCDEF"
        it.map { case (id, br) =>
          graft.operators.Brotli.inflate(br, 64L * 1024 * 1024) match {
            case Some(out) =>
              md.reset()
              val hex = new Array[Byte](out.length * 2)
              var i = 0
              while (i < out.length) {
                hex(2 * i) = hexDigits((out(i) >> 4) & 15).toByte
                hex(2 * i + 1) = hexDigits(out(i) & 15).toByte
                i += 1
              }
              (id, out.length.toLong,
                md.digest(hex).map("%02x".format(_)).mkString)
            case None => (id, -1L, "")
          }
        }
      }
      .toDF("vec_id", "n_out", "digest")
  }

  /** The CDX lookup's url set — a bounded, deterministic page sample
    * (every 10th page starting at 3: crosses all six shards, including
    * the GZIPPED one, and hits the 404/301 statuses). A CDX lookup's
    * urls are driver-held by construction — it is a point-query API. */
  private def cdxUrls(s: SparkSession): Seq[String] =
    s.read.parquet(htmlDocs).filter(col("doc_id") % 10 === 3)
      .select("url").collect().map(_.getString(0)).toSeq

  /** q324: PERSISTED CDX INDEX lookup ([[graft.sources.CdxIndex]]) —
    * Common Crawl's url → (shard, offset, length, status, digest) index
    * as the third persisted-index family (after the q309 inverted index
    * and the q292 ANN index). Build walks the shards once and writes
    * locations partitioned by an md5 url bucket; THIS query reads only
    * the queried urls' bucket dirs — never crawl bytes. For the gzipped
    * shard the indexed extent is the record's own gzip MEMBER (the CC
    * contract: a production store serves it as one ranged GET). The
    * oracle recomputes status/digest from the packed source of truth —
    * a wrong offset surfaces in q325, a wrong digest here. */
  def q324CdxLookup(s: SparkSession, dir: String): DataFrame =
    CdxIndex.lookup(s, CdxIndex.path(s, warcShards), cdxUrls(s))
      .select(col("url"), col("shard_id"), col("http_status"), col("body_md5"))

  /** q325: CDX RANDOM-ACCESS FETCH — re-read the looked-up pages from
    * their (offset, length) slices alone: the shard scan is pruned to
    * exactly the named shards, each record re-parses from its slice
    * ([[graft.operators.Warc.fetchRecord]] — gzip members inflated
    * individually), and NO shard is ever walked. The md5 of every
    * re-fetched body must equal the oracle's from the packed source —
    * one wrong byte in an offset, a member boundary, or the slice
    * parse breaks the hash. */
  def q325CdxFetch(s: SparkSession, dir: String): DataFrame =
    CdxIndex.fetch(s, CdxIndex.path(s, warcShards), warcShards, cdxUrls(s))
      .select(col("target_uri").as("url"), col("http_status"),
        md5(col("body")).as("body_md5"))

  /** q326: the crawl's LINK GRAPH ([[graft.operators.Html.linkEdges]]) —
    * (src, dst, w) edges from every `<a href>` target of the status-200
    * pages, resolved against the page url (absolute kept, path-absolute
    * host-prefixed, the rest a documented drop). Codegen'd regexp
    * builtins end to end: one explode + ONE (src, dst) groupBy; at crawl
    * scale this edge table IS the web graph, and nothing downstream
    * touches page bytes again. Oracle: the identical regex chain with
    * the pattern interpolated from the operator's constant. */
  def q326LinkGraph(s: SparkSession, dir: String): DataFrame =
    Html.linkEdges(
      Warc.responses(Warc.readShards(s, warcShards), status = Some(200))
        .select(col("target_uri").as("url"), col("body").cast("string").as("html")))

  /** q336: RELATIVE URL RESOLUTION in the link graph
    * ([[graft.operators.Html.resolveHref]]) — the RFC 3986 §5.2 subset
    * over a fixture whose hrefs exercise EVERY branch: absolute,
    * protocol-relative (`//cdn…` scheme-prefixed — NOT mistaken for
    * path-absolute), other-scheme drops (mailto:/javascript:/tel:),
    * fragment-only drops, path-absolute, query-only, and page-relative
    * merge-paths with `./`, `seg/..` nesting to the pinned depth-4
    * bound, and excess `..` clamped at the root. On real pages the
    * relative class is the MAJORITY of links, so this is what keeps the
    * q326 graph / q327 rank / q331 frontier from dropping most
    * intra-site edges. Three independent replays of one pinned formula:
    * this operator chain, the oracle SQL (patterns interpolated from
    * the operator constants), and the fixture generator's Python twin
    * with hand-pinned expectations. */
  def q336LinkResolve(s: SparkSession, dir: String): DataFrame =
    Html.linkEdges(s.read.parquet(linkPagesFx))

  /** q327: CRAWL PAGERANK — the q109 fixed-point integer PageRank
    * ([[graft.operators.PageRank.ranks]]) over the q326 link graph, node
    * universe = every url that appears as a source or target. Link
    * targets have no out-edges (the crawl hasn't fetched them), so they
    * act as dangling sinks — the operator's pinned dangling semantics,
    * replayed bit-for-bit by the oracle's three unrolled iterations.
    * This is the harvest-rank shape a crawler uses to PRIORITIZE its
    * frontier: well-linked undiscovered urls rank highest. */
  def q327CrawlRank(s: SparkSession, dir: String): DataFrame = {
    val edges = q326LinkGraph(s, dir)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    graft.operators.PageRank.ranks(s, nodes, edges, iters = 3)
      .select(col("node").as("url"), col("rank"))
  }

  /** q328: INCREMENTAL CDX maintenance — index built over shards 0-4,
    * the gzipped shard 5 ingested by [[graft.sources.CdxIndex.append]]
    * (locates the BATCH only; the history is never re-walked), then the
    * q324 lookup served from the incrementally-built index. Same oracle
    * as q324: the maintenance path must be indistinguishable from a
    * fresh build. */
  def q328CdxAppend(s: SparkSession, dir: String): DataFrame =
    CdxIndex.lookup(s, CdxIndex.pathIncremental(s, warcShards), cdxUrls(s))
      .select(col("url"), col("shard_id"), col("http_status"), col("body_md5"))

  /** q331: POLITENESS SCHEDULER — the crawl loop's last planning step:
    * the q307 frontier assigned to fetch WAVES, at most 2 fetches per
    * REGISTRABLE DOMAIN (the PSL key — api.* and www.* of one
    * registrant share the budget) per wave, FIFO by canonical url.
    * Wave w is the url set a fetcher may issue in parallel on its w-th
    * round without violating per-registrant rate limits. One window
    * keyed on the domain: partitions are domain-sized, never
    * frontier-sized — the q168-class empty-PARTITION-BY hazard cannot
    * arise. */
  def q331FrontierSchedule(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Url.withRegisteredDomain(q307CrawlFrontier(s, dir), "host",
        s.read.parquet(pslFx))
      .withColumn("rn", row_number().over(
        Window.partitionBy("registered_domain").orderBy("canonical_url")))
      .select(col("canonical_url"), col("registered_domain"),
        expr("CAST((rn - 1) div 2 AS BIGINT)").as("wave"))
  }

  /** q339: CRAWL-DELAY-AWARE SCHEDULER ([[graft.operators.Robots
    * .crawlDelays]] — r14 verdict #8): the q307 frontier scheduled
    * per HOST under each host's declared `Crawl-delay` — fetch k
    * (0-based, FIFO by canonical url) of a host with delay d runs at
    * wave k·max(1,d), so a wave-per-second fetcher honors the declared
    * spacing; undeclared hosts default to the 1-per-wave cadence.
    * Delay parsing shares [[Robots]] group selection (a specific
    * graftbot group beats `*`; several chosen groups merge by MAX; a
    * non-integer value is ignored — the fixture exercises all three).
    * One window keyed on the host (bounded partitions, the q331
    * argument); the delay table is robots-sized — broadcast. */
  def q339CrawlDelaySchedule(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val delays = Robots.crawlDelays(Robots.readRobots(s, robotsFx), "graftbot")
    q307CrawlFrontier(s, dir)
      .join(broadcast(delays), col("host") === col("site"), "left")
      .withColumn("crawl_delay",
        coalesce(col("crawl_delay"), lit(1)).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("host").orderBy("canonical_url")))
      .select(col("canonical_url"), col("host"), col("crawl_delay"),
        ((col("rn") - 1).cast("long") *
          greatest(col("crawl_delay"), lit(1L))).as("wave"))
  }

  /** q335: WAT EXPORT — the metadata sidecar completing the Common Crawl
    * artifact triple (WARC read+write ✓, WET q329/q330 ✓, CDX q324 ✓):
    * one `metadata` record per response with a PINNED-LAYOUT JSON body
    * {"url","status","content_type","body_bytes","n_links"} — the
    * header-derived fields a crawl consumer reads without touching page
    * bytes (n_links = the q326 href pattern counted per page). Fields
    * are emitted verbatim (pinned subset: header-token fields cannot
    * carry quotes/backslashes per RFC 9110; a general JSON escaper would
    * be unreplayable noise here). Packed by [[graft.operators.Warc
    * .packRecords]] into per-shard deterministic bytes; the oracle
    * rebuilds record AND body bytes from the packing formulas and md5s
    * each assembled shard. */
  def q335WatExport(s: SparkSession, dir: String): DataFrame = {
    val r = Warc.responses(Warc.readShards(s, warcShards))
    // nullable header fields COALESCE to '' — a response without a
    // Content-Type header (common in real crawls; parseHttp yields None)
    // must emit a record with an empty field, not null-propagate the
    // whole JSON away (r14 advice); status defaults to -1, the
    // parse-failure sentinel the walk already uses
    val json = concat(
      lit("{\"url\":\""), col("target_uri"),
      lit("\",\"status\":"), coalesce(col("http_status"), lit(-1)).cast("string"),
      lit(",\"content_type\":\""), coalesce(col("http_content_type"), lit("")),
      lit("\",\"body_bytes\":"), coalesce(length(col("body")), lit(0)).cast("string"),
      lit(",\"n_links\":"),
      size(regexp_extract_all(coalesce(col("body").cast("string"), lit("")),
        lit(Html.HrefPattern), lit(1))).cast("string"),
      lit("}"))
    Warc.packRecords(
        r.select(col("target_uri").as("url"), json.as("text"), col("shard_id")),
        "url", "text", "shard_id", date = WetDate, gz = false,
        warcType = "metadata", contentType = "application/json")
      .toDF()
      .select(col("shard_id"), length(col("payload")).cast("long").as("payload_bytes"),
        md5(col("payload")).as("payload_md5"))
  }

  /** q332: REDIRECT MAP — the crawl's 301 responses with their
    * `Location` target ([[graft.operators.Warc]] now exposes the
    * header) CANONICALIZED (q300 rules: cased scheme/host lowered,
    * default port stripped, tracking params dropped, params sorted,
    * fragment removed — the fixture's Location is decorated on purpose).
    * The first step of redirect-chasing: map the moved url to the
    * canonical identity the frontier dedups on. */
  def q332RedirectMap(s: SparkSession, dir: String): DataFrame =
    Warc.responses(Warc.readShards(s, warcShards), status = Some(301))
      .select(col("target_uri").as("url"), col("http_location").as("location"))
      .withColumn("canonical_target", Url.canonicalize(col("location")))

  /** q333: redirect targets FOLDED INTO THE FRONTIER — the q307 gating
    * applied to where the 301s point: canonical dedup, then the robots
    * longest-match verdict for the target paths (the example.com rule
    * set, wildcards included). A crawler that drops redirects loses
    * pages; one that chases them without re-gating violates robots. */
  def q333RedirectFrontier(s: SparkSession, dir: String): DataFrame = {
    val t = q332RedirectMap(s, dir)
      .select(col("canonical_target").as("canonical_url")).distinct()
      .withColumn("host", Url.host(col("canonical_url")))
      .withColumn("path", Url.normPath(col("canonical_url")))
    Robots.allowDecisions(t,
        Robots.rules(Robots.readRobots(s, robotsFx), "graftbot"),
        keyCol = "canonical_url")
      .select(col("canonical_url"), col("allowed"), col("matched_rule"))
  }

  /** q346: SITEMAP DISCOVERY FROM robots.txt
    * ([[graft.operators.Robots.sitemapUrls]] — r16): the `Sitemap:`
    * declarations every crawler harvests before it ever fetches a
    * sitemap — sitemaps.org's standard hook, RFC 9309 §2.3's canonical
    * "other record". Pinned semantics proven by the fixture: GLOBAL
    * (one declaration sits BETWEEN two User-agent lines and neither
    * joins a group nor splits one — the q305 rule replay would break if
    * it did), case-insensitive key, leading whitespace, trailing
    * comments stripped, whole-remainder values, file order. Oracle:
    * the identical line walk in SQL over the same robots bytes. */
  def q346RobotsSitemaps(s: SparkSession, dir: String): DataFrame =
    Robots.sitemapUrls(Robots.readRobots(s, robotsFx))

  /** q338: MULTI-HOP REDIRECT CHAINS ([[graft.operators.Url
    * .resolveChains]] — r14 verdict #4): the 301 responses' Location
    * targets canonicalized (q332) into a redirect map, then iterated to
    * the TERMINAL url under the pinned hop bound (4): the ubiquitous
    * http→https→www→200 chain lands on its real page in 2 hops, a 301
    * loop burns its hops and stays flagged `unterminated`, a dangling
    * offsite hop terminates immediately. Fixture chains link up ONLY
    * through canonicalization (the first Location is decorated — cased
    * scheme/host, default port, tracking param, fragment). Oracle: the
    * stored expectation replayed by the generator's Python twin of the
    * same bounded iteration, hand-pinned rows asserted. */
  def q338RedirectChains(s: SparkSession, dir: String): DataFrame = {
    val edges = Warc.responses(Warc.readShards(s, redirectShards),
        status = Some(301))
      .select(col("target_uri").as("src"),
        Url.canonicalize(col("http_location")).as("dst"))
    Url.resolveChains(edges, "src", "dst", maxHops = 4)
  }

  private val WetDate = "2026-01-01T00:00:00Z"

  private def wetInput(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      concat(lit("https://corpus.local/doc"), col("doc_id")).as("url"),
      col("text"), (col("doc_id") % 8).as("shard_id"))

  /** q329: WARC WRITER ([[graft.operators.Warc.packConversions]]) — the
    * engine EMITS crawl artifacts, not just consumes them: the documents
    * table packed as WET-shaped `conversion` records (the derived
    * artifact Common Crawl publishes), 8 shards, records in url order so
    * each shard's bytes are DETERMINISTIC. The oracle rebuilds the exact
    * record bytes from the pinned layout and md5s the assembled shard —
    * one wrong header byte, length, separator, or record order breaks
    * the hash. Scale shape: one shuffle on the shard key, one assembly
    * pass per shard, one output row (= one object-store file) each. */
  def q329WarcWrite(s: SparkSession, dir: String): DataFrame =
    Warc.packConversions(wetInput(s, dir), "url", "text", "shard_id",
        date = WetDate)
      .toDF()
      .select(col("shard_id"), length(col("payload")).cast("long").as("payload_bytes"),
        md5(col("payload")).as("payload_md5"))

  /** q330: WRITER↔READER round-trip under the Common Crawl GZ framing —
    * the same pack with one gzip member per record, read back by the
    * engine's own container walk. Gzip bytes are deflate-parameter-
    * dependent (not oracle-replayable), so THIS is the gz contract: the
    * walk must recover every record's url and exact body from the
    * writer's members; the oracle states the truth from the source
    * table. */
  def q330WetRoundtrip(s: SparkSession, dir: String): DataFrame =
    Warc.records(Warc.packConversions(wetInput(s, dir), "url", "text",
        "shard_id", date = WetDate, gz = true))
      .select(col("target_uri").as("url"), col("warc_type"),
        col("block_len"), md5(col("body")).as("body_md5"))

  /** q308: overlapping-window chunking ([[graft.operators.Chunker]]) —
    * the splitter between cleaning and embedding: 64-token windows at
    * stride 48 (16-token overlap), the tail ANCHORED to end at the last
    * token (no degenerate already-covered tail chunk), stable
    * (doc, idx, start) ids. Pure builtins, one narrow explode, zero
    * shuffle; the oracle replays the identical window formulas. */
  def q308ChunkDocs(s: SparkSession, dir: String): DataFrame =
    Chunker.chunkTokens(Tables.documents(s, dir).select("doc_id", "text"))

  /** q278: AUDIO fingerprint — 64-bit energy-envelope hash over REAL
    * decoded PCM: the sample walk of q141, folded into 64 equal windows
    * (sample j → window ⌊j·64/total⌋), bit = 64·E_t > ΣE. Same hi/lo
    * convention as q276. Oracle regenerates the stream from the fixture
    * formula (seeded rows 96-99 derive from row 96's stream). */
  def q278AudioFp(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprint(Multimodal.readMedia(s, media)).toDF()
      .select(col("media_id"), col("n_pcm"), col("fp_hi"), col("fp_lo"))

  /** q279: AUDIO perceptual NEAR-DUP pairs — banded fingerprint
    * candidates (the q277 machinery over envelope bits), exact Hamming,
    * then the exact envelope verify: 1000·Σ|Ea−Eb| ≤ 100·Σ(Ea+Eb)
    * (relative L1 ≤ 100‰, pure integer). Fixture separation: family
    * pairs Hamming ≤ 2 / rel-L1 ≤ 34‰; nearest non-family Hamming 15. */
  def q279AudioNeardup(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioNearDupPairs(Multimodal.readMedia(s, media),
      maxHamming = 3, maxRelL1Permille = 100L)

  /** REAL WAV/RIFF header decode over binary audio payloads — sample
    * rate / channels / bits from the "fmt " chunk, sample count and
    * integer-ms duration from the "data" chunk; the oracle reads the
    * independently stored metadata columns, so a byte off in the chunk
    * walk breaks the hash match. */
  def q130WavMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioMeta(Multimodal.readMedia(s, media)).toDF()

  /** REAL PCM SAMPLE decode — every 8/16-bit sample frame of every WAV
    * payload decoded and folded into exact integer amplitude stats. The
    * oracle never touches the bytes: it REGENERATES the identical sample
    * stream from the fixture's deterministic byte formula
    * (tools/gen_media_fixture.py: body[j] = (media_id·31 + j·7) mod 256)
    * and computes the same sums — two independent decoders agreeing on
    * every amplitude, not a metadata read-back. */
  def q141PcmStats(s: SparkSession, dir: String): DataFrame =
    Multimodal.pcmStats(Multimodal.readMedia(s, media)).toDF()

  /** q254: tokenizer fertility by language — surface (BPE-ish) tokens per
    * whitespace word, in permille, per language: the multilingual-budget
    * planner's first number (a language whose fertility is 2× pays 2× the
    * context window per word; CJK text explodes under word-ish
    * tokenizers). Both token counts are the library's existing codegen'd
    * regex passes; corpus-proportional work is one narrow scan, state is
    * |languages| rows. */
  def q254Fertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("words"),
        size(surfaceTokens(col("text"))).cast("long").as("surface"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("words").as("n_words"),
        sum("surface").as("n_surface"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_surface"),
        expr("n_surface * 1000 div greatest(1L, n_words)")
          .as("fertility_permille"))
      .orderBy("lang")

  // ---------------------------------------------------------- text analysis

  /** Token statistics: whitespace tokens, distinct types, BPE-ish surface
    * tokens, character counts — one codegen'd narrow pass. */
  def q34TokenStats(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_types"),
      size(surfaceTokens(col("text"))).cast("long").as("n_surface_tokens"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace_chars"),
      length(col("text")).cast("long").as("n_chars"))
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Quality scoring: stopword ratio, mean token length, punctuation count,
    * and a composite keep/drop flag — the heuristics a pretraining filter
    * (C4/Gopher-style) computes per document. */
  def q35QualityScore(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      lexiconHits(t, stopwords).cast("long").as("n_stopwords"),
      size(regexp_extract_all(col("text"), lit("[^\\w\\s]"), lit(0))).cast("long").as("n_punct"),
      length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace_chars"))
      .withColumn("stopword_ratio", col("n_stopwords") / col("n_tokens"))
      .withColumn("mean_token_len", col("n_nonspace_chars") / col("n_tokens"))
      .withColumn("is_quality",
        col("n_tokens") >= 10 && col("n_tokens") <= 1000 && col("stopword_ratio") >= 0.02)
  }

  private val langLex: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"))

  /** Language ID by stopword-lexicon hits (n-gram-free heuristic; the
    * formula, not the lexicon size, is what the engine provides). Argmax
    * with fixed tie-break order en > es > de, 'und' when nothing hits. */
  def q36LangId(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val hits = langLex.map { case (l, lex) => lexiconHits(t, lex).cast("long").as(s"n_$l") }
    Tables.documents(s, dir)
      .select(col("doc_id") +: hits: _*)
      .withColumn("predicted_lang",
        when(col("n_en") === 0 && col("n_es") === 0 && col("n_de") === 0, "und")
          .when(col("n_en") >= col("n_es") && col("n_en") >= col("n_de"), "en")
          .when(col("n_es") >= col("n_de"), "es")
          .otherwise("de"))
  }

  /** Fixed trigram profiles per language (the formula under test is the
    * n-gram profile-overlap scorer, not the profiles' linguistic quality —
    * real deployments learn profiles from held-out corpora). */
  private val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", "ing", " th", "and"),
    "es" -> Seq(" el", "la ", "os ", "que", " de"),
    "de" -> Seq("der", "ein", "ich", "sch", "und"))

  /** Language ID via character-n-gram profile overlap: count each doc's
    * trigrams hitting each language's profile set, argmax with fixed
    * tie-break order (en > es > de, 'und' when nothing hits) — the
    * n-gram flavor of language ID next to q36's stopword-lexicon flavor.
    * Narrow codegen'd pass: trigram HOF + array membership counts. */
  def q60LangIdNgram(s: SparkSession, dir: String): DataFrame = {
    val tg = charTrigrams(col("text"))
    val hits = trigramProfiles.map { case (l, prof) =>
      size(filter(tg, t => t.isInCollection(prof))).cast("long").as(s"tg_$l")
    }
    Tables.documents(s, dir)
      .select(col("doc_id") +: hits: _*)
      .withColumn("predicted_lang",
        when(col("tg_en") === 0 && col("tg_es") === 0 && col("tg_de") === 0, "und")
          .when(col("tg_en") >= col("tg_es") && col("tg_en") >= col("tg_de"), "en")
          .when(col("tg_es") >= col("tg_de"), "es")
          .otherwise("de"))
  }

  /** The TF-IDF machinery with integer determinism: global document
    * frequency per token (the IDF table — one groupBy), then each doc's 3
    * RAREST distinct tokens by (df asc, token asc) — pure integer/string
    * ordering, no floating log-weights to disagree on. The same df table
    * the prefix-filtered Jaccard index (q42) orders by. */
  def q61RareTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
    val dfCounts = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("tok").asc)
    toks.join(dfCounts, "tok")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("tok"), col("df"))
  }

  /** Within-document repetition scoring (the Gopher-style repetition
    * filter): duplicate-bigram fraction per doc — integers and one exact
    * divide. Docs whose text loops score high and get flagged. */
  def q62Repetition(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val bigrams = wordShingles(t, 2)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        (size(t) - 1).cast("long").as("n_bigrams"),
        size(bigrams).cast("long").as("n_distinct_bigrams"))
      .filter(col("n_bigrams") > 0)
      .withColumn("dup_ratio",
        (col("n_bigrams") - col("n_distinct_bigrams")) / col("n_bigrams"))
      .withColumn("is_repetitive", col("dup_ratio") > 0.2)
  }

  /** Sequence packing (the pre-tokenization batching step): docs concatenate
    * in id order within each source and split at a fixed token budget; each
    * doc's bin is floor(exclusive-prefix-token-count / budget) — exact
    * integers.
    *
    * The running sum is the two-level [[graft.operators.PrefixSum]], NOT a
    * per-source window: real corpora are source-skewed (one "web" source can
    * be 90% of 100 TB) and a `Window.partitionBy(source)` cumsum runs that
    * whole source as ONE task. Here each (source, doc_id-shard) cumsum is a
    * bounded partition and the per-shard offsets ride a broadcast —
    * bit-identical bins at any partitioning. Costs one extra narrow pass
    * (the shard-totals aggregate) over the single-task sort it replaces. */
  def q63SeqPacking(s: SparkSession, dir: String): DataFrame = {
    val budget = 1024L
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.PrefixSum.inclusive(base, Seq("source"), "doc_id", "n_tokens", out = "__cum")
      .withColumn("bin", expr(s"(__cum - n_tokens) div $budget")) // integer div: exact at any scale
      .select("doc_id", "source", "n_tokens", "bin")
  }

  /** Document fingerprints: rolling polynomial hash (mod 1e9+7) + md5. */
  def q37Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      polyFingerprint(col("text")).as("poly_fp"),
      md5(col("text")).as("md5_fp"))

  /** PII redaction: the corpus is augmented with deterministic synthetic
    * PII (an email, an IP, an 8-digit account number per doc — the raw
    * corpus contains none), then scrubbed with the typed-placeholder
    * regexes and counted. One narrow pass. */
  def q49PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val aug = concat_ws(" ", col("text"),
      lit("contact"), concat(lit("user"), col("doc_id"), lit("@example.com")),
      lit("from ip"), concat(lit("10.0.0."), pmod(col("doc_id"), lit(256))),
      lit("acct"), concat(lit("9"), lpad(pmod(col("doc_id"), lit(100000)).cast("string"), 7, "0")))
    Tables.documents(s, dir).select(
      col("doc_id"),
      redactPii(aug).as("redacted"),
      size(regexp_extract_all(aug, lit(emailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(aug, lit(ipv4Pattern), lit(0))).cast("long").as("n_ips"))
  }

  /** KMV distinct-count sketch vs the exact count, per language: distinct
    * token cardinality via the native bounded-state
    * [[graft.expressions.KmvDistinctEstimate]] aggregate (k=16 longs of
    * state per group at ANY scale) next to the exact `count_distinct`
    * (whose partial state is every distinct value). Both columns are
    * deterministic and oracle-checked — the point of a portable-hash
    * sketch. */
  def q53KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", md5Long(col("tok")))
    toks.groupBy("lang").agg(
      graft.expressions.GraftFunctions.kmvDistinct(col("h"), 16).as("kmv_estimate"),
      count_distinct(col("tok")).as("exact_distinct"))
  }

  /** Deterministic source mixing: per-source keep rates (a formula of the
    * source id here; a mixing-weights table in production), sampled by a
    * content-stable hash — `md5(doc_id) % 100 < rate` — so the mix is
    * reproducible run-over-run and engine-over-engine, then per-source
    * kept-docs / kept-tokens rollup (what a token-budgeted pretraining mix
    * computes before materializing the blend). Narrow filter + one
    * partial-aggregating groupBy. */
  def q50SourceMix(s: SparkSession, dir: String): DataFrame = {
    val rate = lit(100) - lit(4) * substring(col("source"), 4, 10).cast("int")
    Tables.documents(s, dir)
      .filter(pmod(md5Int(col("doc_id").cast("string")), lit(100)) < rate)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).cast("long").as("n_tokens"))
  }

  /** The composed corpus-cleaning pipeline — the capstone: language filter
    * (q36's formula) → quality filter (q35's) → exact dedup (min-id per
    * content hash) → near-dup removal over the SURVIVORS, emitting the
    * final training corpus as (doc_id, content fingerprint). Each stage is
    * the already-verified operator; this entry verifies they compose
    * (filters narrow before the expensive dedup stages — the order a
    * 100-TB pipeline must use).
    *
    * The near-dup stage is the EXACT prefix-filtered index
    * ([[Dedup.jaccardPairsExactOnSets]], recall provably 1.0) over a
    * PERSISTED shingle table — not probabilistic LSH: the all-pairs oracle
    * then matches by construction, with no fixture-dependent recall
    * assumption, and the persist pays the shingling scan once instead of
    * the ~3 plan occurrences (index build + both verify sides) —
    * exactly the multi-pass-session case [[Dedup.jaccardPairsExactOnSets]]
    * documents. */
  def q64CorpusClean(s: SparkSession, dir: String): DataFrame =
    corpusSurvivors(s, dir).select(col("doc_id"), md5(col("text")).as("fp"))

  /** The (doc_id, text) SURVIVORS of the standard corpus clean — q64's
    * pipeline factored out so the runnable corpus app
    * ([[graft.app.CorpusApp]]) materializes exactly the set the oracle
    * checks. `pred` restricts the raw input (an ingest batch — see
    * [[graft.app.CorpusApp.append]]); every stage, including the
    * within-batch near-dup removal, then operates on that batch only. */
  def corpusSurvivors(s: SparkSession, dir: String,
                      pred: org.apache.spark.sql.Column = lit(true)): DataFrame =
    corpusSurvivorsOf(Tables.documents(s, dir).filter(pred))

  /** The language/quality SCORING stage of the corpus clean, factored
    * out so callers that need per-stage attribution (the corpus apps'
    * reject ledgers) share one definition with [[corpusSurvivorsOf]]:
    * (doc_id, text, n_tokens, n_stopwords, n_<lang>…, predicted_lang,
    * is_quality). Narrow per-row projection, no shuffle. */
  def corpusScoredOf(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val hits = langLex.map { case (l, lex) => lexiconHits(t, lex).cast("long").as(s"n_$l") }
    docs
      .select(col("doc_id") +: col("text") +: size(t).cast("long").as("n_tokens") +:
        lexiconHits(t, stopwords).cast("long").as("n_stopwords") +: hits: _*)
      .withColumn("predicted_lang",
        when(col("n_en") === 0 && col("n_es") === 0 && col("n_de") === 0, "und")
          .when(col("n_en") >= col("n_es") && col("n_en") >= col("n_de"), "en")
          .when(col("n_es") >= col("n_de"), "es")
          .otherwise("de"))
      .withColumn("is_quality",
        col("n_tokens") >= 10 && col("n_tokens") <= 1000 &&
          col("n_stopwords") / col("n_tokens") >= 0.02)
  }

  /** [[corpusSurvivors]] over an arbitrary batch frame (a streaming
    * micro-batch, a file drop) — same pipeline, no table read. */
  def corpusSurvivorsOf(docs: DataFrame): DataFrame = {
    val filtered = corpusScoredOf(docs)
      .filter(col("predicted_lang") === "en" && col("is_quality"))
      .select("doc_id", "text")
    val exact = Upsert.dedupByKey(
      filtered.withColumn("__fp", md5(col("text"))), Seq("__fp"), Seq("doc_id"))
      .drop("__fp")
    val sets = Dedup.shingleSets(exact, "doc_id", "text", 3).persist()
    val losers = Dedup.jaccardPairsExactOnSets(sets, thresholdNum = 4, thresholdDen = 5)
      .select(col("id_b").as("doc_id")).distinct()
    exact.join(losers, Seq("doc_id"), "left_anti")
  }

  /** The DuckDB mirror of [[corpusSurvivors]] as a CTE chain (no leading
    * `WITH`), terminating in `surv<suffix>(doc_id, text)`. `where`
    * mirrors the `pred` batch restriction; `suffix` disambiguates CTE
    * names when one query instantiates the pipeline for several batches
    * (q89). Shared by the q64 oracle and every oracle that checks a table
    * the corpus app materialized from the survivor set, so engine and
    * oracle can never drift apart on what "the clean corpus" means. */
  def corpusSurvivorCtesFor(suffix: String, where: String,
                            from: String = "documents"): String = {
    val langHits = langLex.map { case (l, lex) =>
      s"""CAST(len(list_filter(w, x -> x IN (${lex.map(x => s"'$x'").mkString(", ")}))) AS BIGINT) AS n_$l"""
    }.mkString(",\n    ")
    s"""base$suffix AS (
       |  SELECT doc_id, text,
       |    CAST(len(w) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(w, x -> x IN (${stopwords.map(x => s"'$x'").mkString(", ")}))) AS BIGINT) AS n_stop,
       |    $langHits
       |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS w
       |        FROM $from WHERE $where)),
       |langq$suffix AS (
       |  SELECT doc_id, text FROM base$suffix
       |  WHERE (CASE WHEN n_en = 0 AND n_es = 0 AND n_de = 0 THEN 'und'
       |              WHEN n_en >= n_es AND n_en >= n_de THEN 'en'
       |              WHEN n_es >= n_de THEN 'es'
       |              ELSE 'de' END) = 'en'
       |    AND n_tokens >= 10 AND n_tokens <= 1000
       |    AND n_stop / n_tokens >= 0.02),
       |exact$suffix AS (
       |  SELECT doc_id, text FROM langq$suffix
       |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
       |sh2$suffix AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(w)-2),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM exact$suffix)
       |  WHERE len(w) >= 3),
       |losers$suffix AS (
       |  SELECT DISTINCT b.doc_id AS doc_id
       |  FROM sh2$suffix a JOIN sh2$suffix b ON a.doc_id < b.doc_id
       |  WHERE 5*len(list_intersect(a.s, b.s)) >= 4*len(list_distinct(a.s || b.s))),
       |surv$suffix AS (
       |  SELECT doc_id, text FROM exact$suffix
       |  WHERE doc_id NOT IN (SELECT doc_id FROM losers$suffix))""".stripMargin
  }

  lazy val corpusSurvivorCtes: String = corpusSurvivorCtesFor("", "TRUE")

  /** Deterministic train/val/test split: assignment is a pure function of
    * content-stable id hash (md5 % 100 → 90/5/5), so membership never
    * changes across runs, engines, or corpus growth (old docs keep their
    * split when new docs arrive — the property random splits lose).
    * Emits per-(source, split) doc/token counts — the stratification
    * report a dataset card needs. */
  def q65Split(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(md5Int(col("doc_id").cast("string")), lit(100))
    Tables.documents(s, dir)
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).cast("long").as("n_tokens"))
  }

  /** Exact discrete quantiles of the per-doc token count, per language:
    * p10/p50/p90 as the value at rank ceil(q·n) — quantile_disc semantics,
    * pure integer rank arithmetic (float interpolation, whose last-ulp
    * behavior differs across libm builds, never enters).
    *
    * Distributed selection, NOT a per-language rank window (which would
    * sort each language — ~10 giant groups at 100 TB — in one task each):
    *  1. per-(lang, value) counts — one partial-aggregating groupBy whose
    *     output is bounded by the VALUE DOMAIN (distinct doc lengths),
    *     not the corpus (persisted: it feeds three later passes);
    *  2. cumulative count per value via the two-level
    *     [[graft.operators.PrefixSum]] over that bounded table;
    *  3. target ranks from per-lang totals (a tiny broadcast);
    *  4. the value at rank r is min{v : cum(≤v) >= r} — one final
    *     aggregate. The rank-window's (value, doc_id) tie-break is
    *     unnecessary here: rows tied on value share that value, which is
    *     all a value-quantile emits. */
  def q66TokenQuantiles(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("lang", "n_tokens").agg(count(lit(1)).as("c"))
      .persist() // bounded by #langs × distinct doc lengths; read 3×
    val cum = graft.operators.PrefixSum.inclusive(
      g, Seq("lang"), "n_tokens", "c", out = "cum")
    val ranks = cum.groupBy("lang").agg(max(col("cum")).as("n"))
      .select(col("lang"), col("n"),
        expr("(n * 10 + 99) div 100").as("r10"),
        expr("(n * 50 + 99) div 100").as("r50"),
        expr("(n * 90 + 99) div 100").as("r90"))
    def pick(r: String, as: String) =
      min(when(col("cum") >= col(r), col("n_tokens"))).as(as)
    cum.join(broadcast(ranks), "lang")
      .groupBy("lang")
      .agg(pick("r10", "p10_tokens"), pick("r50", "p50_tokens"), pick("r90", "p90_tokens"),
        max(col("n")).as("n_docs"))
  }

  /** Bounded-state quantile PROFILING — the production-path counterpart to
    * q66's exact selection: per-language p50/p90 token-count estimates from
    * the native fixed-edge histogram aggregate
    * ([[graft.expressions.HistQuantile]] — 1025 Long counters per group at
    * ANY corpus size, estimate = bucket upper edge, error < width=16,
    * deterministic integers so the oracle rebuilds the identical histogram
    * relationally). One partial-aggregating pass, no sort, no selection
    * join — what a 100-TB profiling sweep actually runs; q66 is the exact
    * answer when the extra passes are worth it. */
  def q69HistQuantile(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.GraftFunctions.histQuantile
    Tables.documents(s, dir)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(
        histQuantile(col("n_tokens"), width = 16L, maxBuckets = 1024, qNum = 50).as("p50_est"),
        histQuantile(col("n_tokens"), width = 16L, maxBuckets = 1024, qNum = 90).as("p90_est"),
        count(lit(1)).as("n_docs"))
  }

  /** Per-group top-K selection at scale — "keep the best K docs per
    * source/domain" (per-domain caps, best-of-domain sampling): the
    * bounded-state [[graft.expressions.TopKByScore]] aggregate, NOT a
    * rank window. `row_number() OVER (PARTITION BY source) <= 3` would
    * single-task-sort each source (the q63/q66 failure class, banned by
    * PlanGuardSpec); the aggregate ships K pairs per (partition, group)
    * through the shuffle and merges heaps map-side. Total integer order
    * (n_tokens DESC, doc_id ASC) so the oracle's QUALIFY mirror selects
    * identically. */
  def q70TopPerSource(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.GraftFunctions.topKByScore
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(topKByScore(col("n_tokens"), col("doc_id"), 3).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("n_tokens"))
  }

  /** Token-budget-capped selection: keep each source's docs, in id order,
    * while the source's RUNNING token total stays within a fixed budget —
    * how a pretraining mix fills "N tokens of source X" deterministically
    * (same docs every run, every engine; growth only appends). The running
    * total is the two-level [[graft.operators.PrefixSum]] — same scale
    * argument as q63 — followed by one narrow filter; the budget boundary
    * doc is excluded (cum > budget), making the cut exact, not
    * approximate. */
  def q71TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budget = 800L
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.PrefixSum.inclusive(base, Seq("source"), "doc_id", "n_tokens", out = "cum")
      .filter(col("cum") <= budget)
      .select("doc_id", "source", "n_tokens", "cum")
  }

  /** Chunk-level (C4/Dolma "line"-level) dedup: the corpus-wide removal of
    * REPEATED SPANS — boilerplate, licence blocks, navigation text — that
    * doc-level dedup cannot see. Each doc splits into consecutive W-token
    * chunks (the splitter is a parameter; real corpora split on '\n' — the
    * synthetic corpus has no newlines, so fixed windows stand in); a chunk
    * CONTENT survives only at its lexicographically-first (doc_id,
    * chunk_idx) occurrence, and each doc is reconstructed from its
    * surviving chunks in position order.
    *
    * Scale shape: explode is a narrow ~W× row map; the keeper choice is ONE
    * shuffle on the chunk hash with a map-side-combining `min(struct)` (the
    * same hash-groupBy as exact doc dedup — never all-pairs); the rebuild
    * groups by doc_id, whose state is bounded by DOC size, not corpus size.
    * Fully-duplicated docs come back empty-text (kept, flagged by
    * n_chunks_kept=0) rather than silently dropped — removal is a separate
    * policy decision. */
  def q72ChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val W = 10
    val base = Tables.documents(s, dir).select(col("doc_id"), tokens(col("text")).as("w"))
    val chunks = base
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, CAST((size(w) + $W - 1) DIV $W AS INT) - 1), " +
          s"i -> array_join(slice(w, i * $W + 1, $W), ' '))")))
      .toDF("doc_id", "chunk_idx", "chunk")
      .withColumn("cfp", md5(col("chunk")))
    val keepers = chunks.groupBy("cfp")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      .select(col("cfp"), col("k.doc_id").as("doc_id"), col("k.chunk_idx").as("chunk_idx"))
    val kept = chunks.join(keepers, Seq("cfp", "doc_id", "chunk_idx"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            c => c.getField("chunk")),
          " ").as("clean_text"))
    base.select(col("doc_id"),
        expr(s"CAST((size(w) + $W - 1) DIV $W AS BIGINT)").as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_chunks_kept"), lit(0L)).as("n_chunks_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Benchmark decontamination (the GPT-3/PaLM n-gram overlap check): flag
    * every training doc sharing at least one word 5-gram with the eval
    * set, with the overlap count as evidence. The eval set here is the
    * deterministic held-out slice (the q65 hash split's "test" analog:
    * md5(doc_id) % 20 == 0) — in production it is the actual benchmark
    * suite, a table of at most a few million rows.
    *
    * Scale shape: both sides shingle narrowly (native [[wordShingles]]);
    * the eval side collapses to DISTINCT 5-grams — bounded by the EVAL
    * suite, not the corpus — and the overlap is one equi-join on the
    * 5-gram string against the exploded train side, counted per doc. AQE
    * broadcasts the eval side when it fits (it does, by construction);
    * nothing ever compares all pairs, and clean docs survive via the
    * left join with overlap 0 — decontamination must emit a verdict for
    * EVERY doc, not just the dirty ones. */
  def q73Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("__eval", pmod(md5Int(col("doc_id").cast("string")), lit(20)) === 0)
    val shingled = docs
      .select(col("doc_id"), col("__eval"), wordShingles(tokens(col("text")), 5).as("sh"))
    val evalGrams = shingled.filter(col("__eval"))
      .select(explode(col("sh")).as("gram")).distinct()
    val trainGrams = shingled.filter(!col("__eval"))
      .select(col("doc_id"), explode(col("sh")).as("gram"))
    val overlaps = trainGrams.join(evalGrams, Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    shingled.filter(!col("__eval"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Near-dup CLUSTER assignment — the transitive-closure step after pair
    * generation: near-duplication is not an equivalence relation (A~B and
    * B~C do not imply A~C), so keeping one doc per PAIR over-deletes;
    * production dedup groups docs into connected components of the
    * similarity graph and keeps one representative per component.
    *
    * Pairs come from the EXACT prefix-filtered index (recall 1.0 — no
    * probabilistic caveat in the oracle); components via
    * [[Dedup.connectedComponents]] (iterative min-label propagation — see
    * its scale notes). */
  def q74NeardupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3).persist()
    val pairs = Dedup.jaccardPairsExactOnSets(sets, thresholdNum = 4, thresholdDen = 5)
      .select("id_a", "id_b").persist()
    val labels = Dedup.connectedComponents(docs, pairs, "doc_id")
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "cluster_id").select("doc_id", "cluster_id", "n_members")
  }

  /** Incremental NEAR-dup ingestion gate — the counterpart to the exact
    * incremental dedup ([[Dedup.incrementalExactDedup]]): each new batch
    * screens against the signature HISTORY of everything ever ingested,
    * touching (batch × history-index) only, never the accumulated corpus.
    * SimHash (not MinHash-LSH) because its 4×15-bit banding has PROVABLE
    * recall 1.0 at hamming ≤ 3 — an incremental gate with silent false
    * negatives would leak dups forever, and a probabilistic gate could not
    * be oracle-checked. History/batch here = even/odd doc ids (a
    * deterministic stand-in for the persisted signature table at any sf);
    * every batch doc gets a verdict — n_hits, its nearest (min-id) prior
    * match, -1 when clean. */
  def q75IncrementalNeardup(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.simhash(Tables.documents(s, dir), "doc_id", "text").persist()
    val hist = sigs.filter(col("doc_id") % 2 === 0)
    val batch = sigs.filter(col("doc_id") % 2 === 1)
    val hits = Dedup.simhashNearDupAgainst(batch, hist)
      .groupBy("new_id").agg(count(lit(1)).as("n_hits"), min(col("hist_id")).as("nearest"))
    batch.select(col("doc_id"))
      .join(hits, batch("doc_id") === hits("new_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("nearest"), lit(-1L)).as("nearest_hist_id"))
      .withColumn("is_dup", col("n_hits") > 0)
  }

  /** Reproducible global training shuffle: every doc gets a deterministic
    * position in a pseudo-random total order (60-bit md5 of its id,
    * doc_id tie-break) and a training-shard assignment derived from it —
    * the same order every run, every engine, every partitioning, so a
    * training run is restartable and auditable. Ranking via
    * [[graft.operators.GlobalOrder]]: monotone hash-prefix buckets +
    * broadcast offsets + within-bucket row_number — never a global
    * single-task sort. */
  def q76GlobalShuffle(s: SparkSession, dir: String): DataFrame = {
    val shardSize = 100L
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), md5Long(col("doc_id").cast("string")).as("__h"))
    graft.operators.GlobalOrder.rank(base, "__h", "doc_id", out = "pos")
      .withColumn("shard", expr(s"(pos - 1) div $shardSize"))
      .select("doc_id", "pos", "shard")
  }

  /** Per-source quality-percentile normalization — "keep each domain's top
    * X%" needs a doc's PERCENTILE WITHIN ITS SOURCE, not its raw score
    * (sources have wildly different score distributions; a raw threshold
    * keeps all of one domain and none of another). decile =
    * (10 · #strictly-lower-scored docs in source) div source-size — pure
    * integer arithmetic on ranks, ties share a decile.
    *
    * The rank is NOT a per-source window (the q63/q66 single-task class):
    * per-(source, score) counts — bounded by the VALUE DOMAIN — feed a
    * [[graft.operators.PrefixSum]] cumulative, whose exclusive prefix IS
    * "docs strictly below"; a broadcast of per-source totals finishes the
    * decile, and docs pick up their decile by joining on (source, score). */
  def q78QualityDeciles(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("score"))
    val g = t.groupBy("source", "score").agg(count(lit(1)).as("c"))
    val cum = graft.operators.PrefixSum.inclusive(g, Seq("source"), "score", "c", out = "cum")
      .withColumn("below", col("cum") - col("c"))
    val totals = cum.groupBy("source").agg(max(col("cum")).as("n"))
    val deciles = cum.join(broadcast(totals), "source")
      .select(col("source"), col("score"), expr("(10 * below) div n").as("decile"))
    t.join(deciles, Seq("source", "score"))
      .select("doc_id", "source", "score", "decile")
  }

  /** Weighted source rebalancing — apply per-source KEEP RATES (the mixing
    * weights of a pretraining recipe) by deterministic keyed-hash sampling:
    * doc kept iff md5(source:doc_id) % 100 < rate(source). Same sample
    * every run and every engine, growth only appends, no RNG state; the
    * per-source rates here derive from the source name (a stand-in for the
    * recipe config table a production run would broadcast-join). One
    * narrow map + one partial-aggregating groupBy. */
  def q80SourceRebalance(s: SparkSession, dir: String): DataFrame = {
    val rate = pmod(md5Int(col("source")), lit(50)) + lit(50) // 50-99 pct per source
    val keep = pmod(
      md5Int(concat(col("source"), lit(":"), col("doc_id").cast("string"))), lit(100)) < rate
    Tables.documents(s, dir)
      .select(col("source"), rate.as("keep_rate_pct"), keep.as("keep"))
      .groupBy("source", "keep_rate_pct")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_kept"))
  }

  /** Pairwise cross-source content overlap from KMV (bottom-k) sketches —
    * "how much of source A is also in source B", the question behind
    * cross-source contamination and mix design, answered WITHOUT an exact
    * intersection over the corpus.
    *
    * Per source: the k smallest distinct 60-bit content hashes — a
    * bounded-state mergeable aggregate ([[graft.expressions.TopKByScore]]
    * on the negated hash), so the shuffle carries at most k longs per
    * (partition, source) no matter the corpus size. Per pair: the standard
    * KMV intersection estimate — θ = k-th smallest of the UNION of the two
    * sketches, J ≈ |{h ∈ A∩B : h ≤ θ}| / k — all integer arithmetic until
    * one final IEEE divide, so an independent engine reproduces it
    * bit-for-bit (no float-compare thresholds).
    *
    * The pair stage is a cross join of two PER-SOURCE AGGREGATES (≤
    * #sources rows each — corpus-INDEPENDENT, like q45's 1-row legs):
    * sources² · k longs total, trivially broadcastable at any corpus
    * scale. PlanGuardSpec whitelists it with that argument. */
  def q83SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.GraftFunctions.topKByScore
    val k = 16
    val hashes = Tables.documents(s, dir)
      .select(col("source"), md5Long(col("text")).as("h")).distinct()
    // ≤ #sources rows of k longs; localCheckpoint severs the lineage so the
    // self-join below reads the materialized sketch instead of scanning the
    // corpus once per side (same pattern as Dedup.incrementalExactDedup)
    val sk = hashes.groupBy("source")
      .agg(topKByScore(-col("h"), col("h"), k).as("top"))
      .select(col("source"), expr("transform(top, x -> x.id)").as("hs"))
      .localCheckpoint()
    val pairs = sk.select(col("source").as("source_a"), col("hs").as("ha"))
      .crossJoin(sk.select(col("source").as("source_b"), col("hs").as("hb")))
      .filter(col("source_a") < col("source_b"))
    pairs
      .withColumn("u", array_sort(array_union(col("ha"), col("hb"))))
      .withColumn("k_used", least(lit(k), size(col("u"))).cast("long"))
      .withColumn("theta", element_at(col("u"), col("k_used").cast("int")))
      .withColumn("n_common",
        size(filter(array_intersect(col("ha"), col("hb")),
          x => x <= col("theta"))).cast("long"))
      .select(col("source_a"), col("source_b"), col("n_common"), col("k_used"),
        (col("n_common").cast("double") / col("k_used").cast("double")).as("jaccard_est"))
  }

  /** One full DISTRIBUTED Lloyd (k-means) iteration over every embedding —
    * the refinement step that turns the driver-side coarse quantizer
    * ([[Similarity.trainCentroidsLite]], bounded sample) into centroids
    * trained on the WHOLE corpus, and the building block a production IVF
    * index re-trains with.
    *
    * Scale shape: assignment is [[Similarity.ivfAssign]] — k codegen'd
    * dots riding the scan, NO shuffle, no join; the centroid recompute is
    * posexplode → one partial-aggregating groupBy on (cluster, dim) whose
    * output is k·dim rows regardless of corpus size. The per-dimension
    * mean uses the DECIMAL(18,6) sum (associative — distributed partial
    * sums are order-independent, unlike double addition) and ONE final
    * divide, which is what makes a distributed float mean
    * oracle-reproducible at all. */
  def q84KmeansIteration(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = Similarity.trainCentroidsLite(
      emb, "vec_id", "embedding", k = 4, sampleMod = 10L, maxSample = 1000, iters = 1)
    emb
      .withColumn("cluster", Similarity.ivfAssign(col("embedding"), centroids).cast("long"))
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("d0", "x")))
      .groupBy(col("cluster"), (col("d0") + 1).cast("long").as("dim"))
      .agg(
        (sum(col("x").cast("double").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("c_new"),
        count(lit(1)).as("n_points"))
  }

  /** Normalization-aware dedup profile: how many distinct docs each source
    * REALLY has once text is canonicalized (lowercase, punctuation
    * stripped, whitespace collapsed) vs raw byte-distinct — the gap is the
    * trivial-variant duplication (casing/punct boilerplate) that raw exact
    * dedup misses and every production corpus clean normalizes away first.
    * One pass: codegen'd regex chain + a grouped multi-count-distinct
    * (each count(distinct) partial-aggregates map-side; output is one row
    * per source). */
  def q85NormalizeDedup(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(s, dir)
      .select(col("source"), md5(col("text")).as("raw_fp"), md5(norm).as("norm_fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_fp")).as("n_raw_distinct"),
        countDistinct(col("norm_fp")).as("n_norm_distinct"))
  }

  /** Corpus-wide boilerplate report: the most-duplicated word-5-grams with
    * occurrence and document counts — the diagnostic that tells you WHAT
    * chunk-level dedup (q72) will remove (licence blocks, navigation
    * text) before you run it. Explode → one partial-aggregating groupBy on
    * the gram, then a global top-20 as TakeOrderedAndProject (each
    * partition surrenders at most 20 rows — never a global sort). The
    * (count DESC, gram ASC) order is total, so the rank-20 cutoff is
    * deterministic in both engines. */
  def q87NgramBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 5)
    docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 4), i -> concat_ws(' ', slice(w, i, 5)))")).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(20)
  }

  /** BPE-style token accounting: the GPT-2-family pre-tokenizer splits
    * text into contraction / space-prefixed-word / number / punctuation-run
    * / whitespace pieces; a training-budget estimate needs that count, not
    * the whitespace word count. The pattern here is the lookaround-free
    * core of that tokenizer (Java regex and RE2 agree exactly: same
    * alternation-order, leftmost-first semantics, ASCII classes), applied
    * as one codegen'd `regexp_extract_all` riding the scan — per-source
    * totals plus the bpe-per-word ratio as a single IEEE divide of two
    * exact integer sums. */
  def q88BpeTokens(s: SparkSession, dir: String): DataFrame = {
    val bpe = "'[a-z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ']+| +"
    Tables.documents(s, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit(bpe), lit(0))).cast("long").as("bpe"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"))
      .withColumn("bpe_per_ws",
        col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
  }

  /** RAG-style document chunking: fixed 64-token windows on a 48-token
    * stride (16-token overlap), the split a retrieval index or a
    * context-window packer runs over every document. Pure per-doc narrow
    * compute — tokenize once, generate the window starts with `sequence` +
    * `posexplode` (codegen'd generator, no shuffle anywhere), slice each
    * window out of the cached token array. Output rows are bounded by
    * n_tokens/stride per doc and carry the chunk md5, not the text, so the
    * oracle hash pins every chunk's exact content while the result stays
    * small. At 100 TB this is scan-shaped: chunking cost is linear in the
    * corpus and embarrassingly parallel. */
  def q95DocChunks(s: SparkSession, dir: String): DataFrame = {
    val win = 64L
    val stride = 48L
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0L), col("n") - 1, lit(stride))).as(Seq("chunk_idx", "off")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(win), col("n") - col("off")).as("n_tokens"),
        md5(concat_ws(" ", slice(col("toks"), (col("off") + 1).cast("int"), lit(win.toInt))))
          .as("chunk_md5"))
  }

  /** Excerpt/quote detection via asymmetric exact containment
    * ([[Dedup.containmentPairsExact]]): corpus plus a deterministic excerpt
    * — the first max(3, ⌊3n/5⌋) tokens, re-keyed +10⁹ (clear of every ScaleBench replica id range) — of every 5th
    * doc. Containment |A∩B|/|A| ≥ 9/10 recovers every excerpt→source edge
    * even though each excerpt's JACCARD against its source is far below
    * any near-dup threshold (the q42 operator is structurally blind to
    * subset relations when the container is long — this operator is the
    * complement). The oracle is the all-pairs quadratic scan the prefix
    * index provably equals. The candidate budget (factor 8; healthy
    * corpora measure ≤ 1× postings at both verify SFs) converts the
    * measured ×30-duplication quadratic into a loud refusal naming the
    * dedup-ladder mitigation — recall stays 1.0 whenever it passes,
    * which the oracle hash proves. */
  /** q96's corpus (docs + re-keyed excerpts) — shared with ScaleBench's
    * containment-ladder probe so the scale evidence measures exactly the
    * corpus the guarded query refuses. */
  private[graft] def q96Corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val excerpts = d
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(col("doc_id") % 5 === 0)
      .withColumn("n", size(col("w")))
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat_ws(" ", slice(col("w"), lit(1),
          expr("greatest(3, (n * 3) div 5)").cast("int"))).as("text"))
    d.unionByName(excerpts)
  }

  def q96Containment(s: SparkSession, dir: String): DataFrame = {
    val sets = Dedup.shingleSets(q96Corpus(s, dir), "doc_id", "text", 3).persist()
    Dedup.containmentPairsExact(sets, 9, 10, maxCandidateFactor = 8)
  }

  /** Product-quantized ANN search ([[graft.operators.Pq]]): 64-dim
    * embeddings → 4 subspaces × 4 centroids (codes compress 256 bytes of
    * floats to 4 small ints; production would use M=8..16, K=256 — same
    * machinery, bigger literals), ADC top-10 for the vec_id=7 query. The
    * oracle RETRAINS every codebook, re-encodes the corpus, and rebuilds
    * the query's distance table with the same fold arithmetic, so codes,
    * ADC doubles, and ranking all match bit-for-bit. */
  def q100PqSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cbs = Pq.trainCodebooks(e, "vec_id", "embedding",
      m = 4, k = 4, sampleMod = 10, maxSample = 1000)
    val q = e.filter(col("vec_id") === 7).select(col("embedding")).first()
      .getSeq[Float](0).toArray.map(_.toDouble) // one bounded driver read (1 row)
    Pq.adcSearch(e, "vec_id", "embedding", q, cbs, excludeId = 7L, topK = 10)
  }

  /** q160: skip-gram co-occurrence extraction + PMI ranking — the
    * word2vec/GloVe training-data prep step: every unordered token pair
    * within a ±3 window becomes a co-occurrence observation, and the top
    * collocations by pointwise mutual information surface. Rare words
    * (unigram count < 20) are dropped before scoring, the standard PMI
    * noise guard.
    *
    * Exactness: PMI itself needs a log, so the score is the exact integer
    * `1000·exp(PMI) = (c_ab·T²·1000) div (c_a·c_b)` — a strictly monotone
    * transform of PMI over positive counts (same ranking, zero floats);
    * HUGEINT-range products ride DECIMAL(38,0) in Spark and HUGEINT in
    * DuckDB, both truncating division on positives.
    *
    * Scale shape: pair generation is a pure map — per row, `zip_with` over
    * the token array against its o-shifted self for o=1..3 (no positional
    * self-join, no per-doc explode²; output is ≤3·|tokens| rows). One
    * (wa,wb) hash aggregate with map-side combine gives c_ab; the unigram
    * table is vocabulary-sized (zipf-bounded, ≪ corpus) and joins twice by
    * equi-key (AQE broadcasts when it fits); T is one scalar crossJoin.
    * Top-50 is a TakeOrderedAndProject. Nothing here is all-pairs and no
    * window touches a scale key. */
  def q160PmiPairs(s: SparkSession, dir: String): DataFrame = {
    val W = 3      // max skip-gram offset (window ±3)
    val MINC = 20  // min unigram count for a word to be scored
    val toks = Tables.documents(s, dir).select(tokens(col("text")).as("w"))
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum("c").as("t"))
    val pairArr = (1 to W).map { o =>
      s"""zip_with(slice(w, 1, greatest(size(w) - $o, 0)),
         |         slice(w, ${o + 1}, greatest(size(w) - $o, 0)),
         |         (a, b) -> struct(least(a, b) AS wa, greatest(a, b) AS wb))"""
        .stripMargin
    }.mkString("concat(", ", ", ")")
    val cab = toks.select(explode(expr(pairArr)).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("cab"))
    val freq = uni.filter(col("c") >= MINC)
    cab
      .join(freq.select(col("tok").as("wa"), col("c").as("ca")), "wa")
      .join(freq.select(col("tok").as("wb"), col("c").as("cb")), "wb")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_x1000", expr(
        "CAST((CAST(cab AS DECIMAL(38,0)) * t * t * 1000) DIV (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"))
      .orderBy(col("pmi_x1000").desc, col("wa"), col("wb"))
      .limit(50)
      .select("wa", "wb", "cab", "pmi_x1000")
  }

  /** q161: automatic quality-cutoff selection — Otsu's method over the
    * stopword-permille histogram: pick the threshold t maximizing the
    * between-class variance ω₀ω₁(μ₀−μ₁)², i.e. the data-driven "junk vs
    * prose" split a production corpus filter needs when a hand-tuned
    * cutoff won't transfer across sources.
    *
    * Exactness: the objective is the rational (S·N₀ − N·S₀)² / (N₀·(N−N₀))
    * per candidate bin; the argmax runs in BigInt on the DRIVER over the
    * collected histogram (≤1001 post-aggregate rows — the PCA
    * power-iteration precedent for bounded driver math), so no float ever
    * enters and no overflow exists at any corpus size. The oracle replays
    * the same argmax as a NOT EXISTS cross-compare in HUGEINT (exact up to
    * ~1e8 docs — far past the sf0.01 verify scale).
    *
    * Scale shape: ONE map-side-combined aggregate over the corpus into
    * ≤1001 (bin, cnt) rows, one bounded collect, zero further passes — the
    * emitted row is driver-computed from the histogram alone. */
  def q161OtsuThreshold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = tokens(col("text"))
    val hist = Tables.documents(s, dir)
      .select(lexiconHits(t, stopwords).cast("long").as("ns"),
        size(t).cast("long").as("nt"))
      .select(expr("CAST((ns * 1000) DIV nt AS BIGINT)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = hist.map(_._2).sum
    val sTot = hist.map { case (b, c) => b * c }.sum
    var (n0, s0) = (0L, 0L)
    // argmax of (S*N0 - N*S0)^2 / (N0*(N-N0)); ties -> smallest bin
    var best: Option[(Long, Long, Long, BigInt, BigInt)] = None
    for ((bin, cnt) <- hist) {
      n0 += cnt; s0 += bin * cnt
      if (n0 > 0 && n0 < n) {
        val num = {
          val d = BigInt(sTot) * n0 - BigInt(n) * s0
          d * d
        }
        val den = BigInt(n0) * (n - n0)
        val better = best match {
          case None => true
          case Some((_, _, _, bn, bd)) => num * bd > bn * den
        }
        if (better) best = Some((bin, n0, s0, num, den))
      }
    }
    best match {
      case Some((bin, bn0, bs0, _, _)) =>
        Seq((bin, bn0, n - bn0, bs0, sTot - bs0))
          .toDF("threshold", "n_lo", "n_hi", "s_lo", "s_hi")
      case None =>
        Seq.empty[(Long, Long, Long, Long, Long)]
          .toDF("threshold", "n_lo", "n_hi", "s_lo", "s_hi")
    }
  }

  /** q163: deterministic weighted source interleave — stride scheduling
    * (the Pile/Dolma epoch-ordering op): each source emits docs at a rate
    * proportional to its weight (its doc count here), by assigning doc k
    * of source s the virtual time k·10⁹ div w_s and reading the corpus in
    * virtual-time order. Every engine, run, and partitioning produces the
    * SAME epoch order — the reproducible-training-run requirement.
    *
    * Scale shape: per-source rank comes from [[graft.operators.PrefixSum]]
    * (two-level sharded prefix sum — NEVER a row_number window partitioned
    * by source, which would drag a 90%-of-corpus web source into one
    * task); weights are a bounded per-source aggregate broadcast back;
    * virtual time is a pure map in DECIMAL(38,0) (exact past BIGINT at
    * warehouse row counts); the head of the order is one
    * TakeOrderedAndProject. The oracle affords the plain window. */
  def q163StrideInterleave(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), lit(1L).as("one"))
    val ranked = graft.operators.PrefixSum.inclusive(
      docs, Seq("source"), "doc_id", "one", "k")
    val weights = docs.groupBy("source").agg(count(lit(1)).as("ws"))
    ranked.join(broadcast(weights), "source")
      .withColumn("vt", expr(
        "CAST((CAST(k AS DECIMAL(38,0)) * 1000000000) DIV ws AS BIGINT)"))
      .orderBy(col("vt"), col("source"), col("doc_id"))
      .limit(100)
      .select("doc_id", "source", "k", "vt")
  }

  /** q164: domain-relevance importance scores, DSIR-style (Xie et al.
    * 2023, "Data Selection for Language Models via Importance Resampling"):
    * featurize every doc as hashed bigram counts (4096 buckets), model the
    * TARGET domain (the deterministic held-out slice, q73's split) and the
    * RAW pool as bag-of-buckets frequency tables, and score each raw doc
    * by how target-like its bigrams are. Production resamples the pool by
    * these weights; the query surfaces the top-50 most target-like docs.
    *
    * Exactness: the published weight is Π (p_tgt/p_raw)^count — a float
    * log-sum — so the score here is the integer surrogate
    * Σ_instances ratio_permille(bucket), with ratio_permille =
    * tc·(N_raw+4096)·1000 DIV ((rc+1)·N_tgt) — add-one smoothing on the
    * raw side, zero floats, same top-like ordering intent; the surrogate
    * is stated as such, not passed off as the paper's weight.
    *
    * Scale shape: bigrams are a `zip_with` map (no shingle distinct — DSIR
    * counts OCCURRENCES); both frequency models are 4096-row bounded
    * aggregates; the ratio table broadcasts; per-doc scoring is one
    * map-side-combined sum; top-50 is a TakeOrderedAndProject. Docs with
    * <2 tokens have no features and are absent by construction. */
  def q164DsirScores(s: SparkSession, dir: String): DataFrame = {
    val B = 4096
    val grams = Tables.documents(s, dir)
      .withColumn("w", tokens(col("text")))
      .select(col("doc_id"),
        (pmod(md5Int(col("doc_id").cast("string")), lit(20)) === 0).as("ev"),
        explode(expr(
          """zip_with(slice(w, 1, greatest(size(w) - 1, 0)),
            |         slice(w, 2, greatest(size(w) - 1, 0)),
            |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("g"))
      .withColumn("b", pmod(md5Int(col("g")), lit(B)))
    val tgt = grams.filter(col("ev")).groupBy("b").agg(count(lit(1)).as("tc"))
    val raw = grams.filter(!col("ev")).groupBy("b").agg(count(lit(1)).as("rc"))
    val nt = tgt.agg(sum("tc").as("ntgt"))
    val nr = raw.agg(sum("rc").as("nraw"))
    val ratio = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("tc"))
      .crossJoin(nt).crossJoin(nr)
      .withColumn("rb", expr(
        s"CAST((CAST(tc AS DECIMAL(38,0)) * (nraw + $B) * 1000) DIV ((rc + 1) * ntgt) AS BIGINT)"))
      .select("b", "rb")
    grams.filter(!col("ev"))
      .join(broadcast(ratio), "b")
      .groupBy("doc_id").agg(sum("rb").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
      .select("doc_id", "score")
  }

  /** q165: IVF quantizer distortion profile — the index-quality
    * diagnostics read before trusting an ANN index: per cell, population,
    * total angular distortion Σ(1−cos(v, centroid)), and the best/worst
    * member fit. Unbalanced cells or a fat distortion tail mean the coarse
    * quantizer needs retraining — this is the measurement that decides.
    *
    * Determinism: cos is the per-row left-fold double (bit-exact across
    * engines); the SUM of doubles crosses rows, so it rides the
    * DECIMAL(18,6) dsum convention (exact decimal addition, one final
    * cast); min/max are order-independent picks of bit-exact values.
    *
    * Scale shape: training is the bounded-sample k-means-lite collect
    * (same quantizer as q46/q84/q110 — the oracle's shared CTE chain);
    * assignment + residual ride the scan as narrow codegen'd expressions
    * (k native dots, no join, no shuffle); the profile is ONE k-row
    * aggregate. */
  def q165IvfDistortion(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val centroids = Similarity.trainCentroidsLite(
      emb, "vec_id", "embedding", k = 4, sampleMod = 10, maxSample = 1000)
    val cosArr = array(centroids.map(c =>
      Similarity.cosine(col("embedding"), typedLit(c))): _*)
    emb
      .withColumn("j", Similarity.ivfAssign(col("embedding"), centroids))
      .withColumn("cos", element_at(cosArr, col("j").cast("int") + 1))
      .groupBy("j").agg(
        count(lit(1)).as("n"),
        sum((lit(1.0) - col("cos")).cast("decimal(18,6)")).cast("double")
          .as("distortion"),
        min(col("cos")).as("worst_cos"),
        max(col("cos")).as("best_cos"))
      .select(col("j").cast("long").as("cell"), col("n"),
        col("distortion"), col("worst_cos"), col("best_cos"))
  }

  /** q168: marginal source novelty — for each source, how many of its
    * distinct word 3-grams it is the FIRST source to contribute (sources
    * ordered by name, the deterministic ingestion order): the
    * diminishing-returns measurement behind "is this crawl adding
    * anything", computed exactly rather than by sketch. novelty_permille
    * = new·1000 DIV distinct.
    *
    * Scale shape: two shingle-keyed hash aggregates (DISTINCT
    * (source,gram), then min-source per gram) — corpus-scale KEYS but
    * pure map-side-combining aggregates, the exact-dedup shape, never
    * all-pairs; outputs are #source-bounded. */
  def q168SourceNovelty(s: SparkSession, dir: String): DataFrame = {
    val sg = Tables.documents(s, dir)
      .select(col("source"),
        explode(wordShingles(tokens(col("text")), 3)).as("g"))
      .distinct()
    val tot = sg.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val nov = sg.groupBy("g").agg(min("source").as("source"))
      .groupBy("source").agg(count(lit(1)).as("new_grams"))
    tot.join(nov, Seq("source"), "left")
      .na.fill(0L, Seq("new_grams"))
      .withColumn("novelty_permille",
        expr("CAST((new_grams * 1000) DIV n_grams AS BIGINT)"))
      .select("source", "n_grams", "new_grams", "novelty_permille")
  }

  /** q171: kNN label-consistency screen (the cleanlab-style mislabel
    * detector): per label class, how often a vector's nearest neighbor —
    * searched within its trained IVF cell, the q46 index — carries the
    * SAME label. A class whose agreement collapses is mislabeled or
    * incoherent; that's the read before trusting `label` for eval splits
    * or classifier training.
    *
    * Scale shape: the q46 argument verbatim — bounded-sample quantizer
    * training, one narrow assignment pass, within-cell self-join cost
    * Σ cell², never n²; agreement is a #label-bounded aggregate. The 1-NN
    * pick (max cos, min id on ties) and the left-fold cosine are the
    * q32-established cross-engine parity. */
  def q171LabelConsistency(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = Similarity.trainCentroidsLite(
      emb, "vec_id", "embedding", k = 8, sampleMod = 10, maxSample = 1000)
    val cells = emb.withColumn("__ivf",
      Similarity.ivfAssign(col("embedding"), centroids))
    val nn = Similarity.bucketedNearestNeighbor(
      cells, "vec_id", "embedding", "__ivf")
    val lab = emb.select(col("vec_id"), col("label"))
    nn.join(lab, "vec_id")
      .join(lab.select(col("vec_id").as("nn_id"), col("label").as("nn_label")),
        "nn_id")
      .groupBy("label").agg(
        count(lit(1)).as("n"),
        sum(when(col("label") === col("nn_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_permille",
        expr("CAST((n_agree * 1000) DIV n AS BIGINT)"))
      .select("label", "n", "n_agree", "agree_permille")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q160_pmi_pairs" -> (q160PmiPairs _),
    "q161_otsu_threshold" -> (q161OtsuThreshold _),
    "q163_stride_interleave" -> (q163StrideInterleave _),
    "q164_dsir_scores" -> (q164DsirScores _),
    "q165_ivf_distortion" -> (q165IvfDistortion _),
    "q168_source_novelty" -> (q168SourceNovelty _),
    "q171_label_consistency" -> (q171LabelConsistency _),
    "q27_exact_dedup" -> (q27ExactDedup _),
    "q28_neardup_pairs" -> (q28NeardupPairs _),
    "q269_quality_keeper" -> (q269QualityKeeper _),
    "q271_source_minhash" -> (q271SourceMinhash _),
    "q273_sig_increment" -> (q273SigIncrement _),
    "q29_minhash_sig" -> (q29MinhashSig _),
    "q30_simhash" -> (q30Simhash _),
    "q31_knn_bruteforce" -> (q31KnnBruteforce _),
    "q32_bucketed_nn" -> (q32BucketedNn _),
    "q33_media_decode" -> (q33MediaDecode _),
    "q219_binary_files" -> (q219BinaryFiles _),
    "q34_token_stats" -> (q34TokenStats _),
    "q254_fertility" -> (q254Fertility _),
    "q35_quality_score" -> (q35QualityScore _),
    "q36_lang_id" -> (q36LangId _),
    "q37_fingerprint" -> (q37Fingerprint _),
    "q38_neardup_dedup" -> (q38NeardupDedup _),
    "q264_dedup_ladder" -> (q264DedupLadder _),
    "q39_lsh_ann" -> (q39LshAnn _),
    "q40_simhash_neardup" -> (q40SimhashNeardup _),
    "q42_jaccard_exact" -> (q42JaccardExact _),
    "q43_cosine_neardup" -> (q43CosineNeardup _),
    "q46_ivf_trained_nn" -> (q46IvfTrainedNn _),
    "q263_ivf_derived_k" -> (q263IvfDerivedK _),
    "q266_ivf_bq_rerank" -> (q266IvfBqRerank _),
    "q47_frame_sample" -> (q47FrameSample _),
    "q245_video_meta" -> (q245VideoMeta _),
    "q48_thumb_spec" -> (q48ThumbSpec _),
    "q276_image_phash" -> (q276ImagePhash _),
    "q277_image_neardup" -> (q277ImageNeardup _),
    "q278_audio_fp" -> (q278AudioFp _),
    "q279_audio_neardup" -> (q279AudioNeardup _),
    "q282_image_history_neardup" -> (q282ImageHistoryNeardup _),
    "q283_audio_history_neardup" -> (q283AudioHistoryNeardup _),
    "q285_audio_gain_neardup" -> (q285AudioGainNeardup _),
    "q286_video_fp" -> (q286VideoFp _),
    "q287_video_neardup" -> (q287VideoNeardup _),
    "q288_video_history_neardup" -> (q288VideoHistoryNeardup _),
    "q289_html_extract" -> (q289HtmlExtract _),
    "q290_html_boilerplate" -> (q290HtmlBoilerplate _),
    "q291_html_corpus_clean" -> (q291HtmlCorpusClean _),
    "q292_ann_index_search" -> (q292AnnIndexSearch _),
    "q293_ann_index_append" -> (q293AnnIndexAppend _),
    "q295_warc_responses" -> (q295WarcResponses _),
    "q296_warc_census" -> (q296WarcCensus _),
    "q297_warc_extract" -> (q297WarcExtract _),
    "q298_paragraph_dedup" -> (q298ParagraphDedup _),
    "q299_paragraph_hist_screen" -> (q299ParagraphHistScreen _),
    "q300_url_canonical" -> (q300UrlCanonical _),
    "q301_url_dedup" -> (q301UrlDedup _),
    "q302_pdf_extract" -> (q302PdfExtract _),
    "q303_pdf_text_dedup" -> (q303PdfTextDedup _),
    "q304_robots_rules" -> (q304RobotsRules _),
    "q305_robots_filter" -> (q305RobotsFilter _),
    "q306_sitemap_urls" -> (q306SitemapUrls _),
    "q307_crawl_frontier" -> (q307CrawlFrontier _),
    "q308_chunk_docs" -> (q308ChunkDocs _),
    "q312_warc_charset" -> (q312WarcCharset _),
    "q337_warc_http_decode" -> (q337WarcHttpDecode _),
    "q349_brotli_decode" -> (q349BrotliDecode _),
    "q324_cdx_lookup" -> (q324CdxLookup _),
    "q325_cdx_fetch" -> (q325CdxFetch _),
    "q326_link_graph" -> (q326LinkGraph _),
    "q336_link_resolve" -> (q336LinkResolve _),
    "q327_crawl_rank" -> (q327CrawlRank _),
    "q328_cdx_append" -> (q328CdxAppend _),
    "q329_warc_write" -> (q329WarcWrite _),
    "q330_wet_roundtrip" -> (q330WetRoundtrip _),
    "q331_frontier_schedule" -> (q331FrontierSchedule _),
    "q332_redirect_map" -> (q332RedirectMap _),
    "q333_redirect_frontier" -> (q333RedirectFrontier _),
    "q346_robots_sitemaps" -> (q346RobotsSitemaps _),
    "q338_redirect_chains" -> (q338RedirectChains _),
    "q339_crawl_delay_schedule" -> (q339CrawlDelaySchedule _),
    "q335_wat_export" -> (q335WatExport _),
    "q319_psl_domains" -> (q319PslDomains _),
    "q321_jpeg_color" -> (q321JpegColor _),
    "q322_color_neardup" -> (q322ColorNeardup _),
    "q320_frontier_politeness" -> (q320FrontierPoliteness _),
    "q130_wav_meta" -> (q130WavMeta _),
    "q141_pcm_stats" -> (q141PcmStats _),
    "q49_pii_redact" -> (q49PiiRedact _),
    "q50_source_mix" -> (q50SourceMix _),
    "q53_kmv_distinct" -> (q53KmvDistinct _),
    "q60_langid_ngram" -> (q60LangIdNgram _),
    "q61_rare_terms" -> (q61RareTerms _),
    "q62_repetition" -> (q62Repetition _),
    "q63_seq_packing" -> (q63SeqPacking _),
    "q64_corpus_clean" -> (q64CorpusClean _),
    "q65_split" -> (q65Split _),
    "q66_token_quantiles" -> (q66TokenQuantiles _),
    "q69_hist_quantile" -> (q69HistQuantile _),
    "q70_top_per_source" -> (q70TopPerSource _),
    "q71_token_budget" -> (q71TokenBudget _),
    "q72_chunk_dedup" -> (q72ChunkDedup _),
    "q73_contamination" -> (q73Contamination _),
    "q74_neardup_clusters" -> (q74NeardupClusters _),
    "q75_incremental_neardup" -> (q75IncrementalNeardup _),
    "q76_global_shuffle" -> (q76GlobalShuffle _),
    "q78_quality_deciles" -> (q78QualityDeciles _),
    "q80_source_rebalance" -> (q80SourceRebalance _),
    "q83_source_overlap" -> (q83SourceOverlap _),
    "q84_kmeans_iteration" -> (q84KmeansIteration _),
    "q85_normalize_dedup" -> (q85NormalizeDedup _),
    "q87_ngram_boilerplate" -> (q87NgramBoilerplate _),
    "q88_bpe_tokens" -> (q88BpeTokens _),
    "q91_multiprobe_nn" -> (q91MultiprobeNn _),
    "q95_doc_chunks" -> (q95DocChunks _),
    "q96_containment" -> (q96Containment _),
    "q100_pq_search" -> (q100PqSearch _))

  // ------------------------------------------------------------- oracles

  /** Word-3-shingle sets CTE (docs with ≥3 tokens), DuckDB mirror of
    * [[Dedup.shingleSets]]. */
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(w)-2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)""".stripMargin

  /** Shared oracle CTE chain: the 8×8 aHash sample grid over every
    * GIF/BMP fixture row, with every sampled pixel REGENERATED from the
    * generator's byte formulas — BMP bytes (seed·31 + n·7 + d) mod 256
    * over unpadded B,G,R positions of the bottom-up rows, GIF palette
    * indices (seed·31 + j·7) mod 4 against the seed-keyed palette —
    * including the seeded near-dup rows (89/90 derive from 88's stream,
    * 93/94 from 92's; 89 carries +16 on every 103rd byte, 93 a +1 code
    * bump on every 37th pixel). JPEG rows (105+) are replayed through
    * the PINNED integer IDCT from the quantized-coefficient formula —
    * the [[graft.operators.Multimodal.IdctK]] table, zigzag maps and
    * floor((Σ+2¹⁹)/2²⁰)+128 pixel rule interpolated verbatim, so the
    * engine's Huffman/dequant/IDCT walk must land bit-exactly on this
    * SQL. Ends at `ibits`: (media_id, w, h, k, gray sample g,
    * above-mean bit b). */
  private val imageSampleCtes =
    s"""img AS (
       |  SELECT media_id, mime, CAST(width AS INT) AS w, CAST(height AS INT) AS h,
       |    CASE WHEN media_id IN (89, 90) THEN 88
       |         WHEN media_id IN (93, 94, 100) THEN 92
       |         WHEN media_id = 102 THEN 101
       |         -- 125/126: PROGRESSIVE re-encodes of the 105 family —
       |         -- same coefficient formulas, SOF2 serialization;
       |         -- 133: the DRI=3 restart re-encode (r16);
       |         -- 135: the EXIF Orientation=6 rotated re-save (r17) —
       |         -- the engine rotate-normalizes at decode, so its
       |         -- DISPLAYED raster is 105's bit for bit
       |         WHEN media_id IN (106, 107, 125, 126, 133, 135) THEN 105
       |         -- 136: the Adobe-CMYK re-save of 108 (r17) — the pinned
       |         -- ink reconstruction lands exactly on 108's luma raster
       |         WHEN media_id = 136 THEN 108
       |         -- 129: progressive 4:2:0 re-encode of 116 (r16);
       |         -- 134: the same with DRI=2 restarts in every scan
       |         WHEN media_id IN (117, 129, 134) THEN 116
       |         WHEN media_id IN (121, 122) THEN 120
       |         -- 132: progressive 4:2:2 re-encode of the baseline 131
       |         WHEN media_id = 132 THEN 131
       |         ELSE media_id END AS seed
       |  FROM read_parquet('$media')
       |  WHERE mime IN ('image/gif', 'image/bmp')
       |     OR (mime = 'image/png' AND media_id >= 101)
       |     OR (mime = 'image/jpeg' AND media_id >= 105)),
       |grid AS (
       |  SELECT i.*, t.k, (t.k % 8) * w // 8 AS px, (t.k // 8) * h // 8 AS py
       |  FROM img i, LATERAL (SELECT unnest(generate_series(0, 63)) AS k) t),
       |pos AS (
       |  SELECT media_id, mime, seed, w, h, k,
       |    3 * ((h - 1 - py) * w + px) AS n0, py * w + px AS j
       |  FROM grid),
       |chan AS (
       |  SELECT media_id, mime, seed, w, h, k,
       |    (seed*31 + n0*7     + CASE WHEN media_id = 89 AND n0%103 = 0     THEN 16 ELSE 0 END) % 256 AS cb,
       |    (seed*31 + (n0+1)*7 + CASE WHEN media_id = 89 AND (n0+1)%103 = 0 THEN 16 ELSE 0 END) % 256 AS cg,
       |    (seed*31 + (n0+2)*7 + CASE WHEN media_id = 89 AND (n0+2)%103 = 0 THEN 16 ELSE 0 END) % 256 AS cr,
       |    ((seed*31 + j*7) % 4 + CASE WHEN media_id = 93 AND j%37 = 0 THEN 1 ELSE 0 END) % 4 AS c,
       |    (seed*31 + (3*j)*7) % 256 AS pr,
       |    (seed*31 + (3*j+1)*7) % 256 AS pg,
       |    (seed*31 + (3*j+2)*7) % 256 AS pb
       |  FROM pos),
       |smp AS (
       |  SELECT media_id, w, h, k,
       |    -- row 100 is a BMP whose pixels ARE gif-92's palette colors
       |    -- (the cross-format duplicate): route it through the palette
       |    -- formula its bytes were built from
       |    CASE WHEN mime = 'image/png'
       |      THEN (299*pr + 587*pg + 114*pb) // 1000
       |    WHEN mime = 'image/bmp' AND media_id <> 100
       |      THEN (299*cr + 587*cg + 114*cb) // 1000
       |      ELSE (299*((seed*7 + (3*c)*11) % 256)
       |          + 587*((seed*7 + (3*c+1)*11) % 256)
       |          + 114*((seed*7 + (3*c+2)*11) % 256)) // 1000
       |    END AS g
       |  FROM chan WHERE mime <> 'image/jpeg'),
       |jt AS (
       |  -- jpeg sampled pixel: sum over the 64 zigzag coefficients of
       |  -- dequantized coef × K[u][bx] × K[v][by] (the pinned basis)
       |  SELECT media_id, w, h, k,
       |    (CASE WHEN zt.z = 0
       |        THEN ((seed*5 + b*11) % 61) - 30
       |             + CASE WHEN media_id IN (107, 122, 126) AND b % 3 = 0 THEN 8 ELSE 0 END
       |      WHEN (seed + b*3 + zt.z*5) % 7 = 0
       |        THEN ((seed*3 + b*7 + zt.z*11) % 19) - 9
       |      ELSE 0 END) * (1 + (zt.z % 5))
       |    * kt[zzu[zt.z+1]*8 + bx + 1] * kt[zzv[zt.z+1]*8 + by + 1] AS term
       |  FROM (SELECT media_id, w, h, k, seed,
       |          -- grayscale/4:4:4: raster block order; 4:2:0 rows
       |          -- (116-118, progressive 129/130): MCU-major Y-block
       |          -- order, 4 per 16×16 MCU; 4:2:2 rows (131/132):
       |          -- 2 per 16×8 MCU (r16)
       |          CASE WHEN media_id IN (116, 117, 118, 120, 121, 122, 123,
       |                                 129, 130, 134)
       |            THEN ((py // 16) * ((w + 15) // 16) + (px // 16)) * 4
       |                 + ((py % 16) // 8) * 2 + (px % 16) // 8
       |          WHEN media_id IN (131, 132)
       |            THEN ((py // 8) * ((w + 15) // 16) + (px // 16)) * 2
       |                 + (px % 16) // 8
       |            ELSE (py // 8) * ((w + 7) // 8) + (px // 8) END AS b,
       |          px % 8 AS bx, py % 8 AS by
       |        FROM grid WHERE mime = 'image/jpeg') jb,
       |    LATERAL (SELECT unnest(generate_series(0, 63)) AS z) zt,
       |    (SELECT [${graft.operators.Multimodal.IdctK.mkString(", ")}] AS kt,
       |            [${graft.operators.Multimodal.ZigU.mkString(", ")}] AS zzu,
       |            [${graft.operators.Multimodal.ZigV.mkString(", ")}] AS zzv) tabs),
       |jsmp AS (
       |  SELECT media_id, w, h, k,
       |    greatest(0, least(255,
       |      CAST(floor((sum(term) + 524288) / 1048576.0) AS INT) + 128)) AS g
       |  FROM jt GROUP BY 1, 2, 3, 4),
       |ibits AS (
       |  SELECT media_id, w, h, k, g,
       |    CASE WHEN g*64 > sum(g) OVER (PARTITION BY media_id) THEN 1 ELSE 0 END AS b
       |  FROM (SELECT * FROM smp UNION ALL SELECT * FROM jsmp))""".stripMargin

  /** Shared oracle CTE chain: the 64-window PCM energy envelope of every
    * WAV fixture row, the stream regenerated from the byte formula (the
    * q141 convention: seed 96 for rows 97/98, +40 on every 9th byte of
    * row 98; all perturbed rows are 8-bit so the 16-bit byte path needs
    * no perturbation term). Ends at `abits`: (media_id, tot, t, window
    * energy en, above-mean bit b). */
  private val audioEnvelopeCtes =
    s"""aud AS (
       |  SELECT media_id, bits, channels * n_samples AS tot,
       |    CASE WHEN media_id IN (97, 98, 104) THEN 96 ELSE media_id END AS seed
       |  FROM read_parquet('$media') WHERE mime LIKE 'audio/%'),
       |s0 AS (
       |  SELECT a.media_id, a.bits, a.tot, j,
       |    (a.seed*31 + (2*j)*7) % 256 AS lo,
       |    (a.seed*31 + (2*j+1)*7) % 256 AS hi,
       |    ((a.seed*31 + j*7 + CASE WHEN a.media_id = 98 AND j%9 = 0
       |      THEN 40 ELSE 0 END) % 256) - 128 AS amp8
       |  FROM aud a, LATERAL (SELECT unnest(generate_series(0, a.tot - 1)) AS j) g),
       |sa AS (
       |  SELECT media_id, tot, j,
       |    -- row 104 stores row 96's stream at HALF volume: floor(amp/2).
       |    -- DuckDB's integer // TRUNCATES on negatives (unlike Python's
       |    -- floor, which built the fixture), so floor via exact double /2
       |    CASE WHEN media_id = 104 THEN CAST(floor(amp8 / 2.0) AS INTEGER)
       |         WHEN bits = 8 THEN amp8
       |         WHEN lo + 256*hi >= 32768 THEN lo + 256*hi - 65536
       |         ELSE lo + 256*hi END AS amp
       |  FROM s0),
       |env AS (
       |  SELECT media_id, tot, (j*64) // tot AS t, sum(abs(amp)) AS en
       |  FROM sa GROUP BY 1, 2, 3),
       |abits AS (
       |  SELECT media_id, tot, t, en,
       |    CASE WHEN en*64 > sum(en) OVER (PARTITION BY media_id) THEN 1 ELSE 0 END AS b
       |  FROM env)""".stripMargin

  /** Shared oracle CTE chain: the 8-slot × 8×8-grid frame samples of
    * every raw-gray-codec video row (110+), every sampled pixel
    * REGENERATED from the stream byte formula — byte at global index
    * n = f·w·h + y·w + x is (seed·31 + n·7 + d) mod 256, d = 16 on
    * every 251st byte of row 112 only; slot t reads frame ⌊t·nf/8⌋
    * (the engine's even-sampling convention); seeds 111/112 → 110,
    * 115 → 114 (the cross-container AVI/MP4 pair). Ends at `vbits`:
    * (media_id, t, k, gray sample g, above-mean bit b — per (video,
    * slot), matching [[graft.operators.Multimodal.aHash64]]). */
  private val videoSampleCtes =
    s"""vid AS (
       |  SELECT media_id, CAST(width AS INT) AS w, CAST(height AS INT) AS h,
       |    CAST(n_frames AS INT) AS nf,
       |    CASE WHEN media_id IN (111, 112) THEN 110
       |         WHEN media_id = 115 THEN 114
       |         ELSE media_id END AS seed
       |  FROM read_parquet('$media')
       |  WHERE mime LIKE 'video/%' AND media_id >= 110),
       |vgrid AS (
       |  SELECT v.*, s.t, g.k,
       |    (s.t * nf) // 8 AS f,
       |    (g.k % 8) * w // 8 AS px, (g.k // 8) * h // 8 AS py
       |  FROM vid v,
       |    LATERAL (SELECT unnest(generate_series(0, 7)) AS t) s,
       |    LATERAL (SELECT unnest(generate_series(0, 63)) AS k) g),
       |vsmp AS (
       |  SELECT media_id, t, k,
       |    (seed*31 + (f*w*h + py*w + px)*7
       |     + CASE WHEN media_id = 112 AND (f*w*h + py*w + px) % 251 = 0
       |            THEN 16 ELSE 0 END) % 256 AS g
       |  FROM vgrid),
       |vbits AS (
       |  SELECT media_id, t, k, g,
       |    CASE WHEN g*64 > sum(g) OVER (PARTITION BY media_id, t) THEN 1 ELSE 0 END AS b
       |  FROM vsmp)""".stripMargin

  /** Shared oracle CTE chain: the HTML extraction pipeline of
    * [[graft.operators.Html]] replayed in DuckDB — the IDENTICAL regex
    * patterns (interpolated from the operator's constants, so engine and
    * oracle can never drift), the identical entity-decode order (amp
    * LAST), the identical integer link-density rule. Ends at `hcls`:
    * (doc_id, pos, text, text_chars, link_chars, is_content). */
  private[graft] val htmlBlockCtes: String = {
    import graft.operators.Html._
    // tag-strip + entity-decode + ws-normalize, applied to SQL expr `e`
    def norm(e: String): String =
      s"""trim(regexp_replace(replace(replace(replace(replace(replace(replace(
         |      regexp_replace($e, '$TagPat', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
         |      '&nbsp;', ' '), '&amp;', '&'), '\\s+', ' ', 'g'))""".stripMargin
    s"""hraw AS (
       |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
       |    '$ScriptPat', ' ', 'g'), '$StylePat', ' ', 'g'),
       |    '$CommentPat', ' ', 'g') AS x
       |  FROM read_parquet('$htmlDocs')),
       |hparts AS (
       |  SELECT doc_id, string_split_regex(x, '$BlockSplit') AS ps FROM hraw),
       |hb0 AS (
       |  SELECT doc_id, g.i - 1 AS pos, ps[g.i] AS raw
       |  FROM hparts, LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) g),
       |hb1 AS (
       |  SELECT doc_id, pos, raw, ${norm("raw")} AS text
       |  FROM hb0),
       |hblk AS (
       |  SELECT doc_id, pos, text, CAST(len(text) AS BIGINT) AS text_chars,
       |    CAST(coalesce(list_sum(list_transform(
       |      regexp_extract_all(raw, '$LinkPat', 1),
       |      s -> len(${norm("s")}))), 0) AS BIGINT) AS link_chars
       |  FROM hb1 WHERE len(text) > 0),
       |hcls AS (
       |  SELECT *, (text_chars >= 25 AND link_chars * 10 <= text_chars * 3) AS is_content
       |  FROM hblk)""".stripMargin
  }

  /** DuckDB mirror of [[messyHost]]. */
  private val messyHostSql: String =
    """(CASE WHEN doc_id % 31 = 0 THEN 'go.jp' ELSE
      |  (CASE doc_id % 4 WHEN 0 THEN 'a.b.' WHEN 1 THEN 'deep.sub.' ELSE 'www.' END) ||
      |  'site' || (doc_id % 37) || '.' ||
      |  (CASE doc_id % 7 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com.au' WHEN 2 THEN 'city.go.jp'
      |        WHEN 3 THEN 'zz' WHEN 4 THEN 'qqq' WHEN 5 THEN 'io' ELSE 'ac.zz' END) END)""".stripMargin

  /** DuckDB mirror of [[messyUrl]] — the identical decoration formulas,
    * so both engines see the same raw strings. */
  private val messyUrlSql: String =
    """((CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
      |  (CASE WHEN doc_id % 11 = 0 THEN 'crawler:pw@' ELSE '' END) ||
      |  (CASE doc_id % 6 WHEN 0 THEN 'www.example.com' WHEN 1 THEN 'WWW.Example.Com'
      |        WHEN 2 THEN 'www.EXAMPLE.com' WHEN 3 THEN 'api.news.example.co.uk'
      |        WHEN 4 THEN 'cdn.files.sample.org' ELSE 'Example.COM' END) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
      |  '/a/' || (doc_id // 7) ||
      |  (CASE WHEN doc_id % 9 = 0 THEN '/' ELSE '' END) ||
      |  (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=s' || doc_id
      |        ELSE '?a=1&b=2&fbclid=f' || doc_id END) ||
      |  (CASE WHEN doc_id % 4 = 0 THEN '#sec' || doc_id ELSE '' END))""".stripMargin

  /** The INTENDED canonical host / URL per decoration class — the
    * pack-and-recover contract [[graft.operators.Url.canonicalize]] must
    * land on. */
  private val canonHostSql: String =
    """(CASE WHEN doc_id % 6 IN (0, 1, 2) THEN 'www.example.com'
      |      WHEN doc_id % 6 = 3 THEN 'api.news.example.co.uk'
      |      WHEN doc_id % 6 = 4 THEN 'cdn.files.sample.org'
      |      ELSE 'example.com' END)""".stripMargin

  private val canonicalUrlSql: String =
    s"('https://' || $canonHostSql || '/a/' || (doc_id // 7) || '?a=1&b=2')"

  /** The sitemap fixture's URL groups (host, sitemap file, g range) —
    * the generator's formulas, mirrored (tools/gen_sitemap_fixture.py). */
  private val sitemapGroupsSql: String =
    """SELECT 'www.example.com' AS host,
      |       'https://www.example.com/sitemap-a.xml' AS sitemap_url,
      |       unnest(generate_series(0, 49)) AS g
      |UNION ALL SELECT 'www.example.com',
      |       'https://www.example.com/sitemap-b.xml', unnest(generate_series(1000, 1019))
      |UNION ALL SELECT 'www.example.com',
      |       'https://www.example.com/sitemap-b.xml', unnest(generate_series(2000, 2009))
      |UNION ALL SELECT 'api.news.example.co.uk',
      |       'https://api.news.example.co.uk/sitemap.xml', unnest(generate_series(300, 339))
      |UNION ALL SELECT 'cdn.files.sample.org',
      |       'https://cdn.files.sample.org/sitemap.xml', unnest(generate_series(500, 509))
      |UNION ALL SELECT 'example.com',
      |       'https://example.com/sitemap.xml', unnest(generate_series(600, 607))""".stripMargin

  /** The exact all-pairs near-dup condition at Jaccard ≥ 4/5 (integer
    * form). The oracle affords all-pairs; the engine must not. */
  private val pairsFrom =
    """FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE 5*len(list_intersect(a.s, b.s)) >= 4*len(list_distinct(a.s || b.s))""".stripMargin

  /** Offset squared-L2 left-fold over a 16-long subspace of a float list
    * against a double-list centroid — op order identical to [[Pq.l2]]. */
  private def pqL2(vec: String, off: Int, c: String): String =
    s"list_reduce(list_transform(generate_series(1, 16), i -> " +
      s"($vec[i + $off]::DOUBLE - $c[i]) * ($vec[i + $off]::DOUBLE - $c[i])), (x,y) -> x + y)"

  /** Per-subspace PQ CTE chain (train + encode + query distance table),
    * DuckDB mirror of [[Pq.trainCodebooks]] / [[Pq.codeCols]] at
    * m=4, k=4, subLen=16, mod-10 sample capped at 1000. */
  private[queries] def pqSubCtes(m: Int): String = {
    val off = m * 16
    s"""init_$m AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
       |    list_transform(generate_series(1, 16), i -> embedding[i + $off]::DOUBLE) AS c
       |  FROM (SELECT * FROM samp ORDER BY vec_id LIMIT 4)),
       |sc0_$m AS (
       |  SELECT s.vec_id, s.embedding, i.j, ${pqL2("s.embedding", off, "i.c")} AS d
       |  FROM samp s CROSS JOIN init_$m i),
       |as0_$m AS (
       |  SELECT vec_id, embedding, j FROM sc0_$m
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, j ASC) = 1),
       |cl_$m AS (
       |  SELECT j, list(embedding ORDER BY vec_id) AS vs, count(*) AS n
       |  FROM as0_$m GROUP BY j),
       |tr_$m AS (
       |  SELECT j, list_transform(generate_series(1, 16), d ->
       |    list_reduce(list_transform(vs, v -> v[d + $off]::DOUBLE), (x,y) -> x + y) / n) AS c
       |  FROM cl_$m),
       |cb_$m AS (SELECT i.j, coalesce(t.c, i.c) AS c FROM init_$m i LEFT JOIN tr_$m t USING (j)),
       |enc_$m AS (
       |  SELECT e.vec_id, c.j FROM embeddings e CROSS JOIN cb_$m c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${pqL2("e.embedding", off, "c.c")} ASC, c.j ASC) = 1),
       |dt_$m AS (
       |  SELECT c.j, ${pqL2("q.embedding", off, "c.c")} AS d
       |  FROM cb_$m c CROSS JOIN qv q)""".stripMargin
  }

  /** Left-fold double dot product, same op order as [[Similarity.dot]]. */
  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x,y) -> x+y)"

  private[queries] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** DuckDB mirror of [[Similarity.trainCentroidsLite]] (k cells, mod-10
    * sample, one Lloyd pass on the sample) + assignment of every vector in
    * `corpus` — terminates in `assign(vec_id, embedding, j)`. Shared by the
    * q46/q84 oracles (k=4 over `embeddings`) and q110 (k=8 over its
    * perturbed corpus) so the quantizer definition cannot drift. */
  private[queries] def ivfAssignCtesK(k: Int, corpus: String,
                                      sampleFrom: String = null): String =
    s"""samp AS (
       |  SELECT vec_id, embedding FROM ${Option(sampleFrom).getOrElse(corpus)}
       |  WHERE vec_id % 10 = 0 ORDER BY vec_id LIMIT 1000),
       |init AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
       |         list_transform(embedding, x -> x::DOUBLE) AS c
       |  FROM (SELECT * FROM samp ORDER BY vec_id LIMIT $k)),
       |scored0 AS (
       |  SELECT s.vec_id, s.embedding, i.j,
       |    ${cosSql("s.embedding", "i.c")} AS cos
       |  FROM samp s CROSS JOIN init i),
       |assign0 AS (
       |  SELECT vec_id, embedding, j FROM scored0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, j ASC) = 1),
       |clusters AS (
       |  SELECT j, list(embedding ORDER BY vec_id) AS vs, count(*) AS n
       |  FROM assign0 GROUP BY j),
       |trained AS (
       |  SELECT j, list_transform(generate_series(1, len(vs[1])), d ->
       |    list_reduce(list_transform(vs, v -> v[d]::DOUBLE), (x,y) -> x + y) / n) AS c
       |  FROM clusters),
       |centroids AS (
       |  SELECT i.j, coalesce(t.c, i.c) AS c
       |  FROM init i LEFT JOIN trained t USING (j)),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.j,
       |    ${cosSql("e.embedding", "c.c")} AS cos
       |  FROM $corpus e CROSS JOIN centroids c),
       |assign AS (
       |  SELECT vec_id, embedding, j FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, j ASC) = 1)""".stripMargin

  private lazy val ivfAssignCtes: String = ivfAssignCtesK(4, "embeddings")

  /** [[ivfAssignCtesK]] with the cell count DERIVED in SQL — k =
    * greatest(2, floor(sqrt(count(*)))), the engine's `k = 0` adaptive
    * path — and a mod-2 sample (ascending, capped 1000) so the sample
    * covers k cells at every test SF. Init takes the first k sample rows
    * via a QUALIFY against the scalar `kk` (a literal LIMIT cannot carry
    * a derived value). */
  private lazy val ivfAssignCtesDerived: String =
    s"""kk AS (
       |  SELECT greatest(2, CAST(floor(sqrt(count(*))) AS BIGINT)) AS k
       |  FROM embeddings),
       |samp AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 1000),
       |init AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
       |         list_transform(embedding, x -> x::DOUBLE) AS c
       |  FROM (SELECT vec_id, embedding FROM samp
       |        QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk))),
       |scored0 AS (
       |  SELECT s.vec_id, s.embedding, i.j,
       |    ${cosSql("s.embedding", "i.c")} AS cos
       |  FROM samp s CROSS JOIN init i),
       |assign0 AS (
       |  SELECT vec_id, embedding, j FROM scored0
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, j ASC) = 1),
       |clusters AS (
       |  SELECT j, list(embedding ORDER BY vec_id) AS vs, count(*) AS n
       |  FROM assign0 GROUP BY j),
       |trained AS (
       |  SELECT j, list_transform(generate_series(1, len(vs[1])), d ->
       |    list_reduce(list_transform(vs, v -> v[d]::DOUBLE), (x,y) -> x + y) / n) AS c
       |  FROM clusters),
       |centroids AS (
       |  SELECT i.j, coalesce(t.c, i.c) AS c
       |  FROM init i LEFT JOIN trained t USING (j)),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.j,
       |    ${cosSql("e.embedding", "c.c")} AS cos
       |  FROM embeddings e CROSS JOIN centroids c),
       |assign AS (
       |  SELECT vec_id, embedding, j FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, j ASC) = 1)""".stripMargin

  private val simhashBitSums = (0 until 60)
    .map(b => s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
    .mkString(", ")
  private val simhashCombine = (0 until 60)
    .map(b => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END")
    .mkString(" + ")

  /** CTEs computing per-doc 60-bit simhash signatures (shared by q30/q40);
    * 15 hex chars keep the decode inside signed BIGINT in both engines. */
  private val simhashCtes =
    s"""h AS (
       |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)),
       |bits AS (SELECT doc_id, $simhashBitSums FROM h GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($simhashCombine AS BIGINT) AS simhash FROM bits)""".stripMargin

  /** Random-hyperplane LSH bucket over `planes` sign bits, mirror of
    * [[Similarity.lshBucket]] (±1 weights from md5("plane:dim")); plane ids
    * start at `planeOffset` for multi-table LSH. */
  private def lshBucketSql(vec: String, planes: Int, planeOffset: Int = 0): String =
    (0 until planes).map { p =>
      val pid = planeOffset + p
      val dotP =
        s"""list_reduce(list_transform(generate_series(1, len($vec)),
           |      i -> $vec[i]::DOUBLE * (CASE WHEN (('0x' || substring(md5('$pid:' || i), 1, 8))::BIGINT & 1) = 1
           |                              THEN 1.0 ELSE -1.0 END)), (x,y) -> x+y)""".stripMargin
      s"(CASE WHEN $dotP > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")


  /** DuckDB mirror of the q307 frontier (factored so q320 can reuse it
    * as a subquery). */
  private lazy val q307OracleSql: String =
    s"""WITH g AS ($sitemapGroupsSql),
       |can AS (SELECT DISTINCT
       |          'https://' || host || '/a/' || g || '?a=1&b=2' AS canonical_url,
       |          host, '/a/' || g AS path
       |        FROM g),
       |crawled AS (SELECT DISTINCT $canonicalUrlSql AS cu FROM documents),
       |fresh AS (SELECT * FROM can
       |          WHERE canonical_url NOT IN (SELECT cu FROM crawled)),
       |r AS (SELECT site, exp_allow[i.i] AS allow, exp_path[i.i] AS rule_path
       |      FROM read_parquet('$robotsFx'),
       |        LATERAL (SELECT unnest(generate_series(1, len(exp_path))) AS i) i),
       |j AS (SELECT f.canonical_url, f.host, f.path, r.allow, r.rule_path
       |      FROM fresh f LEFT JOIN r
       |        ON f.host = r.site
       |       AND regexp_matches(f.path, ${graft.operators.Robots.patternRegexSqlFor("r.rule_path")})),
       |b AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
       |        ORDER BY len(rule_path) DESC NULLS LAST,
       |                 allow DESC NULLS LAST,
       |                 rule_path DESC NULLS LAST) AS rn FROM j)
       |SELECT canonical_url, host, path,
       |  coalesce(rule_path, '') AS matched_rule
       |FROM b WHERE rn = 1 AND coalesce(allow, TRUE)""".stripMargin


  val oracles: Map[String, String] = Map(
    "q27_exact_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS n_copies,
        |  min(doc_id) AS keeper_id
        |FROM corpus GROUP BY md5(text)""".stripMargin,
    "q28_neardup_pairs" ->
      s"""WITH $shingleCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
         |  CAST(len(list_distinct(a.s || b.s)) AS BIGINT) AS n_union
         |$pairsFrom""".stripMargin,
    // BOTH ladder rungs replayed: exact-collapse to min-id reps, all-pairs
    // Jaccard over reps only, recursive min-label reachability (the q198
    // pattern) with multi-copy shingle-eligible groups as members, fan-back
    // through the exact-group map, keeper = argmax (n_chars desc, doc_id asc)
    // over ALL members
    "q269_quality_keeper" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, n_chars FROM documents WHERE doc_id % 10 = 0),
        |g AS (SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS rep_id
        |      FROM corpus GROUP BY md5(text)),
        |reps AS (SELECT c.doc_id, c.text FROM corpus c JOIN g ON c.doc_id = g.rep_id),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM reps)
        |  WHERE len(w) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE 5*len(list_intersect(a.s, b.s)) >= 4*len(list_distinct(a.s || b.s))),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |multi AS (SELECT g.rep_id AS doc_id FROM g JOIN sh ON g.rep_id = sh.doc_id
        |          WHERE g.n_copies >= 2),
        |nodes AS (SELECT src AS doc_id FROM e UNION SELECT doc_id FROM multi),
        |reach(src, lbl) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.src),
        |lab AS (SELECT src AS doc_id, min(lbl) AS cluster_id
        |        FROM reach GROUP BY src),
        |members AS (
        |  SELECT c.doc_id, l.cluster_id, c.n_chars
        |  FROM corpus c JOIN g ON md5(c.text) = g.fp
        |  JOIN lab l ON g.rep_id = l.doc_id),
        |k AS (
        |  SELECT cluster_id, doc_id AS keeper_id FROM members
        |  QUALIFY row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY n_chars DESC, doc_id) = 1)
        |SELECT m.doc_id, m.cluster_id, k.keeper_id
        |FROM members m JOIN k USING (cluster_id)""".stripMargin,
    // per-source distinct shingles x 16 seeds -> min portable md5 hash
    // per (source, seed); pairs meet only on equal (seed, value)
    "q271_source_minhash" ->
      s"""WITH $shingleCte,
         |ss AS (
         |  SELECT DISTINCT d.source, x.sh
         |  FROM (SELECT doc_id, unnest(s) AS sh FROM sh) x
         |  JOIN documents d USING (doc_id)),
         |sig AS (
         |  SELECT source, k,
         |    min(substring(md5(k || ':' || sh), 1, 16)) AS mh
         |  FROM ss, generate_series(0, 15) t(k)
         |  GROUP BY source, k)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_match,
         |  (count(*) * 1000) // 16 AS est_permille
         |FROM sig a JOIN sig b ON a.k = b.k AND a.mh = b.mh
         | AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    // increment == rebuild: the oracle signs the FULL corpus in one pass
    "q273_sig_increment" ->
      s"""WITH $shingleCte,
         |ss AS (
         |  SELECT DISTINCT d.source, x.sh
         |  FROM (SELECT doc_id, unnest(s) AS sh FROM sh) x
         |  JOIN documents d USING (doc_id))
         |SELECT source, k,
         |  min(substring(md5(k || ':' || sh), 1, 16)) AS mh
         |FROM ss, generate_series(0, 15) t(k)
         |GROUP BY source, k""".stripMargin,
    "q29_minhash_sig" -> {
      val mhs = (0 until 4).map(k =>
        s"list_aggregate(list_transform(s, x -> substring(md5('$k:' || x), 1, 16)), 'min') AS mh$k")
        .mkString(", ")
      s"""WITH $shingleCte
         |SELECT doc_id, $mhs FROM sh""".stripMargin
    },
    "q30_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sigs""".stripMargin,
    "q40_simhash_neardup" ->
      s"""WITH $simhashCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "q39_lsh_ann" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, ${lshBucketSql("embedding", 6)} AS bkt
         |  FROM embeddings),
         |c AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id)
         |SELECT vec_id, nn_id FROM c
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) = 1""".stripMargin,
    "q31_knn_bruteforce" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |c AS (
         |  SELECT vec_id, ${cosSql("embedding", "qe")} AS cos
         |  FROM embeddings, q WHERE vec_id <> 0)
         |SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q32_bucketed_nn" ->
      s"""WITH c AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id)
         |SELECT vec_id, nn_id FROM c
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) = 1""".stripMargin,
    "q219_binary_files" ->
      s"""SELECT media_id,
         |  CAST(width AS INT) AS dec_width, CAST(height AS INT) AS dec_height,
         |  n_bytes AS dec_bytes, checksum AS dec_checksum
         |FROM read_parquet('$media') WHERE mime LIKE 'image/%'""".stripMargin,
    "q33_media_decode" ->
      s"""SELECT media_id, mime,
         |  CAST(width AS INT) AS dec_width, CAST(height AS INT) AS dec_height,
         |  n_bytes AS dec_bytes, checksum AS dec_checksum
         |FROM read_parquet('$media') WHERE mime LIKE 'image/%'""".stripMargin,
    // the oracle fans frames out from the REDUNDANT n_frames/fps metadata;
    // the engine parsed them from payload bytes — matching proves the demux
    "q47_frame_sample" ->
      s"""SELECT media_id, CAST(f AS INT) AS frame_idx,
         |  CAST((f * 1000) // fps AS BIGINT) AS ts_ms
         |FROM read_parquet('$media'),
         |  LATERAL unnest(generate_series(0, n_frames - 1, 5)) AS t(f)
         |WHERE mime LIKE 'video/%'""".stripMargin,
    // the engine parses dims/frames/rate/duration from ISO-BMFF and AVI
    // container BYTES; the oracle reads the independently stored metadata
    // and replays the integer duration math (mp4: ticks·1000/timescale
    // collapses to nf·1000 div fps under the fixture's delta=1000,
    // timescale=fps·1000; avi: nf·uspf div 10³ from the STORED
    // dwMicroSecPerFrame — NOT re-derived as 10⁶ div fps, which the
    // fixture's NTSC-style rows (uspf 41669/33367) deliberately break)
    "q245_video_meta" ->
      s"""SELECT media_id,
         |  CASE WHEN mime = 'video/mp4' THEN 'mp4' ELSE 'avi' END
         |    AS container,
         |  CAST(width AS INT) AS vid_width, CAST(height AS INT) AS vid_height,
         |  CAST(n_frames AS INT) AS n_frames, CAST(fps AS INT) AS fps,
         |  CAST(CASE WHEN mime = 'video/mp4'
         |       THEN CAST(n_frames AS BIGINT) * 1000 // fps
         |       ELSE CAST(n_frames AS BIGINT) * uspf // 1000
         |       END AS BIGINT) AS duration_ms
         |FROM read_parquet('$media') WHERE mime LIKE 'video/%'""".stripMargin,
    "q48_thumb_spec" ->
      s"""WITH sc AS (
         |  SELECT media_id, width, height,
         |    least(1.0, 64.0 / greatest(width, height)) AS scale
         |  FROM read_parquet('$media') WHERE mime LIKE 'image/%')
         |SELECT media_id,
         |  CAST(floor(width * scale) AS INT) AS thumb_w,
         |  CAST(floor(height * scale) AS INT) AS thumb_h,
         |  scale
         |FROM sc""".stripMargin,
    // the engine chunk-walks the actual RIFF/WAVE container bytes; the
    // oracle reads the redundantly stored metadata — matching proves the
    // byte-level parse, duration included (pure integer division)
    "q130_wav_meta" ->
      s"""SELECT media_id, sample_rate, channels, bits, n_samples,
         |  CAST(n_samples * 1000 // sample_rate AS BIGINT) AS duration_ms
         |FROM read_parquet('$media') WHERE mime LIKE 'audio/%'""".stripMargin,
    // INDEPENDENT sample-level decode check: the engine decodes the WAV
    // data-chunk bytes; the oracle regenerates the identical PCM stream
    // from the fixture's byte formula (body[j] = (seed*31 + j*7 + d) % 256;
    // 8-bit unsigned, 16-bit signed LE; seed = 96 for the near-dup rows
    // 97/98, d = 40 on every 9th byte of row 98 only — the perceptual-hash
    // families; all perturbed rows are 8-bit) and folds the same integer
    // stats. Any byte the chunk walk mis-addresses breaks the hash.
    "q141_pcm_stats" ->
      s"""WITH a AS (
         |  SELECT media_id, channels, bits, n_samples,
         |    channels * n_samples AS tot,
         |    CASE WHEN media_id IN (97, 98, 104) THEN 96 ELSE media_id END AS seed
         |  FROM read_parquet('$media') WHERE mime LIKE 'audio/%'),
         |s0 AS (
         |  SELECT a.media_id, a.bits, a.tot, a.n_samples,
         |    (a.seed*31 + (2*j)*7) % 256 AS lo,
         |    (a.seed*31 + (2*j+1)*7) % 256 AS hi,
         |    ((a.seed*31 + j*7 + CASE WHEN a.media_id = 98 AND j%9 = 0
         |      THEN 40 ELSE 0 END) % 256) - 128 AS amp8
         |  FROM a, LATERAL (SELECT unnest(generate_series(0, a.tot - 1)) AS j) g),
         |s AS (
         |  SELECT media_id, bits, tot, n_samples,
         |    CASE WHEN media_id = 104 THEN CAST(floor(amp8 / 2.0) AS INTEGER)
         |         WHEN bits = 8 THEN amp8
         |         WHEN lo + 256*hi >= 32768 THEN lo + 256*hi - 65536
         |         ELSE lo + 256*hi END AS amp
         |  FROM s0)
         |SELECT media_id,
         |  CAST(min(n_samples) AS BIGINT) AS n_frames,
         |  CAST(sum(abs(amp)) AS BIGINT) AS sum_abs,
         |  CAST(sum(abs(amp) * abs(amp)) AS BIGINT) AS sum_sq,
         |  CAST(max(abs(amp)) AS INT) AS max_abs,
         |  CAST(sum(CASE WHEN abs(amp) < (CASE WHEN bits = 8 THEN 2 ELSE 512 END)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
         |  CAST(sum(amp * amp) AS DOUBLE) / CAST(min(tot) AS DOUBLE) AS mean_square
         |FROM s GROUP BY media_id""".stripMargin,
    // two independent pixel decoders must agree on every sampled luma:
    // the engine LZW/BGR-decodes the actual container bytes, the oracle
    // regenerates pixels from the generator formulas
    "q276_image_phash" ->
      s"""WITH $imageSampleCtes
         |SELECT media_id, CAST(min(w) AS INT) AS img_w, CAST(min(h) AS INT) AS img_h,
         |  CAST(sum(CASE WHEN b = 1 AND k >= 32 THEN 1::BIGINT << (k - 32) ELSE 0 END) AS BIGINT) AS phash_hi,
         |  CAST(sum(CASE WHEN b = 1 AND k < 32 THEN 1::BIGINT << k ELSE 0 END) AS BIGINT) AS phash_lo
         |FROM ibits GROUP BY media_id""".stripMargin,
    // all-pairs replay of the banded+verified near-dup cut: the engine
    // must emit exactly the pairs at Hamming <= 3 AND sample-L1 <= 1024
    "q277_image_neardup" ->
      s"""WITH $imageSampleCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming,
         |  CAST(sum(abs(a.g - b.g)) AS BIGINT) AS sample_l1
         |FROM ibits a JOIN ibits b ON a.k = b.k AND a.media_id < b.media_id
         |GROUP BY 1, 2
         |HAVING sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) <= 3
         |   AND sum(abs(a.g - b.g)) <= 1024""".stripMargin,
    "q278_audio_fp" ->
      s"""WITH $audioEnvelopeCtes
         |SELECT media_id, CAST(min(tot) AS BIGINT) AS n_pcm,
         |  CAST(sum(CASE WHEN b = 1 AND t >= 32 THEN 1::BIGINT << (t - 32) ELSE 0 END) AS BIGINT) AS fp_hi,
         |  CAST(sum(CASE WHEN b = 1 AND t < 32 THEN 1::BIGINT << t ELSE 0 END) AS BIGINT) AS fp_lo
         |FROM abits GROUP BY media_id""".stripMargin,
    "q279_audio_neardup" ->
      s"""WITH $audioEnvelopeCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming,
         |  CAST(sum(abs(a.en - b.en)) * 1000 // greatest(1, sum(a.en + b.en)) AS BIGINT) AS rel_l1_permille
         |FROM abits a JOIN abits b ON a.t = b.t AND a.media_id < b.media_id
         |GROUP BY 1, 2
         |HAVING sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) <= 3
         |   AND sum(abs(a.en - b.en)) * 1000 <= 100 * sum(a.en + b.en)""".stripMargin,
    // batch-vs-history replay over the same regenerated pixels/envelopes:
    // batch = the seeded derived rows, history = everything earlier
    "q282_image_history_neardup" ->
      s"""WITH $imageSampleCtes
         |SELECT b.media_id AS new_id, h.media_id AS hist_id,
         |  CAST(sum(CASE WHEN b.b <> h.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming,
         |  CAST(sum(abs(b.g - h.g)) AS BIGINT) AS sample_l1
         |FROM ibits b JOIN ibits h ON b.k = h.k
         |WHERE b.media_id >= 89 AND b.media_id <> 92
         |  AND (h.media_id <= 88 OR h.media_id = 92)
         |GROUP BY 1, 2
         |HAVING sum(CASE WHEN b.b <> h.b THEN 1 ELSE 0 END) <= 3
         |   AND sum(abs(b.g - h.g)) <= 1024""".stripMargin,
    "q283_audio_history_neardup" ->
      s"""WITH $audioEnvelopeCtes
         |SELECT b.media_id AS new_id, h.media_id AS hist_id,
         |  CAST(sum(CASE WHEN b.b <> h.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming,
         |  CAST(sum(abs(b.en - h.en)) * 1000 // greatest(1, sum(b.en + h.en)) AS BIGINT) AS rel_l1_permille
         |FROM abits b JOIN abits h ON b.t = h.t
         |WHERE b.media_id >= 97 AND h.media_id <= 96
         |GROUP BY 1, 2
         |HAVING sum(CASE WHEN b.b <> h.b THEN 1 ELSE 0 END) <= 3
         |   AND sum(abs(b.en - h.en)) * 1000 <= 100 * sum(b.en + h.en)""".stripMargin,
    // normalized-profile replay: per-window permille shape, all-pairs
    "q285_audio_gain_neardup" ->
      s"""WITH $audioEnvelopeCtes,
         |tots AS (SELECT media_id, sum(en) AS s FROM abits GROUP BY 1),
         |prof AS (
         |  SELECT a.media_id, a.t, a.b,
         |    a.en * 1000 // greatest(1, t2.s) AS p
         |  FROM abits a JOIN tots t2 USING (media_id))
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming,
         |  CAST(sum(abs(a.p - b.p)) AS BIGINT) AS profile_l1
         |FROM prof a JOIN prof b ON a.t = b.t AND a.media_id < b.media_id
         |GROUP BY 1, 2
         |HAVING sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) <= 3
         |   AND sum(abs(a.p - b.p)) <= 200""".stripMargin,
    // sampled-frame replay of the raw-gray video codec: pixel at slot t,
    // grid cell k regenerated from the stream byte formula — the engine's
    // demux (mdat slice / movi chunk walk) must address every byte right
    "q286_video_fp" ->
      s"""WITH $videoSampleCtes
         |SELECT media_id, CAST(t AS INT) AS t,
         |  CAST(sum(CASE WHEN b = 1 AND k >= 32 THEN 1::BIGINT << (k - 32) ELSE 0 END) AS BIGINT) AS fp_hi,
         |  CAST(sum(CASE WHEN b = 1 AND k < 32 THEN 1::BIGINT << k ELSE 0 END) AS BIGINT) AS fp_lo
         |FROM vbits GROUP BY media_id, t""".stripMargin,
    // all-pairs replay of the banded+verified video near-dup cut
    "q287_video_neardup" ->
      s"""WITH $videoSampleCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS total_hamming,
         |  CAST(sum(abs(a.g - b.g)) AS BIGINT) AS total_l1
         |FROM vbits a JOIN vbits b ON a.t = b.t AND a.k = b.k AND a.media_id < b.media_id
         |GROUP BY 1, 2
         |HAVING sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) <= 24
         |   AND sum(abs(a.g - b.g)) <= 8192""".stripMargin,
    "q288_video_history_neardup" ->
      s"""WITH $videoSampleCtes
         |SELECT b.media_id AS new_id, h.media_id AS hist_id,
         |  CAST(sum(CASE WHEN b.b <> h.b THEN 1 ELSE 0 END) AS BIGINT) AS total_hamming,
         |  CAST(sum(abs(b.g - h.g)) AS BIGINT) AS total_l1
         |FROM vbits b JOIN vbits h ON b.t = h.t AND b.k = h.k
         |WHERE b.media_id >= 111 AND h.media_id <= 110
         |GROUP BY 1, 2
         |HAVING sum(CASE WHEN b.b <> h.b THEN 1 ELSE 0 END) <= 24
         |   AND sum(abs(b.g - h.g)) <= 8192""".stripMargin,
    // both engines run the identical regex chain over the raw HTML; any
    // divergence in tag handling, entity order, or the density rule
    // breaks the per-character string compare of main_text
    "q289_html_extract" ->
      s"""WITH $htmlBlockCtes
         |SELECT doc_id,
         |  coalesce(string_agg(CASE WHEN is_content THEN text END, ' ' ORDER BY pos), '') AS main_text,
         |  count(*) AS n_blocks,
         |  CAST(sum(CASE WHEN is_content THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(len(coalesce(string_agg(CASE WHEN is_content THEN text END, ' ' ORDER BY pos), '')) AS BIGINT) AS content_chars
         |FROM hcls GROUP BY doc_id""".stripMargin,
    "q290_html_boilerplate" ->
      s"""WITH $htmlBlockCtes
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN NOT is_content THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_blocks,
         |  CAST(sum(CASE WHEN NOT is_content THEN text_chars ELSE 0 END) AS BIGINT) AS boiler_chars,
         |  CAST(sum(link_chars) AS BIGINT) AS link_chars_total,
         |  CAST(sum(link_chars) * 1000 // greatest(1, sum(text_chars)) AS BIGINT) AS link_permille
         |FROM hcls GROUP BY doc_id""".stripMargin,
    // extraction feeding the UNCHANGED corpus-clean chain (the q64 CTEs
    // with their FROM re-pointed at the extracted docs)
    "q291_html_corpus_clean" ->
      s"""WITH $htmlBlockCtes,
         |hdocs AS (
         |  SELECT doc_id,
         |    coalesce(string_agg(CASE WHEN is_content THEN text END, ' ' ORDER BY pos), '') AS text
         |  FROM hcls GROUP BY doc_id),
         |${corpusSurvivorCtesFor("h", "TRUE", from = "hdocs")}
         |SELECT doc_id, md5(text) AS fp FROM survh""".stripMargin,
    // pack-and-recover: every field is a formula over the packed source
    // (html_docs); the engine recovers them from raw container bytes
    "q295_warc_responses" ->
      s"""SELECT url,
         |  CAST(CASE WHEN doc_id % 53 = 7 THEN 404
         |            WHEN doc_id % 53 = 21 THEN 301 ELSE 200 END AS INT) AS http_status,
         |  CASE WHEN doc_id % 10 = 3 THEN 'Text/HTML; charset=utf-8'
         |       ELSE 'text/html; charset=utf-8' END AS http_content_type,
         |  CAST(CASE WHEN doc_id % 53 = 21 THEN 0 ELSE len(html) END AS BIGINT) AS body_bytes,
         |  md5(CASE WHEN doc_id % 53 = 21 THEN '' ELSE html END) AS body_md5
         |FROM read_parquet('$htmlDocs')""".stripMargin,
    // container structure from the packing formulas: request+response
    // per page, metadata at doc_id%25=0, one warcinfo per shard
    "q296_warc_census" ->
      s"""WITH d AS (SELECT doc_id % 6 AS shard_id, doc_id FROM read_parquet('$htmlDocs')),
         |u AS (
         |  SELECT shard_id, 'request' AS warc_type FROM d
         |  UNION ALL SELECT shard_id, 'response' FROM d
         |  UNION ALL SELECT shard_id, 'metadata' FROM d WHERE doc_id % 25 = 0
         |  UNION ALL SELECT DISTINCT shard_id, 'warcinfo' FROM d)
         |SELECT shard_id, warc_type, CAST(count(*) AS BIGINT) AS n_records
         |FROM u GROUP BY 1, 2""".stripMargin,
    // the q289 extraction chain over the packed pages, restricted to the
    // status-200 population the engine's WARC walk serves
    "q297_warc_extract" ->
      s"""WITH $htmlBlockCtes,
         |ok AS (SELECT doc_id, url FROM read_parquet('$htmlDocs')
         |       WHERE doc_id % 53 NOT IN (7, 21))
         |SELECT ok.url,
         |  coalesce(string_agg(CASE WHEN is_content THEN text END, ' ' ORDER BY pos), '') AS main_text,
         |  count(*) AS n_blocks,
         |  CAST(sum(CASE WHEN is_content THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(len(coalesce(string_agg(CASE WHEN is_content THEN text END, ' ' ORDER BY pos), '')) AS BIGINT) AS content_chars
         |FROM hcls JOIN ok USING (doc_id) GROUP BY ok.url""".stripMargin,
    // first corpus occurrence per distinct paragraph (min doc_id, pos),
    // then per-doc reassembly of the survivors in document order
    "q298_paragraph_dedup" ->
      s"""WITH $htmlBlockCtes,
         |w AS (SELECT doc_id, pos, text,
         |        row_number() OVER (PARTITION BY text ORDER BY doc_id, pos) AS rn
         |      FROM hblk)
         |SELECT doc_id, count(*) AS n_pars,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN rn = 1 THEN text END, ' ' ORDER BY pos), '') AS clean_text
         |FROM w GROUP BY doc_id""".stripMargin,
    "q300_url_canonical" ->
      s"""SELECT doc_id, $messyUrlSql AS url,
         |  $canonicalUrlSql AS canonical_url,
         |  $canonHostSql AS host,
         |  (CASE WHEN doc_id % 6 = 3 THEN 'example.co.uk'
         |        WHEN doc_id % 6 = 4 THEN 'sample.org'
         |        ELSE 'example.com' END) AS registered_domain
         |FROM documents""".stripMargin,
    "q301_url_dedup" ->
      s"""WITH c AS (SELECT doc_id, $canonicalUrlSql AS canonical_url FROM documents)
         |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_copies,
         |  min(doc_id) AS keeper_id
         |FROM c GROUP BY 1""".stripMargin,
    // decode-vs-stored-metadata (q33/q130): the fixture's expected
    // columns were written INDEPENDENTLY of the engine's byte walk
    "q302_pdf_extract" ->
      s"""SELECT pdf_id, n_pages, text
         |FROM read_parquet('$pdfDocs')""".stripMargin,
    "q303_pdf_text_dedup" ->
      s"""SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS n_copies,
         |  min(pdf_id) AS keeper_id
         |FROM read_parquet('$pdfDocs') GROUP BY text""".stripMargin,
    // pack-and-recover: the expected graftbot rule set was stored as
    // independent array columns by the fixture generator
    "q304_robots_rules" ->
      s"""SELECT site, CAST(g.i - 1 AS INT) AS rule_idx,
         |  exp_allow[g.i] AS allow, exp_path[g.i] AS path
         |FROM read_parquet('$robotsFx'),
         |  LATERAL (SELECT unnest(generate_series(1, len(exp_path))) AS i) g""".stripMargin,
    // longest-match replay from the STORED rules over the canonical-URL
    // formulas; ties Allow-then-lexicographic, default allow on no match
    "q305_robots_filter" ->
      s"""WITH u AS (SELECT doc_id, $canonHostSql AS host,
         |             '/a/' || (doc_id // 7) AS path FROM documents),
         |r AS (SELECT site, exp_allow[g.i] AS allow, exp_path[g.i] AS rule_path
         |      FROM read_parquet('$robotsFx'),
         |        LATERAL (SELECT unnest(generate_series(1, len(exp_path))) AS i) g),
         |j AS (SELECT u.doc_id, u.host, u.path, r.allow, r.rule_path
         |      FROM u LEFT JOIN r
         |        ON u.host = r.site
         |       AND regexp_matches(u.path, ${graft.operators.Robots.patternRegexSqlFor("r.rule_path")})),
         |b AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY len(rule_path) DESC NULLS LAST,
         |                 allow DESC NULLS LAST,
         |                 rule_path DESC NULLS LAST) AS rn FROM j)
         |SELECT doc_id, host, path, coalesce(allow, TRUE) AS allowed,
         |  coalesce(rule_path, '') AS matched_rule
         |FROM b WHERE rn = 1""".stripMargin,
    // the fixture's URL groups regenerated by formula — pack-and-recover
    "q306_sitemap_urls" -> {
      s"""WITH g AS ($sitemapGroupsSql)
         |SELECT sitemap_url,
         |  (CASE WHEN g % 10 = 0 THEN 'HTTPS' ELSE 'https' END)
         |    || '://' || host || '/a/' || g || '?b=2&a=1' AS loc,
         |  CASE WHEN g % 3 = 0
         |       THEN '2026-07-' || lpad(CAST(g % 28 + 1 AS VARCHAR), 2, '0')
         |       ELSE '' END AS lastmod
         |FROM g""".stripMargin
    },
    // full frontier replay: groups -> canonical intent -> anti-join the
    // sf-aware crawled set -> longest-match robots verdict -> allowed
    // (factored to a val: q320 composes politeness keys on top of it)
    "q307_crawl_frontier" -> q307OracleSql,
    // the window formulas replayed: start_k = min(k·48, n−64), tail
    // anchored at n−64, single chunk when n ≤ 64
    "q308_chunk_docs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, n, toks, CAST(g.k AS BIGINT) AS chunk_idx,
        |        CAST(CASE WHEN n <= 64 THEN 0
        |             ELSE least(g.k * 48, n - 64) END AS BIGINT) AS chunk_start
        |      FROM t, LATERAL (SELECT unnest(generate_series(0,
        |        CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END)) AS k) g)
        |SELECT doc_id, n AS n_tokens, chunk_idx, chunk_start,
        |  array_to_string(toks[chunk_start + 1 : chunk_start + 64], ' ') AS chunk_text,
        |  CAST(least(64, n - chunk_start) AS BIGINT) AS chunk_tokens
        |FROM c""".stripMargin,
    // stored-expectation oracle (independent Python twin of the pinned
    // integer chroma pipeline wrote these columns)
    "q321_jpeg_color" ->
      s"""SELECT media_id, CAST(width AS INT) AS img_w, CAST(height AS INT) AS img_h,
         |  exp_rsum AS r_sum, exp_gsum AS g_sum, exp_bsum AS b_sum,
         |  exp_rhash_hi AS rhash_hi, exp_rhash_lo AS rhash_lo,
         |  exp_bhash_hi AS bhash_hi, exp_bhash_lo AS bhash_lo
         |FROM read_parquet('$media') WHERE exp_rsum IS NOT NULL""".stripMargin,
    // luma pairs replayed from regenerated pixels (the q277 machinery),
    // color verdict from the stored per-channel hashes
    "q322_color_neardup" ->
      s"""WITH $imageSampleCtes,
         |jm AS (SELECT media_id FROM read_parquet('$media') WHERE mime = 'image/jpeg'),
         |yp AS (
         |  SELECT a.media_id AS id_a, b.media_id AS id_b,
         |    CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS y_hamming
         |  FROM ibits a JOIN ibits b ON a.k = b.k AND a.media_id < b.media_id
         |  JOIN jm ja ON ja.media_id = a.media_id
         |  JOIN jm jb ON jb.media_id = b.media_id
         |  GROUP BY 1, 2 HAVING y_hamming <= 3),
         |cm AS (SELECT media_id, exp_rhash_hi, exp_rhash_lo, exp_bhash_hi,
         |         exp_bhash_lo FROM read_parquet('$media')),
         |j AS (SELECT yp.id_a, yp.id_b, yp.y_hamming,
         |        CAST(bit_count(xor(a.exp_rhash_hi, b.exp_rhash_hi))
         |           + bit_count(xor(a.exp_rhash_lo, b.exp_rhash_lo))
         |           + bit_count(xor(a.exp_bhash_hi, b.exp_bhash_hi))
         |           + bit_count(xor(a.exp_bhash_lo, b.exp_bhash_lo)) AS BIGINT)
         |          AS color_hamming
         |      FROM yp JOIN cm a ON a.media_id = yp.id_a
         |              JOIN cm b ON b.media_id = yp.id_b)
         |SELECT id_a, id_b, y_hamming, color_hamming,
         |  color_hamming <= 6 AS color_dup
         |FROM j""".stripMargin,
    // host formulas mirrored + the longest-suffix join REPLAYED against
    // the same psl table: candidates are the last 1..4 labels, best =
    // max label count, registrable = least(n, best+1) trailing labels,
    // unlisted falls back to least(n, 2)
    "q319_psl_domains" ->
      s"""WITH h AS (SELECT doc_id, $messyHostSql AS host FROM documents),
         |lab AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM h),
         |cand AS (SELECT doc_id, g.k AS k,
         |           array_to_string(ls[len(ls) - g.k + 1 : len(ls)], '.') AS suffix
         |         FROM lab, LATERAL (SELECT unnest(generate_series(1, least(4, len(ls)))) AS k) g),
         |hit AS (SELECT c.doc_id, max(c.k) AS bestk
         |        FROM cand c JOIN read_parquet('$pslFx') p USING (suffix)
         |        GROUP BY c.doc_id)
         |SELECT l.doc_id, l.host,
         |  array_to_string(
         |    l.ls[len(l.ls) - least(len(l.ls), coalesce(t.bestk + 1, 2)) + 1 : len(l.ls)],
         |    '.') AS registered_domain
         |FROM lab l LEFT JOIN hit t USING (doc_id)""".stripMargin,
    "q320_frontier_politeness" ->
      s"""WITH f AS (SELECT * FROM ($q307OracleSql)),
         |lab AS (SELECT host, string_split(host, '.') AS ls FROM f),
         |cand AS (SELECT host, g.k AS k,
         |           array_to_string(ls[len(ls) - g.k + 1 : len(ls)], '.') AS suffix
         |         FROM (SELECT DISTINCT host, ls FROM lab) x,
         |           LATERAL (SELECT unnest(generate_series(1, least(4, len(ls)))) AS k) g),
         |hit AS (SELECT c.host, max(c.k) AS bestk
         |        FROM cand c JOIN read_parquet('$pslFx') p USING (suffix)
         |        GROUP BY c.host),
         |rd AS (SELECT l.host,
         |         array_to_string(
         |           l.ls[len(l.ls) - least(len(l.ls), coalesce(t.bestk + 1, 2)) + 1 : len(l.ls)],
         |           '.') AS registered_domain
         |       FROM (SELECT DISTINCT host, ls FROM lab) l LEFT JOIN hit t USING (host))
         |SELECT rd.registered_domain,
         |  CAST(count(DISTINCT f.host) AS BIGINT) AS n_hosts,
         |  CAST(count(*) AS BIGINT) AS n_urls
         |FROM f JOIN rd USING (host)
         |GROUP BY 1""".stripMargin,
    // stored-expectation oracle: label + decoded text were written by
    // the fixture generator independently of the engine's byte walk
    "q312_warc_charset" ->
      s"""SELECT url, charset, text
         |FROM read_parquet('$warcCharsetPages')""".stripMargin,
    // stored-expectation oracle: the de-framed/inflated/decoded text was
    // written by the fixture generator independently of the engine walk
    "q337_warc_http_decode" ->
      s"""SELECT url, charset, text
         |FROM read_parquet('$warcHttpPages')""".stripMargin,
    // pack-and-recover: the engine inflates the br column and reports
    // (length, md5); the oracle recomputes both from the independently
    // stored payload — a single wrong byte anywhere flips the digest
    "q349_brotli_decode" ->
      s"""SELECT vec_id, CAST(octet_length(payload) AS BIGINT) AS n_out,
         |  md5(hex(payload)) AS digest
         |FROM read_parquet('$brotliVectors')""".stripMargin,
    // pack-and-recover: status/digest recomputed from the packed source
    // (q295 formulas) over the lookup's deterministic url sample; the
    // engine side serves them from the WRITTEN index buckets alone
    "q324_cdx_lookup" ->
      s"""SELECT url, CAST(doc_id % 6 AS BIGINT) AS shard_id,
         |  CAST(CASE WHEN doc_id % 53 = 7 THEN 404
         |            WHEN doc_id % 53 = 21 THEN 301 ELSE 200 END AS INT) AS http_status,
         |  md5(CASE WHEN doc_id % 53 = 21 THEN '' ELSE html END) AS body_md5
         |FROM read_parquet('$htmlDocs') WHERE doc_id % 10 = 3""".stripMargin,
    // same truth through the random-access path: every re-fetched body
    // must hash identically to the packed source
    "q325_cdx_fetch" ->
      s"""SELECT url,
         |  CAST(CASE WHEN doc_id % 53 = 7 THEN 404
         |            WHEN doc_id % 53 = 21 THEN 301 ELSE 200 END AS INT) AS http_status,
         |  md5(CASE WHEN doc_id % 53 = 21 THEN '' ELSE html END) AS body_md5
         |FROM read_parquet('$htmlDocs') WHERE doc_id % 10 = 3""".stripMargin,
    // the identical regex chain over the packed pages (pattern
    // interpolated from the operator's constant), restricted to the
    // status-200 population the WARC walk serves
    "q326_link_graph" ->
      s"""WITH pages AS (
         |  SELECT url, html FROM read_parquet('$htmlDocs')
         |  WHERE doc_id % 53 NOT IN (7, 21)),
         |lk AS (SELECT url AS src,
         |         unnest(regexp_extract_all(html, '${Html.HrefPattern}', 1)) AS href
         |       FROM pages),
         |rr AS (SELECT src,
         |         ${Html.resolveHrefSqlFor("src", "href")} AS dst
         |       FROM lk)
         |SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |FROM rr WHERE dst IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // the SAME interpolated resolution formula over the branch-coverage
    // fixture — relative/dot-segment/protocol-relative hrefs included
    "q336_link_resolve" ->
      s"""WITH lk AS (SELECT url AS src,
         |         unnest(regexp_extract_all(html, '${Html.HrefPattern}', 1)) AS href
         |       FROM read_parquet('$linkPagesFx')),
         |rr AS (SELECT src,
         |         ${Html.resolveHrefSqlFor("src", "href")} AS dst
         |       FROM lk)
         |SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |FROM rr WHERE dst IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // the q109 unrolled integer fixed point over the q326 edges — link
    // targets dangle (no out-edges), exactly the operator's pinned
    // dangling semantics
    "q327_crawl_rank" -> {
      def iterCte(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT n.node,
           |    (SELECT base15 FROM consts) +
           |      (85 * COALESCE(c.s, 0)) // 100 AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT p.dst, CAST(sum((r.rank * p.p) // 1000000) AS BIGINT) AS s
           |    FROM p JOIN $prev r ON p.src = r.node GROUP BY p.dst) c
           |  ON n.node = c.dst)""".stripMargin
      s"""WITH pages AS (
         |  SELECT url, html FROM read_parquet('$htmlDocs')
         |  WHERE doc_id % 53 NOT IN (7, 21)),
         |lk AS (SELECT url AS src,
         |         unnest(regexp_extract_all(html, '${Html.HrefPattern}', 1)) AS href
         |       FROM pages),
         |rr AS (SELECT src,
         |         ${Html.resolveHrefSqlFor("src", "href")} AS dst
         |       FROM lk),
         |e AS (SELECT src, dst, count(*) AS w
         |      FROM rr WHERE dst IS NOT NULL GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY src),
         |p AS (SELECT e.src, e.dst, (e.w * 1000000) // outw.ow AS p
         |      FROM e JOIN outw ON e.src = outw.src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |consts AS (
         |  SELECT 1000000000000 // count(*) AS base,
         |         (15 * (1000000000000 // count(*))) // 100 AS base15
         |  FROM nodes),
         |r0 AS (SELECT node, (SELECT base FROM consts) AS rank FROM nodes),
         |${iterCte("r0", "r1")},
         |${iterCte("r1", "r2")},
         |${iterCte("r2", "r3")}
         |SELECT node AS url, rank FROM r3""".stripMargin
    },
    // the maintenance path must be indistinguishable from a fresh build
    "q328_cdx_append" ->
      s"""SELECT url, CAST(doc_id % 6 AS BIGINT) AS shard_id,
         |  CAST(CASE WHEN doc_id % 53 = 7 THEN 404
         |            WHEN doc_id % 53 = 21 THEN 301 ELSE 200 END AS INT) AS http_status,
         |  md5(CASE WHEN doc_id % 53 = 21 THEN '' ELSE html END) AS body_md5
         |FROM read_parquet('$htmlDocs') WHERE doc_id % 10 = 3""".stripMargin,
    // the WRITER's exact bytes rebuilt from the pinned record layout —
    // record order (url), every header, the byte-length Content-Length,
    // and the separators all land in one md5 per shard
    "q329_warc_write" ->
      s"""WITH r AS (SELECT doc_id % 8 AS shard_id,
         |    'https://corpus.local/doc' || doc_id AS url, text FROM documents),
         |rec AS (SELECT shard_id, url,
         |    'WARC/1.0' || chr(13) || chr(10) ||
         |    'WARC-Type: conversion' || chr(13) || chr(10) ||
         |    'WARC-Target-URI: ' || url || chr(13) || chr(10) ||
         |    'WARC-Date: $WetDate' || chr(13) || chr(10) ||
         |    'Content-Type: text/plain' || chr(13) || chr(10) ||
         |    'Content-Length: ' || strlen(text) || chr(13) || chr(10) ||
         |    chr(13) || chr(10) || text ||
         |    chr(13) || chr(10) || chr(13) || chr(10) AS bytes
         |  FROM r)
         |SELECT CAST(shard_id AS BIGINT) AS shard_id,
         |  CAST(strlen(string_agg(bytes, '' ORDER BY url)) AS BIGINT) AS payload_bytes,
         |  md5(string_agg(bytes, '' ORDER BY url)) AS payload_md5
         |FROM rec GROUP BY shard_id""".stripMargin,
    // gz bytes are deflate-parameter-dependent — the contract is the
    // ROUND-TRIP: the engine's walk must recover every record exactly
    "q330_wet_roundtrip" ->
      s"""SELECT 'https://corpus.local/doc' || doc_id AS url,
         |  'conversion' AS warc_type,
         |  CAST(strlen(text) AS BIGINT) AS block_len,
         |  md5(text) AS body_md5
         |FROM documents""".stripMargin,
    // WAT shard bytes rebuilt whole: json body from the q295 packing
    // formulas (status/ctype/body/link-count), then the pinned record
    // layout, records in url order, one md5 per assembled shard
    "q335_wat_export" -> {
      val crlf = "chr(13) || chr(10)"
      s"""WITH d AS (
         |  SELECT doc_id % 6 AS shard_id, url,
         |    CASE WHEN doc_id % 53 = 7 THEN 404
         |         WHEN doc_id % 53 = 21 THEN 301 ELSE 200 END AS st,
         |    CASE WHEN doc_id % 10 = 3 THEN 'Text/HTML; charset=utf-8'
         |         ELSE 'text/html; charset=utf-8' END AS ct,
         |    CASE WHEN doc_id % 53 = 21 THEN '' ELSE html END AS body
         |  FROM read_parquet('$htmlDocs')),
         |j AS (SELECT shard_id, url,
         |    '{"url":"' || url || '","status":' || st ||
         |    ',"content_type":"' || ct || '","body_bytes":' || strlen(body) ||
         |    ',"n_links":' || len(regexp_extract_all(body, '${Html.HrefPattern}', 1)) ||
         |    '}' AS js
         |  FROM d),
         |rec AS (SELECT shard_id, url,
         |    'WARC/1.0' || $crlf || 'WARC-Type: metadata' || $crlf ||
         |    'WARC-Target-URI: ' || url || $crlf ||
         |    'WARC-Date: $WetDate' || $crlf ||
         |    'Content-Type: application/json' || $crlf ||
         |    'Content-Length: ' || strlen(js) || $crlf || $crlf ||
         |    js || $crlf || $crlf AS bytes
         |  FROM j)
         |SELECT CAST(shard_id AS BIGINT) AS shard_id,
         |  CAST(strlen(string_agg(bytes, '' ORDER BY url)) AS BIGINT) AS payload_bytes,
         |  md5(string_agg(bytes, '' ORDER BY url)) AS payload_md5
         |FROM rec GROUP BY shard_id""".stripMargin
    },
    // pack-and-recover: the Location header is a packing formula and the
    // canonical form is the STATED intent per q300 rule class
    "q332_redirect_map" ->
      s"""SELECT url,
         |  CASE WHEN doc_id % 2 = 0
         |    THEN 'HTTPS://EXAMPLE.com:443/doc' || (doc_id - 1) ||
         |         '?utm_source=crawl#frag'
         |    ELSE 'HTTPS://EXAMPLE.com:443/doc' || doc_id ||
         |         '/moved?utm_source=crawl&b=2&a=1#frag' END AS location,
         |  CASE WHEN doc_id % 2 = 0
         |    THEN 'https://example.com/doc' || (doc_id - 1)
         |    ELSE 'https://example.com/doc' || doc_id || '/moved?a=1&b=2'
         |  END AS canonical_target
         |FROM read_parquet('$htmlDocs') WHERE doc_id % 53 = 21""".stripMargin,
    // the q307 frontier + the STORED per-site delay expectation, the
    // same FIFO window and k*max(1,d) wave formula
    "q339_crawl_delay_schedule" ->
      s"""WITH f AS (SELECT * FROM ($q307OracleSql)),
         |d AS (SELECT site, exp_crawl_delay FROM read_parquet('$robotsFx')
         |      WHERE exp_crawl_delay IS NOT NULL),
         |j AS (SELECT f.canonical_url, f.host,
         |        CAST(coalesce(d.exp_crawl_delay, 1) AS BIGINT) AS crawl_delay
         |      FROM f LEFT JOIN d ON f.host = d.site)
         |SELECT canonical_url, host, crawl_delay,
         |  CAST((row_number() OVER (PARTITION BY host ORDER BY canonical_url) - 1)
         |       * greatest(crawl_delay, 1) AS BIGINT) AS wave
         |FROM j""".stripMargin,
    // the identical comment-strip + key-match + remainder-value line
    // walk in SQL over the same robots bytes; ord = per-site file order
    "q346_robots_sitemaps" ->
      s"""WITH f AS (SELECT site,
         |    string_split(replace(robots_txt, chr(13), ''), chr(10)) AS ls
         |  FROM read_parquet('$robotsFx')),
         |l AS (SELECT site, g.i AS li,
         |    trim(regexp_replace(ls[g.i], '#.*$$', ''), ' ' || chr(9)) AS line
         |  FROM f, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) g),
         |sm AS (SELECT site, li,
         |    trim(substr(line, strpos(line, ':') + 1), ' ' || chr(9)) AS u
         |  FROM l
         |  WHERE strpos(line, ':') > 1
         |    AND lower(trim(substr(line, 1, strpos(line, ':') - 1),
         |                   ' ' || chr(9))) = 'sitemap')
         |SELECT site,
         |  CAST(row_number() OVER (PARTITION BY site ORDER BY li) - 1 AS BIGINT) AS ord,
         |  u AS sitemap_url
         |FROM sm WHERE u <> ''""".stripMargin,
    // stored-expectation oracle: the generator's Python twin replays the
    // same bounded iteration over the same canonicalized edges
    "q338_redirect_chains" ->
      s"""SELECT url, terminal_url, n_hops, unterminated
         |FROM read_parquet('$redirectExpected')""".stripMargin,
    // the redirect targets through the robots longest-match replay (the
    // example.com rule set, wildcard patterns via the shared conversion)
    "q333_redirect_frontier" ->
      s"""WITH t AS (SELECT DISTINCT doc_id,
         |    CASE WHEN doc_id % 2 = 0
         |      THEN 'https://example.com/doc' || (doc_id - 1)
         |      ELSE 'https://example.com/doc' || doc_id || '/moved?a=1&b=2'
         |    END AS cu,
         |    CASE WHEN doc_id % 2 = 0 THEN '/doc' || (doc_id - 1)
         |         ELSE '/doc' || doc_id || '/moved' END AS path
         |  FROM read_parquet('$htmlDocs') WHERE doc_id % 53 = 21),
         |r AS (SELECT site, exp_allow[i.i] AS allow, exp_path[i.i] AS rule_path
         |      FROM read_parquet('$robotsFx'),
         |        LATERAL (SELECT unnest(generate_series(1, len(exp_path))) AS i) i),
         |j AS (SELECT t.cu, t.path, r.allow, r.rule_path
         |      FROM t LEFT JOIN r ON r.site = 'example.com'
         |       AND regexp_matches(t.path, ${graft.operators.Robots.patternRegexSqlFor("r.rule_path")})),
         |b AS (SELECT *, row_number() OVER (PARTITION BY cu
         |        ORDER BY len(rule_path) DESC NULLS LAST,
         |                 allow DESC NULLS LAST,
         |                 rule_path DESC NULLS LAST) AS rn FROM j)
         |SELECT cu AS canonical_url, coalesce(allow, TRUE) AS allowed,
         |  coalesce(rule_path, '') AS matched_rule
         |FROM b WHERE rn = 1""".stripMargin,
    // the q307 frontier + the q320 PSL longest-match domain machinery,
    // then the wave window replayed verbatim
    "q331_frontier_schedule" ->
      s"""WITH f AS (SELECT * FROM ($q307OracleSql)),
         |lab AS (SELECT host, string_split(host, '.') AS ls FROM f),
         |cand AS (SELECT host, g.k AS k,
         |           array_to_string(ls[len(ls) - g.k + 1 : len(ls)], '.') AS suffix
         |         FROM (SELECT DISTINCT host, ls FROM lab) x,
         |           LATERAL (SELECT unnest(generate_series(1, least(4, len(ls)))) AS k) g),
         |hit AS (SELECT c.host, max(c.k) AS bestk
         |        FROM cand c JOIN read_parquet('$pslFx') p USING (suffix)
         |        GROUP BY c.host),
         |rd AS (SELECT l.host,
         |         array_to_string(
         |           l.ls[len(l.ls) - least(len(l.ls), coalesce(t.bestk + 1, 2)) + 1 : len(l.ls)],
         |           '.') AS registered_domain
         |       FROM (SELECT DISTINCT host, ls FROM lab) l LEFT JOIN hit t USING (host)),
         |j AS (SELECT f.canonical_url, rd.registered_domain
         |      FROM f JOIN rd USING (host))
         |SELECT canonical_url, registered_domain,
         |  CAST((row_number() OVER (PARTITION BY registered_domain
         |          ORDER BY canonical_url) - 1) // 2 AS BIGINT) AS wave
         |FROM j""".stripMargin,
    "q299_paragraph_hist_screen" ->
      s"""WITH $htmlBlockCtes,
         |hist AS (SELECT DISTINCT text AS ht FROM hblk WHERE doc_id < 150)
         |SELECT doc_id, count(*) AS n_pars,
         |  CAST(sum(CASE WHEN ht IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_hist,
         |  CAST(sum(CASE WHEN ht IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
         |FROM hblk LEFT JOIN hist ON hblk.text = hist.ht
         |WHERE doc_id >= 150
         |GROUP BY doc_id""".stripMargin,
    "q49_pii_redact" -> {
      val augSql =
        """text || ' contact user' || doc_id || '@example.com from ip 10.0.0.' ||
          |    (doc_id % 256) || ' acct 9' || lpad((doc_id % 100000)::VARCHAR, 7, '0')""".stripMargin
      s"""WITH aug AS (SELECT doc_id, $augSql AS t FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$emailPattern', '<EMAIL>', 'g'),
         |    '$ipv4Pattern', '<IP>', 'g'),
         |    '$longNumPattern', '<ID>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(t, '$emailPattern')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$ipv4Pattern')) AS BIGINT) AS n_ips
         |FROM aug""".stripMargin
    },
    // the oracle rebuilds the KMV sketch relationally: distinct 60-bit md5
    // hashes, rank per group, k-th smallest -> same two IEEE ops as eval()
    "q53_kmv_distinct" ->
      """WITH t AS (
        |  SELECT lang, tok, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
        |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok FROM documents)),
        |d AS (SELECT DISTINCT lang, h FROM t),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM d),
        |a AS (
        |  SELECT lang, count(*) AS n,
        |    max(CASE WHEN rn <= 16 THEN h END) AS kth
        |  FROM r GROUP BY lang),
        |x AS (SELECT lang, count(DISTINCT tok) AS exact_distinct FROM t GROUP BY lang)
        |SELECT a.lang,
        |  CASE WHEN a.n < 16 THEN CAST(a.n AS DOUBLE)
        |       ELSE 15.0 * 1152921504606846976 / kth END AS kmv_estimate,
        |  x.exact_distinct
        |FROM a JOIN x USING (lang)""".stripMargin,
    "q50_source_mix" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
        |FROM documents
        |WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
        |      < 100 - 4 * substr(source, 4)::INT
        |GROUP BY source""".stripMargin,
    "q254_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS words,
        |    CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
        |      AS surface
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(words) AS BIGINT) AS n_words,
        |  CAST(sum(surface) AS BIGINT) AS n_surface,
        |  CAST(sum(surface) * 1000 // greatest(1, sum(words)) AS BIGINT)
        |    AS fertility_permille
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q34_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS n_types,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_surface_tokens,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace_chars,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,
    "q35_quality_score" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      x -> x IN (${stopwords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_stopwords,
         |    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace_chars
         |  FROM documents)
         |SELECT doc_id, n_tokens, n_stopwords, n_punct, n_nonspace_chars,
         |  n_stopwords / n_tokens AS stopword_ratio,
         |  n_nonspace_chars / n_tokens AS mean_token_len,
         |  (n_tokens >= 10 AND n_tokens <= 1000 AND n_stopwords / n_tokens >= 0.02) AS is_quality
         |FROM base""".stripMargin,
    "q36_lang_id" -> {
      val hitCols = langLex.map { case (l, lex) =>
        s"""CAST(len(list_filter(string_split(lower(text), ' '),
           |      x -> x IN (${lex.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_$l""".stripMargin
      }.mkString(",\n  ")
      s"""WITH base AS (
         |  SELECT doc_id, $hitCols
         |  FROM documents)
         |SELECT doc_id, n_en, n_es, n_de,
         |  CASE WHEN n_en = 0 AND n_es = 0 AND n_de = 0 THEN 'und'
         |       WHEN n_en >= n_es AND n_en >= n_de THEN 'en'
         |       WHEN n_es >= n_de THEN 'es'
         |       ELSE 'de' END AS predicted_lang
         |FROM base""".stripMargin
    },
    "q60_langid_ngram" -> {
      val hitCols = trigramProfiles.map { case (l, prof) =>
        s"""CAST(len(list_filter(list_transform(generate_series(1, length(text) - 2),
           |      i -> substring(text, i, 3)),
           |    t -> t IN (${prof.map(p => s"'$p'").mkString(", ")}))) AS BIGINT) AS tg_$l""".stripMargin
      }.mkString(",\n  ")
      s"""WITH base AS (
         |  SELECT doc_id, $hitCols
         |  FROM documents)
         |SELECT doc_id, tg_en, tg_es, tg_de,
         |  CASE WHEN tg_en = 0 AND tg_es = 0 AND tg_de = 0 THEN 'und'
         |       WHEN tg_en >= tg_es AND tg_en >= tg_de THEN 'en'
         |       WHEN tg_es >= tg_de THEN 'es'
         |       ELSE 'de' END AS predicted_lang
         |FROM base""".stripMargin
    },
    "q61_rare_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
        |  FROM documents),
        |dfs AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok)
        |SELECT t.doc_id,
        |  CAST(row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS INT) AS rank,
        |  t.tok, d.df
        |FROM toks t JOIN dfs d USING (tok)
        |QUALIFY rank <= 3""".stripMargin,
    // the all-pairs losers CTE is a construction-level match: the engine's
    // near-dup stage is the EXACT prefix-filtered index (recall 1.0 by the
    // prefix-filter theorem), not probabilistic LSH — no fixture-dependent
    // recall assumption hides here
    "q64_corpus_clean" ->
      s"""WITH $corpusSurvivorCtes
         |SELECT doc_id, md5(text) AS fp FROM surv""".stripMargin,
    "q66_token_quantiles" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT lang, n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM t)
        |SELECT lang,
        |  max(CASE WHEN rn = (n * 10 + 99) // 100 THEN n_tokens END) AS p10_tokens,
        |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_tokens END) AS p50_tokens,
        |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_tokens END) AS p90_tokens,
        |  count(*) AS n_docs
        |FROM r GROUP BY lang""".stripMargin,
    "q71_token_budget" ->
      """SELECT doc_id, source, n_tokens, cum FROM (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM (SELECT doc_id, source,
        |          CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        |        FROM documents))
        |WHERE cum <= 800""".stripMargin,
    "q80_source_rebalance" ->
      """SELECT source,
        |  CAST(('0x' || substring(md5(source), 1, 8))::BIGINT % 50 + 50 AS BIGINT)
        |    AS keep_rate_pct,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN
        |      ('0x' || substring(md5(source || ':' || doc_id::VARCHAR), 1, 8))::BIGINT % 100
        |        < ('0x' || substring(md5(source), 1, 8))::BIGINT % 50 + 50
        |      THEN 1 END) AS BIGINT) AS n_kept
        |FROM documents
        |GROUP BY 1, 2""".stripMargin,
    // rank()-1 = count of strictly-lower rows: the oracle's per-source
    // rank window IS the single-task shape the engine's PrefixSum avoids
    "q78_quality_deciles" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS score
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, score,
        |    rank() OVER (PARTITION BY source ORDER BY score) - 1 AS below,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM t)
        |SELECT doc_id, source, score,
        |  CAST((10 * below) // n AS BIGINT) AS decile
        |FROM r""".stripMargin,
    // the oracle's global rank window is the single-task sort the engine
    // must never plan; same (hash, doc_id) total order, same positions
    "q76_global_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id)
        |    AS BIGINT) AS pos,
        |  CAST((row_number() OVER (
        |    ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id) - 1) // 100
        |    AS BIGINT) AS shard
        |FROM documents""".stripMargin,
    // the oracle joins batch x history ALL-PAIRS on exact hamming
    // (affordable at verification scale); the engine's banded equi-join
    // finds the identical matches because 4x15-bit banding is exhaustive
    // for hamming <= 3 by pigeonhole
    "q75_incremental_neardup" ->
      s"""WITH $simhashCtes,
         |hist AS (SELECT doc_id, simhash FROM sigs WHERE doc_id % 2 = 0),
         |n AS (SELECT doc_id, simhash FROM sigs WHERE doc_id % 2 = 1),
         |m AS (
         |  SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |    min(hist.doc_id) AS nearest
         |  FROM n JOIN hist ON bit_count(xor(n.simhash, hist.simhash)) <= 3
         |  GROUP BY n.doc_id)
         |SELECT n.doc_id,
         |  CAST(COALESCE(m.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(m.nearest, -1) AS BIGINT) AS nearest_hist_id,
         |  COALESCE(m.n_hits, 0) > 0 AS is_dup
         |FROM n LEFT JOIN m USING (doc_id)""".stripMargin,
    // the recursive CTE computes full reachability (affordable at
    // verification scale); the engine's min-label fixpoint reaches the
    // identical per-component minimum — both are "min id reachable from me"
    "q74_neardup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  $pairsFrom),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |reach(src, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.src),
         |lab AS (SELECT src AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
         |FROM lab""".stripMargin,
    // keeper = first (doc_id, chunk_idx) occurrence of each chunk CONTENT:
    // the oracle's rank window over the raw chunk string selects exactly
    // the engine's min(struct) over the md5-grouped table
    "q72_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |nums AS (SELECT doc_id, w, unnest(generate_series(1, (len(w)+9)//10)) AS i FROM d),
        |c2 AS (
        |  SELECT doc_id, i - 1 AS chunk_idx,
        |    array_to_string(w[((i-1)*10+1):(i*10)], ' ') AS chunk
        |  FROM nums),
        |keep AS (
        |  SELECT doc_id, chunk_idx, chunk FROM c2
        |  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks_kept,
        |    string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text
        |  FROM keep GROUP BY doc_id)
        |SELECT d.doc_id, CAST((len(d.w)+9)//10 AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(a.n_chunks_kept, 0) AS BIGINT) AS n_chunks_kept,
        |  COALESCE(a.clean_text, '') AS clean_text
        |FROM d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q73_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 20 = 0 AS eval,
        |    list_distinct(list_transform(generate_series(1, len(w)-4),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
        |eg AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE eval),
        |tg AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE NOT eval),
        |ov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |       FROM tg WHERE gram IN (SELECT gram FROM eg) GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.s) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  COALESCE(o.n_overlap, 0) > 0 AS contaminated
        |FROM sh t LEFT JOIN ov o USING (doc_id) WHERE NOT t.eval""".stripMargin,
    // the rank window is AFFORDABLE for the oracle (verification scale);
    // the engine side must never plan one — that asymmetry is the point
    "q70_top_per_source" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS INT) AS rank,
        |  doc_id, n_tokens
        |FROM t
        |QUALIFY rank <= 3""".stripMargin,
    // the oracle rebuilds the engine's fixed-edge histogram relationally:
    // same integer bucket edges (width 16, clamp at 1024), same
    // 100*cum >= q*n rank test, same (bkt+1)*width upper-edge estimate
    "q69_hist_quantile" ->
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v
        |  FROM documents),
        |b AS (SELECT lang, LEAST(v // 16, 1024) AS bkt, count(*) AS c FROM t GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, bkt, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY bkt) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM b)
        |SELECT lang,
        |  CAST(min(CASE WHEN 100*cum >= 50*n THEN (bkt+1)*16 END) AS BIGINT) AS p50_est,
        |  CAST(min(CASE WHEN 100*cum >= 90*n THEN (bkt+1)*16 END) AS BIGINT) AS p90_est,
        |  CAST(max(n) AS BIGINT) AS n_docs
        |FROM r GROUP BY lang""".stripMargin,
    "q65_split" ->
      """SELECT source,
        |  CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90 THEN 'train'
        |       WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
        |FROM documents
        |GROUP BY 1, 2""".stripMargin,
    "q62_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(w) - 1 AS BIGINT) AS n_bigrams,
        |    CAST(len(list_distinct(list_transform(generate_series(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1]))) AS BIGINT) AS n_distinct_bigrams
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))
        |SELECT doc_id, n_bigrams, n_distinct_bigrams,
        |  (n_bigrams - n_distinct_bigrams) / n_bigrams AS dup_ratio,
        |  (n_bigrams - n_distinct_bigrams) / n_bigrams > 0.2 AS is_repetitive
        |FROM base WHERE n_bigrams > 0""".stripMargin,
    "q63_seq_packing" ->
      """SELECT doc_id, source, n_tokens,
        |  CAST((CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 1024 AS BIGINT) AS bin
        |FROM (SELECT doc_id, source,
        |        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        |      FROM documents)""".stripMargin,
    "q37_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce([0::BIGINT] || list_transform(generate_series(1, length(text)),
        |    i -> ascii(text[i])::BIGINT), (a, b) -> (a*31 + b) % 1000000007) AS poly_fp,
        |  md5(text) AS md5_fp
        |FROM documents""".stripMargin,
    "q264_dedup_ladder" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
        |keep AS (
        |  SELECT md5(text) AS fp, min(doc_id) AS keeper_id
        |  FROM corpus GROUP BY 1),
        |es AS (
        |  SELECT c.doc_id, c.text FROM corpus c
        |  JOIN keep k ON c.doc_id = k.keeper_id),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM es)
        |  WHERE len(w) >= 3),
        |losers AS (
        |  SELECT DISTINCT b.doc_id AS doc_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE 5*len(list_intersect(a.s, b.s)) >= 4*len(list_distinct(a.s || b.s)))
        |SELECT c.doc_id,
        |  CASE WHEN k.keeper_id IS NULL THEN 'exact_dup'
        |       WHEN l.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'kept' END AS fate
        |FROM corpus c
        |LEFT JOIN keep k ON c.doc_id = k.keeper_id
        |LEFT JOIN losers l ON c.doc_id = l.doc_id""".stripMargin,
    "q38_neardup_dedup" ->
      s"""WITH $shingleCte,
         |losers AS (SELECT DISTINCT b.doc_id AS id_b $pairsFrom)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM losers)""".stripMargin,
    // q42 is the exact inverted-index path: recall is provably 1.0, so the
    // oracle is the SAME all-pairs query as q28 — no mirroring of the index.
    "q42_jaccard_exact" ->
      s"""WITH $shingleCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
         |  CAST(len(list_distinct(a.s || b.s)) AS BIGINT) AS n_union
         |$pairsFrom""".stripMargin,
    // the oracle RETRAINS the quantizer: same sample (vec_id % 10, ascending,
    // capped), same init (first 4), same argmax-cos assignment (QUALIFY cos
    // DESC, j ASC mirrors the engine's strict-> scan), same per-dimension
    // ordered-left-fold mean / count — so centroids, cells, and NNs all match
    // the derived-k twin of q46: kk (= greatest(2, floor(sqrt(n)))) sits
    // INSIDE the oracle, so the adaptive sizing is itself hash-checked
    "q263_ivf_derived_k" ->
      s"""WITH $ivfAssignCtesDerived,
         |nn AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM assign a JOIN assign b ON a.j = b.j AND a.vec_id <> b.vec_id)
         |SELECT vec_id, nn_id FROM nn
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) = 1""".stripMargin,
    // same k=4 quantizer chain as q46; then the 60-bit sign signature,
    // the counting-threshold Hamming cut (h* = max ham with < 8 strictly
    // closer; survivors ham <= h*, ties included), and the exact cosine
    // rerank are replayed in SQL
    "q266_ivf_bq_rerank" ->
      s"""WITH $ivfAssignCtes,
         |sig AS (
         |  SELECT vec_id, j, embedding,
         |    list_reduce(list_transform(generate_series(1, 60), i ->
         |      CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1))
         |           ELSE 0::BIGINT END), (x, y) -> x + y) AS sg
         |  FROM assign),
         |cand AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    CAST(bit_count(xor(a.sg, b.sg)) AS BIGINT) AS ham,
         |    a.embedding AS ea, b.embedding AS eb
         |  FROM sig a JOIN sig b ON a.j = b.j AND a.vec_id <> b.vec_id),
         |hist AS (SELECT vec_id, ham, count(*) AS c FROM cand GROUP BY 1, 2),
         |thr AS (
         |  SELECT vec_id, max(ham) AS hstar FROM (
         |    SELECT vec_id, ham,
         |      sum(c) OVER (PARTITION BY vec_id ORDER BY ham) - c AS before
         |    FROM hist)
         |  WHERE before < 8 GROUP BY vec_id),
         |topc AS (
         |  SELECT c.vec_id, c.nn_id, c.ea, c.eb
         |  FROM cand c JOIN thr t ON c.vec_id = t.vec_id AND c.ham <= t.hstar)
         |SELECT vec_id, nn_id FROM (
         |  SELECT vec_id, nn_id, ${cosSql("ea", "eb")} AS cos FROM topc)
         |QUALIFY row_number() OVER (PARTITION BY vec_id
         |  ORDER BY cos DESC, nn_id) = 1""".stripMargin,
    "q46_ivf_trained_nn" ->
      s"""WITH $ivfAssignCtes,
         |nn AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM assign a JOIN assign b ON a.j = b.j AND a.vec_id <> b.vec_id)
         |SELECT vec_id, nn_id FROM nn
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) = 1""".stripMargin,
    "q43_cosine_neardup" -> {
      val buckets = (0 until 4).map(t =>
        s"${lshBucketSql("embedding", 8, planeOffset = t * 8)} AS b$t").mkString(",\n    ")
      val anyTable = (0 until 4).map(t => s"a.b$t = b.b$t").mkString(" OR ")
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(generate_series(1, len(embedding)),
         |      i -> CASE WHEN i = 1 THEN CAST(embedding[i]::DOUBLE * 1.05 AS FLOAT)
         |           ELSE embedding[i] END)
         |  FROM embeddings WHERE vec_id % 20 = 0),
         |bk AS (
         |  SELECT vec_id, embedding,
         |    ${buckets}
         |  FROM corpus)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cos
         |FROM bk a JOIN bk b
         |  ON a.vec_id < b.vec_id AND ($anyTable)
         |WHERE ${cosSql("a.embedding", "b.embedding")} * 1000 >= 999""".stripMargin
    },
    "q83_source_overlap" ->
      """WITH h AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents),
        |sk AS (
        |  SELECT source, h FROM h
        |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 16),
        |arr AS (SELECT source, list(h ORDER BY h) AS hs FROM sk GROUP BY source),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    a.hs AS ha, b.hs AS hb,
        |    list_sort(list_distinct(a.hs || b.hs)) AS u
        |  FROM arr a JOIN arr b ON a.source < b.source),
        |q AS (
        |  SELECT source_a, source_b, ha, hb,
        |    CAST(least(16, len(u)) AS BIGINT) AS k_used,
        |    u[least(16, len(u))] AS theta
        |  FROM p)
        |SELECT source_a, source_b,
        |  CAST(len(list_filter(list_intersect(ha, hb), x -> x <= theta)) AS BIGINT) AS n_common,
        |  k_used,
        |  CAST(len(list_filter(list_intersect(ha, hb), x -> x <= theta)) AS DOUBLE)
        |    / CAST(k_used AS DOUBLE) AS jaccard_est
        |FROM q""".stripMargin,
    "q84_kmeans_iteration" ->
      s"""WITH $ivfAssignCtes,
         |dims AS (
         |  SELECT unnest(generate_series(1,
         |    (SELECT max(len(embedding)) FROM embeddings))) AS dim)
         |SELECT a.j AS cluster, CAST(d.dim AS BIGINT) AS dim,
         |  CAST(sum(CAST(a.embedding[d.dim]::DOUBLE AS DECIMAL(18,6))) AS DOUBLE)
         |    / CAST(count(*) AS BIGINT) AS c_new,
         |  CAST(count(*) AS BIGINT) AS n_points
         |FROM assign a CROSS JOIN dims d
         |GROUP BY 1, 2""".stripMargin,
    "q85_normalize_dedup" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_distinct,
        |  CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS BIGINT) AS n_norm_distinct
        |FROM documents GROUP BY source""".stripMargin,
    "q87_ngram_boilerplate" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-4),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS gram
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 5)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM g GROUP BY gram
        |ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin,
    "q88_bpe_tokens" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text,
        |      '''[a-z]+| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 '']+| +')) AS BIGINT) AS bpe
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS bpe_per_ws
        |FROM t GROUP BY source""".stripMargin,
    "q91_multiprobe_nn" ->
      s"""WITH $ivfAssignCtes,
         |probes AS (
         |  SELECT vec_id, embedding, j FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, j ASC) <= 2),
         |nn AS (
         |  SELECT DISTINCT p.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${cosSql("p.embedding", "b.embedding")} AS cos
         |  FROM probes p JOIN assign b ON p.j = b.j AND p.vec_id <> b.vec_id)
         |SELECT vec_id, nn_id FROM nn
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) = 1""".stripMargin,
    // range(0, n, 48) (end-exclusive) = sequence(0, n-1, 48) (end-inclusive);
    // list_slice clamps at the list end exactly like Spark's slice
    "q95_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS off FROM t)
        |SELECT doc_id, CAST(off // 48 AS BIGINT) AS chunk_idx,
        |  CAST(least(64, n - off) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(list_slice(toks, off + 1, off + 64), ' ')) AS chunk_md5
        |FROM c""".stripMargin,
    // all-pairs quadratic containment scan — the semantics the prefix-
    // filtered index provably equals (recall 1.0), affordable only at
    // oracle fixture size
    "q96_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id,
        |    array_to_string(list_slice(w, 1, greatest(3, (len(w) * 3) // 5)), ' ') AS text
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
        |        FROM documents WHERE doc_id % 5 = 0)),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM corpus)
        |  WHERE len(w) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
        |  CAST(len(a.s) AS BIGINT) AS sz_a
        |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |WHERE 10 * len(list_intersect(a.s, b.s)) >= 9 * len(a.s)""".stripMargin,
    "q160_pmi_pairs" ->
      """WITH toks AS (
        |  SELECT string_split(lower(text), ' ') AS w FROM documents),
        |uni AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni),
        |pairs AS (
        |  SELECT least(w[i], w[i + o]) AS wa, greatest(w[i], w[i + o]) AS wb,
        |    CAST(count(*) AS BIGINT) AS cab
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) ix,
        |    (SELECT unnest(generate_series(1, 3)) AS o) os
        |  WHERE i + o <= len(w)
        |  GROUP BY 1, 2)
        |SELECT wa, wb, cab,
        |  CAST((cab::HUGEINT * t * t * 1000) // (ua.c::HUGEINT * ub.c) AS BIGINT)
        |    AS pmi_x1000
        |FROM pairs
        |CROSS JOIN tot
        |JOIN uni ua ON ua.tok = wa
        |JOIN uni ub ON ub.tok = wb
        |WHERE ua.c >= 20 AND ub.c >= 20
        |ORDER BY pmi_x1000 DESC, wa, wb
        |LIMIT 50""".stripMargin,
    "q161_otsu_threshold" ->
      s"""WITH base AS (
         |  SELECT CAST((CAST(len(list_filter(string_split(lower(text), ' '),
         |      x -> x IN (${stopwords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) * 1000)
         |    // CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS BIGINT) AS bin
         |  FROM documents),
         |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY bin),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
         |               CAST(sum(bin * cnt) AS BIGINT) AS s FROM h),
         |cum AS (
         |  SELECT bin,
         |    CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS n0,
         |    CAST(sum(bin * cnt) OVER (ORDER BY bin) AS BIGINT) AS s0
         |  FROM h),
         |scored AS (
         |  SELECT bin, n0, s0, n, s,
         |    (s::HUGEINT * n0 - n::HUGEINT * s0)
         |      * (s::HUGEINT * n0 - n::HUGEINT * s0) AS num,
         |    n0::HUGEINT * (n - n0) AS den
         |  FROM cum CROSS JOIN tot
         |  WHERE n0 > 0 AND n0 < n)
         |SELECT a.bin AS threshold, a.n0 AS n_lo, a.n - a.n0 AS n_hi,
         |  a.s0 AS s_lo, a.s - a.s0 AS s_hi
         |FROM scored a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM scored b
         |  WHERE b.num * a.den > a.num * b.den
         |     OR (b.num * a.den = a.num * b.den AND b.bin < a.bin))""".stripMargin,
    "q163_stride_interleave" ->
      """WITH w AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS ws
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS k
        |  FROM documents)
        |SELECT r.doc_id, r.source, r.k,
        |  CAST((r.k::HUGEINT * 1000000000) // w.ws AS BIGINT) AS vt
        |FROM r JOIN w USING (source)
        |ORDER BY vt, source, doc_id
        |LIMIT 100""".stripMargin,
    "q164_dsir_scores" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 20 = 0 AS ev,
        |    string_split(lower(text), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, ev,
        |    ('0x' || substring(md5(gr), 1, 8))::BIGINT % 4096 AS b
        |  FROM (SELECT doc_id, ev,
        |          unnest(list_transform(generate_series(1, len(w) - 1),
        |            i -> w[i] || ' ' || w[i+1])) AS gr
        |        FROM d)),
        |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS tc FROM g WHERE ev GROUP BY b),
        |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS rc FROM g WHERE NOT ev GROUP BY b),
        |nt AS (SELECT CAST(sum(tc) AS BIGINT) AS ntgt FROM tgt),
        |nr AS (SELECT CAST(sum(rc) AS BIGINT) AS nraw FROM raw),
        |ratio AS (
        |  SELECT raw.b,
        |    CAST((COALESCE(tgt.tc, 0)::HUGEINT * (nraw + 4096) * 1000)
        |      // ((raw.rc + 1) * ntgt) AS BIGINT) AS rb
        |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN nt CROSS JOIN nr)
        |SELECT g.doc_id, CAST(sum(r.rb) AS BIGINT) AS score
        |FROM g JOIN ratio r USING (b) WHERE NOT g.ev
        |GROUP BY g.doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 50""".stripMargin,
    "q165_ivf_distortion" ->
      s"""WITH $ivfAssignCtes,
         |withcos AS (
         |  SELECT a.j, ${cosSql("a.embedding", "c.c")} AS cos
         |  FROM assign a JOIN centroids c USING (j))
         |SELECT CAST(j AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(1.0 - cos AS DECIMAL(18,6))) AS DOUBLE) AS distortion,
         |  min(cos) AS worst_cos, max(cos) AS best_cos
         |FROM withcos GROUP BY j""".stripMargin,
    "q168_source_novelty" ->
      """WITH sg AS (
        |  SELECT DISTINCT source, g
        |  FROM (SELECT source,
        |          unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
        |        FROM (SELECT source, string_split(lower(text), ' ') AS w
        |              FROM documents))),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        |        FROM sg GROUP BY source),
        |fs AS (SELECT g, min(source) AS source FROM sg GROUP BY g),
        |nov AS (SELECT source, CAST(count(*) AS BIGINT) AS new_grams
        |        FROM fs GROUP BY source)
        |SELECT t.source, t.n_grams,
        |  CAST(COALESCE(n2.new_grams, 0) AS BIGINT) AS new_grams,
        |  CAST((COALESCE(n2.new_grams, 0) * 1000) // t.n_grams AS BIGINT)
        |    AS novelty_permille
        |FROM tot t LEFT JOIN nov n2 USING (source)""".stripMargin,
    "q171_label_consistency" ->
      s"""WITH ${ivfAssignCtesK(8, "embeddings")},
         |lab AS (
         |  SELECT a.vec_id, a.embedding, a.j, e.label
         |  FROM assign a JOIN embeddings e USING (vec_id)),
         |nn AS (
         |  SELECT vec_id, label, nn_label FROM (
         |    SELECT x.vec_id, x.label, y.label AS nn_label,
         |      row_number() OVER (PARTITION BY x.vec_id
         |        ORDER BY ${cosSql("x.embedding", "y.embedding")} DESC,
         |                 y.vec_id ASC) AS rn
         |    FROM lab x JOIN lab y ON x.j = y.j AND x.vec_id <> y.vec_id)
         |  WHERE rn = 1)
         |SELECT label, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN label = nn_label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree,
         |  CAST((sum(CASE WHEN label = nn_label THEN 1 ELSE 0 END) * 1000)
         |    // count(*) AS BIGINT) AS agree_permille
         |FROM nn GROUP BY label""".stripMargin,
    "q100_pq_search" ->
      s"""WITH samp AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 10 = 0 ORDER BY vec_id LIMIT 1000),
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
         |${(0 until 4).map(pqSubCtes).mkString(",\n")}
         |SELECT vec_id, d0.d + d1.d + d2.d + d3.d AS adc
         |FROM enc_0 e0 JOIN enc_1 e1 USING (vec_id)
         |  JOIN enc_2 e2 USING (vec_id) JOIN enc_3 e3 USING (vec_id)
         |  JOIN dt_0 d0 ON d0.j = e0.j JOIN dt_1 d1 ON d1.j = e1.j
         |  JOIN dt_2 d2 ON d2.j = e2.j JOIN dt_3 d3 ON d3.j = e3.j
         |WHERE vec_id <> 7
         |ORDER BY adc ASC, vec_id ASC
         |LIMIT 10""".stripMargin,
    // the engine serves from the WRITTEN index tables; the oracle
    // retrains coarse quantizer + codebooks from the corpus and replays
    // probe selection + IVF-restricted ADC — write-path damage breaks it
    "q292_ann_index_search" ->
      s"""WITH ${ivfAssignCtesK(4, "embeddings")},
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
         |${(0 until 4).map(pqSubCtes).mkString(",\n")},
         |probes AS (
         |  SELECT c.j FROM centroids c CROSS JOIN qv q
         |  ORDER BY ${cosSql("q.embedding", "c.c")} DESC, c.j ASC LIMIT 2),
         |cands AS (SELECT vec_id FROM assign WHERE j IN (SELECT j FROM probes))
         |SELECT vec_id, d0.d + d1.d + d2.d + d3.d AS adc
         |FROM enc_0 e0 JOIN enc_1 e1 USING (vec_id)
         |  JOIN enc_2 e2 USING (vec_id) JOIN enc_3 e3 USING (vec_id)
         |  JOIN cands USING (vec_id)
         |  JOIN dt_0 d0 ON d0.j = e0.j JOIN dt_1 d1 ON d1.j = e1.j
         |  JOIN dt_2 d2 ON d2.j = e2.j JOIN dt_3 d3 ON d3.j = e3.j
         |WHERE vec_id <> 7
         |ORDER BY adc ASC, vec_id ASC
         |LIMIT 10""".stripMargin,
    // quantizers trained on the HISTORY sample only; every vector —
    // history at build, batch at append — assigned/encoded with them
    "q293_ann_index_append" ->
      s"""WITH hist AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 3),
         |${ivfAssignCtesK(4, "embeddings", sampleFrom = "hist")},
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
         |${(0 until 4).map(pqSubCtes).mkString(",\n")},
         |probes AS (
         |  SELECT c.j FROM centroids c CROSS JOIN qv q
         |  ORDER BY ${cosSql("q.embedding", "c.c")} DESC, c.j ASC LIMIT 2),
         |cands AS (SELECT vec_id FROM assign WHERE j IN (SELECT j FROM probes))
         |SELECT vec_id, d0.d + d1.d + d2.d + d3.d AS adc
         |FROM enc_0 e0 JOIN enc_1 e1 USING (vec_id)
         |  JOIN enc_2 e2 USING (vec_id) JOIN enc_3 e3 USING (vec_id)
         |  JOIN cands USING (vec_id)
         |  JOIN dt_0 d0 ON d0.j = e0.j JOIN dt_1 d1 ON d1.j = e1.j
         |  JOIN dt_2 d2 ON d2.j = e2.j JOIN dt_3 d3 ON d3.j = e3.j
         |WHERE vec_id <> 7
         |ORDER BY adc ASC, vec_id ASC
         |LIMIT 10""".stripMargin)
}
