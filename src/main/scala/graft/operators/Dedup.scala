package graft.operators

import graft.operators.Sever.SeverOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Content-level deduplication for LLM training corpora: exact (content
  * hash), near-dup (MinHash + banded LSH with exact Jaccard verification),
  * and SimHash signatures.
  *
  * Scale design (the part that matters at 100 TB):
  *  - Shingling and signatures are per-row narrow maps (codegen'd
  *    `transform`/`aggregate` over arrays) — no shuffle, no UDF.
  *  - Candidate generation NEVER compares all pairs. MinHash signatures are
  *    cut into bands; each band hashes to a bucket key; the self-join is an
  *    EQUI join on (band, bucket) — Spark shuffles both sides on that key
  *    and only rows sharing a bucket ever meet. Cost is proportional to the
  *    bucket collision count, not n².
  *  - Exact verification joins the candidate pairs back to the (id →
  *    shingle-set) table twice — two shuffle equi-joins on doc id — and
  *    filters by exact Jaccard, so LSH false positives never escape.
  *  - The Jaccard threshold test is INTEGER arithmetic
  *    (`5*|A∩B| >= 4*|A∪B|` for 0.8): no float boundary can disagree
  *    between engines.
  *
  * False negatives: with 16 bands × 4 rows (64 hashes), a pair at Jaccard j
  * collides with probability 1-(1-j⁴)¹⁶ — at j=0.8 that is 0.9997, at
  * j=0.9 it is 1-4e-9. The corpus' seeded near-dups sit at j≥0.9 with the
  * next pair below 0.3 (verified empirically at sf0.01/sf0.1), so the
  * banded candidates are exhaustive for every pair the threshold admits.
  */
object Dedup {

  /** Exact-duplicate clusters by content hash: one row per distinct text
    * with the copy count and the surviving (minimum) id. At scale this is
    * one shuffle on a 128-bit hash — the canonical "hash-groupBy" dedup. */
  def exactClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** PARAGRAPH-level dedup (the CCNet line-dedup step): over a paragraph
    * table (idCol, pos, text) — e.g. [[Html.blocks]] output, where blocks
    * ARE the paragraphs — keep each distinct paragraph's FIRST occurrence
    * (minimum (idCol, pos)) and drop every other copy, then reassemble
    * the surviving text per document in document order. This is how
    * real crawl pipelines remove boilerplate: the repeated
    * nav/footer/cookie lines collapse to one corpus-wide survivor
    * without any per-page density heuristic, and whole-page duplicates
    * lose ALL their paragraphs to the earlier copy.
    *
    * With a `history` (one 128-bit paragraph hash per row, first column
    * — the written `paragraph_hashes` table of
    * [[graft.app.WebCorpusApp.append]], the CCNet INCREMENTAL ingest
    * shape) a paragraph is kept only if its hash is ALSO absent from the
    * history; the corpus text behind it is never re-read. `n_pars`
    * counts ALL of a doc's paragraphs either way, so the kept/total
    * ratio is comparable across build and append.
    *
    * Scale shape: one groupBy on the 128-bit paragraph hash (map-side
    * partial min — duplicate-heavy corpora combine before the shuffle)
    * plus one equi-join back on the hash (two with a history); paragraph
    * state is ~50 B per DISTINCT paragraph regardless of copy count.
    * Never doc×doc. Returns (idCol, n_pars, n_kept, clean_text). */
  def paragraphDedup(pars: DataFrame, idCol: String,
                     history: Option[DataFrame]): DataFrame = {
    val hashed = pars.select(col(idCol), col("pos"), col("text"),
      md5(col("text")).as("__h"))
    val firsts = hashed.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
    val seen = history.map(h => h.select(col(h.columns.head).as("__h"))
      .distinct().withColumn("__seen", lit(1L)))
    val joined = hashed.join(firsts, "__h")
    val first = col(idCol) === col(s"__first.$idCol") && col("pos") === col("__first.pos")
    seen.fold(joined.withColumn("__kept", first))(h =>
        joined.join(h, Seq("__h"), "left").withColumn("__kept", col("__seen").isNull && first))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_pars"),
        sum(col("__kept").cast("long")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__kept"),
            struct(col("pos"), col("text"))))),
          x => x.getField("text")), " ").as("clean_text"))
  }

  /** [[paragraphDedup]] over a (doc_id, pos, text) table with no history. */
  def paragraphDedup(pars: DataFrame): DataFrame = paragraphDedup(pars, "doc_id", None)

  /** INCREMENTAL paragraph screen — the batch-vs-history convention: each
    * batch document's paragraphs are tested against the accumulated
    * paragraph-hash history (one 128-bit hash per distinct historical
    * paragraph; the corpus text is never re-read). Returns per batch doc
    * (idCol, n_pars, n_dup_hist, n_new): how much of the document is
    * already-seen boilerplate/content. The join is batch × hash-index,
    * keyed on the hash — at 100 TB the history side is the ~TB hash
    * table, not the corpus. */
  def paragraphDedupAgainst(batchPars: DataFrame, histPars: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val hist = histPars.select(md5(col(textCol)).as("__h")).distinct()
    batchPars.select(col(idCol), md5(col(textCol)).as("__h"))
      .join(hist.withColumn("__seen", lit(1L)), Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_pars"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_dup_hist"))
      .withColumn("n_new", col("n_pars") - col("n_dup_hist"))
  }

  /** (id, shingles) pairs for docs with at least k tokens. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), wordShingles(col("toks"), k).as("shingles"))
  }

  /** MinHash signature as an array<long>, via the native one-pass
    * [[graft.expressions.MinHashSignature]] expression: each shingle is
    * xxhash64'd once and the k-th component is the min of a cheap
    * avalanche-mix of that hash (the oracle never sees raw signature values
    * — only the verified pairs — so engine-portability of this hash is not
    * needed; see [[portableMinhash]] for the cross-engine variant). */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.expressions.GraftFunctions.minhashNative(shingles, numHashes)

  /** CANDIDATE BUDGET, the one check behind every guarded near-dup
    * surface: `est` candidate pairs against `maxCandidateFactor` ×
    * `postings`. The healthy regime is candidates ≈ O(postings); the
    * regime that trips it is DUPLICATE MULTIPLICITY — m literal copies of
    * a document share every band bucket and every prefix shingle, m²
    * candidates per distinct text, invisible to any banding or prefix
    * filter because the collisions are genuine (measured: ×30
    * replication → wall ratio 49 for containment, SCALE_EVIDENCE).
    * Nothing is dropped: recall is unchanged whenever the check passes;
    * when it trips, the message names the mitigation. The estimates are
    * DECIMAL(38,0) because the pathological case this guards against is
    * exactly the one that overflows a Long. */
  private def requireBudget(est: java.math.BigDecimal, postings: Long,
                            maxCandidateFactor: Int, surface: String): Unit = {
    val bound = java.math.BigDecimal.valueOf(maxCandidateFactor)
      .multiply(java.math.BigDecimal.valueOf(postings))
    require(est.compareTo(bound) <= 0,
      s"$surface candidate budget exceeded: $est candidate pairs > " +
        s"$maxCandidateFactor x $postings postings. This regime is " +
        "duplicate multiplicity (m copies of one document collide in every " +
        "band and share every prefix shingle - m^2 candidates per distinct " +
        "text, which no banding or prefix filter can see because the " +
        "collisions are genuine). Run the exact-dedup rung first " +
        s"(Dedup.exactClusters, the q264 ladder) and re-run $surface on the " +
        "survivors; raising maxCandidateFactor instead buys a quadratic join.")
  }

  /** A banded (key → id) table under the candidate budget
    * (`maxCandidateFactor` > 0; 0 returns `banded` untouched and
    * materializes nothing). The banding is materialized once — an eager
    * sever, NOT persist: Dataset.persist would register a
    * CacheManager entry that outlives the call, while checkpoint blocks
    * are reclaimed by the ContextCleaner once the returned plan is GC'd
    * — then its exact pre-join candidate volume is measured (each bucket
    * of n colliding rows yields C(n,2) pairs, so Σ n·(n−1)/2 over the
    * `keyCols` groups IS the self-join's output size) and
    * [[requireBudget]] throws here, at plan-BUILD time, before a caller
    * can own a plan whose first action detonates the quadratic join. The
    * same materialized banding is returned to feed the join. */
  private[graft] def bandBudget(banded: DataFrame, keyCols: Seq[String],
                                maxCandidateFactor: Int, surface: String): DataFrame =
    if (maxCandidateFactor <= 0) banded
    else {
      val b = banded.sever()
      val postings = b.count()
      val twiceEst = b.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"))
        .agg(coalesce(sum(expr("n * (n - 1)")),
          lit(0).cast("decimal(38,0)")).as("c2"))
        .first().getDecimal(0)
      requireBudget(twiceEst.divide(java.math.BigDecimal.valueOf(2)), postings,
        maxCandidateFactor, surface)
      b
    }

  /** (doc_id, band, bucket): the banded MinHash layout behind
    * [[lshCandidates]]. */
  private def bandedMinhash(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("doc_id", "band", "bucket")

  /** Banded LSH candidate pairs: equi self-join on (band, bucket).
    * Returns distinct (id_a < id_b) candidate pairs. */
  private def lshCandidatesFromBanded(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    lshCandidatesFromBanded(bandedMinhash(sigs, bands, rowsPerBand))

  /** EXACT set verify, the one behind [[nearDupPairs]],
    * [[jaccardPairsExactOnSets]] and [[containmentPairsExact]]: join the
    * (id_a, id_b) candidates to the (doc_id, shingles) table twice — two
    * shuffle equi-joins on doc id — count the common shingles, and keep
    * the pair iff `n_common·den >= bound·num` — INTEGER arithmetic, so no
    * float boundary can disagree between engines and candidate false
    * positives never escape. `bound` is the threshold's denominator
    * (|A∪B| for Jaccard, |A| for containment), emitted as `boundName`.
    * Returns (id_a, id_b, n_common, boundName). */
  private def verifySets(cands: DataFrame, sets: DataFrame,
                         thresholdNum: Int, thresholdDen: Int,
                         boundName: String, bound: Column): DataFrame = {
    val sa = sets.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val sb = sets.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
        bound.cast("long").as(boundName))
      .filter(col("n_common") * thresholdDen >= col(boundName) * thresholdNum)
  }

  private def unionSize: Column = size(array_union(col("sh_a"), col("sh_b")))

  /** Near-duplicate pairs: banded-LSH candidates, exactly verified
    * ([[verifySets]]). `threshold` is a rational num/den (e.g. 4/5 =
    * 0.8). Emits (id_a, id_b, n_common, n_union). `maxCandidateFactor`
    * > 0 arms the candidate budget ([[bandBudget]]) over the banding;
    * 0 disables it. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, numHashes: Int = 64,
                   bands: Int = 16, thresholdNum: Int = 4, thresholdDen: Int = 5,
                   maxCandidateFactor: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sets = shingleSets(docs, idCol, textCol, shingleK)
    val sigs = sets.select(col("doc_id"), minhashSignature(col("shingles"), numHashes).as("sig"))
    val cands = lshCandidatesFromBanded(bandBudget(bandedMinhash(sigs, bands, numHashes / bands),
      Seq("band", "bucket"), maxCandidateFactor, "minhash near-dup"))
    verifySets(cands, sets, thresholdNum, thresholdDen, "n_union", unionSize)
  }

  /** Connected components of an undirected pair graph by iterative
    * min-label propagation — the transitive-closure step near-dup removal
    * needs (similarity is not transitive; components, not pairs, are the
    * dedup unit). Every node starts labeled with its own id; each round a
    * node takes the min of its label and its neighbors' labels (one
    * equi-join + partial-aggregating min — all shuffles are on the node
    * id); fixpoint when no label improves.
    *
    * Rounds = component diameter. Near-dup components are near-cliques
    * (most pairs are direct edges), so 2-3 rounds in practice; `maxRounds`
    * is a hard `require`, not a silent stop — at pathological diameters a
    * production job switches to large-star/small-star contraction
    * (O(log n) rounds, same fixpoint). Lineage is severed per round
    * (localCheckpoint), so the plan stays flat however many rounds run.
    *
    * @param nodes one row per node: `idCol`
    * @param pairs undirected edges as (id_a, id_b); orientation irrelevant
    * @return (idCol, cluster_id) — cluster_id = min node id in the component
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame, idCol: String,
                          maxRounds: Int = 30): DataFrame = {
    // sever ONCE at entry: every round's propagation join and the
    // per-round convergence count re-read the edge set, and callers
    // routinely hand in pairs whose lineage is an entire LSH pipeline —
    // without this, that pipeline re-executes diameter-many times
    // (measured on the q269 ladder: 27 s → seconds at sf0.1)
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b"), col("id_a"))).toDF("src", "dst")
      .sever()
    var labels = nodes.select(col(idCol), col(idCol).as("cluster_id")).sever()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      require(rounds <= maxRounds, s"min-label propagation did not converge in $maxRounds " +
        "rounds (component diameter exceeds it — use a star-contraction variant)")
      val prop = edges.join(labels, edges("dst") === labels(idCol))
        .groupBy("src").agg(min(col("cluster_id")).as("nl"))
      val joined = labels.join(prop, labels(idCol) === prop("src"), "left")
        .select(col(idCol), col("cluster_id"),
          coalesce(col("nl"), col("cluster_id")).as("nl2"))
        .sever()
      changed = joined.filter(col("nl2") < col("cluster_id")).count()
      labels = joined.select(col(idCol), least(col("cluster_id"), col("nl2")).as("cluster_id"))
    }
    labels
  }

  /** [[connectedComponents]] via alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the O(log n)-round variant the min-label
    * propagation docs point to for high-diameter graphs: label
    * propagation needs diameter-many rounds (a 10⁶-long chain = 10⁶
    * shuffles), star contraction halves path lengths every other round
    * regardless of diameter.
    *
    * Each round is two groupBy-min + join passes over the edge set:
    *  - large-star(u): connect every LARGER neighbor of u to
    *    m = min(N(u) ∪ u);
    *  - small-star(u): connect every not-larger neighbor AND u itself
    *    to m.
    * The fixed point is one star per component rooted at its min node;
    * convergence is detected by edge-set equality (two anti-joins), and
    * lineage is severed per round. Same output contract as
    * [[connectedComponents]] — (idCol, cluster_id = component min) —
    * equality on random graphs is property-tested. */
  def connectedComponentsContracted(nodes: DataFrame, pairs: DataFrame, idCol: String,
                                    maxRounds: Int = 25): DataFrame = {
    def canonical(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
    def mins(e: DataFrame): DataFrame = {
      val directed = e.union(e.select(col("v").as("u"), col("u").as("v")))
      directed.groupBy("u").agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val directed = e.union(e.select(col("v").as("u"), col("u").as("v")))
      canonical(directed.join(mins(e), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = mins(e)
      canonical(
        directed.join(m, "u").filter(col("v") < col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(m.select(col("u"), col("m").as("v"))))
    }
    var e = canonical(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))).sever()
    var eCount = e.count()
    var stable = false
    var rounds = 0
    while (!stable) {
      rounds += 1
      require(rounds <= maxRounds,
        s"star contraction did not converge in $maxRounds rounds")
      val next = smallStar(largeStar(e)).sever()
      val nextCount = next.count()
      // both sides are distinct sets, so equal counts + empty one-sided
      // difference IS set equality — the second anti-join is redundant
      stable = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
    }
    // fixed point: one (child, root) edge per non-root node (root = min)
    val lbl = e.groupBy(col("u").as(idCol)).agg(min(col("v")).as("cluster_id"))
    nodes.select(col(idCol)).join(lbl, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Greedy near-dup removal: drop the higher id of every verified pair
    * (one shuffle anti-join on the id). Survivors keep their full row. */
  def nearDupSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val losers = nearDupPairs(docs, idCol, textCol).select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Cross-engine-checkable MinHash: per seed, the minimum over shingles of
    * the first 16 md5 hex chars of "seed:shingle" — a STRING min, identical
    * lexicographic semantics in Spark and DuckDB, no numeric conversion.
    * (md5 in the hot path is ~5× slower than xxhash64; production dedup
    * uses [[minhashSignature]], this variant exists to let the oracle
    * verify the MinHash machinery end-to-end.) */
  def portableMinhash(shingles: Column, seed: Int): Column =
    array_min(transform(shingles, sh =>
      substring(md5(concat(lit(s"$seed:"), sh)), 1, 16)))

  /** PIGEONHOLE HAMMING BANDS — the one candidate layout behind every
    * Hamming near-dup operator (SimHash text, image aHash, audio
    * envelope, per-slot video aHash): the signature `sig` (a long whose
    * low 4·`width` bits are the hash) is cut into 4 exact `width`-bit
    * bands, band b = (sig >> b·width) & (2^width − 1). Two signatures at
    * Hamming ≤ 3 cannot differ in all 4 bands, so they share a (band,
    * value) — recall is provably 1.0 for Hamming ≤ 3, unlike
    * probabilistic MinHash-LSH, while the join in [[hammingPairs]] still
    * shuffles on (band, value), never all-pairs.
    *
    * `sigs` carries `id` and `sig`, plus the extra equi-join `keys`
    * (video's slot `t`) and the `carry` columns the verify needs on both
    * sides. Returns (keys…, band, value, id, sig, carry…). */
  private[graft] def hammingBands(sigs: DataFrame, width: Int,
                                  keys: Seq[String], carry: Seq[String]): DataFrame =
    sigs.select((keys ++ Seq("id", "sig") ++ carry).map(col) :+
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * width).bitwiseAND((1L << width) - 1)): _*)): _*)
      .toDF(keys ++ Seq("id", "sig") ++ carry ++ Seq("band", "value"): _*)

  /** The band join over [[hammingBands]] tables: equi-join on (keys…,
    * band, value), then the exact Hamming distance `bit_count(xor)` of
    * the two signatures. Self form (`right` None): one table against
    * itself, (id_a < id_b). Batch form: an ingestion batch against the
    * signature HISTORY, (new_id, hist_id) — the history side of the
    * shuffle carries 4 band rows per historical item (~100 bytes plus
    * the carried verify vector), joinable long after the corpus itself
    * is not. Returns (ids, carry_a…, carry_b…, hamming), one row per
    * shared band ([[hammingWithin]] cuts and dedups). */
  private[graft] def hammingPairs(left: DataFrame, right: Option[DataFrame],
                                  keys: Seq[String], carry: Seq[String]): DataFrame = {
    val (idA, idB) = if (right.isEmpty) ("id_a", "id_b") else ("new_id", "hist_id")
    def side(banded: DataFrame, id: String, sfx: String): DataFrame =
      banded.select((keys ++ Seq("band", "value")).map(col) ++
        Seq(col("id").as(id), col("sig").as(s"sig_$sfx")) ++
        carry.map(c => col(c).as(s"${c}_$sfx")): _*)
    val joined = side(left, idA, "a")
      .join(side(right.getOrElse(left), idB, "b"), keys ++ Seq("band", "value"))
    (if (right.isEmpty) joined.filter(col("id_a") < col("id_b")) else joined)
      .select((Seq(idA, idB) ++ carry.map(_ + "_a") ++ carry.map(_ + "_b")).map(col) :+
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"): _*)
  }

  /** [[hammingPairs]] rows at Hamming ≤ `maxHamming`, one per pair. The
    * cut runs BEFORE the distinct: it is per-row, so the distinct's
    * shuffle carries only the matching pairs. */
  private[graft] def hammingWithin(pairs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole only guarantees recall for maxHamming <= 3")
    pairs.filter(col("hamming") <= maxHamming).distinct()
  }

  /** [[simhash]] output as a [[hammingBands]] table: 4 exact 15-bit
    * bands of the 60-bit signature. 15-bit bands give 2¹⁵ = 32,768
    * buckets per band, so the per-band self-join cost is ~n²/2¹⁵ ONLY for
    * genuinely colliding signatures — for near-uniform signatures (60
    * independent md5-derived bit sums) the candidate count stays
    * near-linear far beyond 10⁹ docs, and random Hamming ≤ 3 collisions
    * stay negligible to ~2³⁰ docs. 60 (not 64) bits because the
    * signature must stay oracle-portable: 15 md5 hex chars decode into a
    * signed BIGINT in both engines with no unsigned/hugeint edge cases. */
  private def simhashBands(sigs: DataFrame): DataFrame =
    hammingBands(sigs.select(col("doc_id").as("id"), col("simhash").as("sig")), 15, Nil, Nil)

  /** SimHash near-dup pairs at Hamming distance ≤ `maxHamming` (≤ 3),
    * by the pigeonhole band join ([[hammingBands]]). `maxCandidateFactor`
    * > 0 arms the candidate budget ([[bandBudget]]) over the banding.
    * Returns (id_a, id_b, hamming). */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3,
                          maxCandidateFactor: Int = 0): DataFrame = {
    val banded = bandBudget(simhashBands(simhash(docs, idCol, textCol)),
      Seq("band", "value"), maxCandidateFactor, "simhash near-dup")
    hammingWithin(hammingPairs(banded, None, Nil, Nil), maxHamming)
  }

  /** Incremental near-dup check of an ingestion BATCH against the signature
    * HISTORY — the production gate: each new batch screens against
    * everything ever ingested while touching only (batch × history-index),
    * never the accumulated corpus text. `batchSigs`/`histSigs` are
    * (doc_id, simhash) tables ([[simhash]] output; the history is exactly
    * what a signature table persists); the band join's batch form, recall
    * provably 1.0 for Hamming ≤ 3. Returns (new_id, hist_id, hamming). */
  def simhashNearDupAgainst(batchSigs: DataFrame, histSigs: DataFrame,
                            maxHamming: Int = 3): DataFrame =
    hammingWithin(hammingPairs(simhashBands(batchSigs), Some(simhashBands(histSigs)), Nil, Nil),
      maxHamming)

  /** EXACT n-gram-Jaccard near-dup pairs via a frequency-ordered
    * prefix-filtered inverted index (AllPairs/PPJoin) — no signatures, no
    * probability: provably the same output as the all-pairs quadratic scan,
    * at index-join cost.
    *
    * Shape: (1) global document frequency per shingle (one groupBy — the
    * same linear shuffle as computing IDF); (2) per doc, rank shingles by
    * ascending (df, shingle) — a consistent global total order — and keep
    * only the first |X| - ceil(t·|X|) + 1 as the indexed PREFIX; (3)
    * equi-self-join the prefix index on the shingle with a size-compat
    * filter (J >= t forces den·min(|A|,|B|) >= num·max); (4) verify
    * candidates exactly against the full shingle sets (same verify join as
    * [[nearDupPairs]]).
    *
    * Why recall is exactly 1.0 (prefix-filter theorem): under ANY global
    * total order, two sets with |A∩B| >= α must share an element among the
    * first |A|-α+1 of A and |B|-α+1 of B (fewer than that many misses
    * cannot consume the overlap). J(A,B) >= t implies |A∩B| >= ceil(t·|A|)
    * and >= ceil(t·|B|), giving the prefix lengths above.
    *
    * Why ASCENDING document frequency: prefixes then hold each doc's
    * RAREST shingles, so a prefix shingle's posting list — and hence the
    * candidate count — is minimal; hot stop-shingles land in the un-indexed
    * suffix. (A hash order is also correct but collides massively on
    * common-vocabulary corpora; df-order cut candidates ~50× on the
    * harness corpus.) Residual skew in the index join is AQE skew-join
    * territory; the df table itself is shingle-keyed and shuffles evenly. */
  def jaccardPairsExact(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3,
                        thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame =
    jaccardPairsExactOnSets(shingleSets(docs, idCol, textCol, shingleK),
      thresholdNum, thresholdDen)

  /** [[jaccardPairsExact]] over a prebuilt (doc_id, shingles) table. The
    * shingle table appears in the plan three times (index build + both
    * verify sides); Spark recomputes each occurrence, so at scale — or in
    * a session running several dedup passes — callers should
    * `persist`/checkpoint the sets DataFrame and pass it here, paying the
    * shingling scan once. */
  def jaccardPairsExactOnSets(sets: DataFrame,
                              thresholdNum: Int, thresholdDen: Int): DataFrame = {
    // persisted: the prefix table feeds BOTH sides of the candidate
    // self-join, and Spark does not reuse the exchange across the two
    // occurrences (verified: zero ReusedExchange in the executed plan) —
    // without this the df-join + per-doc ranking window runs twice. The
    // table is a prefix-filtered SUBSET of the inverted index (~1/5 of it
    // at t = 4/5), so caching it is strictly cheaper than recomputing it.
    val prefixes = dfPrefix(shingleIndex(sets), thresholdNum, thresholdDen)
      .select(col("sh"), col("doc_id"), col("sz"))
      .persist()
    val a = prefixes.select(col("sh"), col("doc_id").as("id_a"), col("sz").as("sz_a"))
    val b = prefixes.select(col("sh"), col("doc_id").as("id_b"), col("sz").as("sz_b"))
    val cands = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      // size filter: J(A,B) <= min/max, so J >= t needs den·min >= num·max
      .filter(col("sz_a") * thresholdDen >= col("sz_b") * thresholdNum &&
        col("sz_b") * thresholdDen >= col("sz_a") * thresholdNum)
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifySets(cands, sets, thresholdNum, thresholdDen, "n_union", unionSize)
  }

  /** The exploded inverted index (doc_id, sz, sh) of a (doc_id,
    * shingles) table: one row per (doc, shingle), with the doc's set
    * size. */
  private def shingleIndex(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), size(col("shingles")).as("sz"),
      explode(col("shingles")).as("sh"))

  /** The AllPairs PREFIX of every doc in a [[shingleIndex]]: its
    * shingles ranked by ascending (df, shingle) — df the global document
    * frequency, one shingle-keyed groupBy — and the first
    * |X| − ceil(t·|X|) + 1 kept (the ceil in integer arithmetic).
    * Returns (sh, doc_id, sz, df, __rn). */
  private def dfPrefix(inv: DataFrame, thresholdNum: Int, thresholdDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfCounts = inv.groupBy("sh").agg(count(lit(1)).as("df"))
    val plen = (col("sz") -
      floor((col("sz") * thresholdNum + (thresholdDen - 1)) / thresholdDen).cast("int") + 1)
    val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("sh").asc)
    inv.join(dfCounts, "sh")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= plen)
  }

  /** Asymmetric EXACT containment pairs — C(A→B) = |A∩B| / |A| ≥ t — the
    * quote/excerpt detector: finds documents whose shingle set lives
    * (almost) entirely inside another document's, which symmetric Jaccard
    * misses whenever |B| ≫ |A| (an excerpt of a long doc has tiny Jaccard
    * but containment 1). Same AllPairs skeleton as
    * [[jaccardPairsExactOnSets]] with the asymmetric prefix theorem:
    * C ≥ t needs |A∩B| ≥ ceil(t·|A|), which depends only on A — so only
    * the PROBE side gets a rarest-(df,shingle)-first prefix of length
    * |A| − ceil(t·|A|) + 1, while the indexed side must carry every
    * shingle (a contained doc may match any part of its container; that
    * full inverted index is containment's inherent price, linear in corpus
    * shingle volume — the same index TF-IDF search builds). Size filter:
    * |A∩B| ≤ |B| forces den·|B| ≥ num·|A|. Exact verify against the full
    * sets, integer threshold arithmetic. Returns (id_a, id_b, n_common,
    * sz_a) with id_a the contained side; recall 1.0 by the prefix-filter
    * argument, per-doc windows bounded by shingles-per-doc.
    *
    * CANDIDATE BUDGET (`maxCandidateFactor` > 0): before the candidate
    * join runs, the exact candidate volume Σ_sh probe(sh)·df(sh) is
    * computed from the posting counts (two small aggregates over the
    * already-persisted index — never the join itself) and checked by
    * [[requireBudget]] against `maxCandidateFactor` × total postings. 0
    * disables the guard.
    *
    * EAGER when the guard is on: the postings count and the Σ probe·df
    * aggregate are two real Spark jobs run DURING DataFrame
    * construction, and a budget breach throws at plan-BUILD time — by
    * design, so a caller never gets a plan whose first action detonates
    * the quadratic join; the cost is that building (or merely
    * explaining) the guarded plan already runs cluster work. Callers
    * composing plans lazily should pass 0 and budget at the
    * orchestration layer. */
  def containmentPairsExact(sets: DataFrame,
                            thresholdNum: Int, thresholdDen: Int,
                            maxCandidateFactor: Int = 0): DataFrame = {
    // persisted: the exploded inverted index feeds THREE subtrees (the df
    // table, the probe-prefix build, and the full index side) and Spark
    // recomputes each occurrence from the cached sets otherwise — the
    // same no-exchange-reuse fact jaccardPairsExactOnSets documents. At
    // cluster scale this is a MEMORY_AND_DISK cache of the corpus shingle
    // volume — the operator's working set either way, paid once not 3x.
    val inv = shingleIndex(sets).persist()
    // NOT persisted: the probe prefix feeds exactly one consumer (the
    // candidate join), so caching it would be a full materialization with
    // zero reuse — measured ~15% slower on a cold run (and persisting it
    // for the guard below measured ~2× worse again than simply running
    // the narrow window subtree twice: the prefix build reads inv from
    // cache either way, and the stats pass aggregates to one row).
    // Single-use subtrees pipeline; only multi-consumer ones (inv) cache.
    val prefix = dfPrefix(inv, thresholdNum, thresholdDen)
    if (maxCandidateFactor > 0) {
      // Exact pre-join candidate volume: each probe ROW (one posting of
      // one doc's prefix) meets df(sh) index rows, so Σ df over probe
      // rows IS Σ_sh probe(sh)·df(sh) — one narrow aggregate over the
      // prefix-build subtree, collapsing to a single row before the
      // driver.
      val postings = inv.count()
      val est = prefix
        .agg(coalesce(sum(col("df").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("est"))
        .first().getDecimal(0)
      requireBudget(est, postings, maxCandidateFactor, "containment")
    }
    val probe = prefix.select(col("sh"), col("doc_id").as("id_a"), col("sz").as("sz_a"))
    val index = inv.select(col("sh"), col("doc_id").as("id_b"), col("sz").as("sz_b"))
    val cands = probe.join(index, Seq("sh"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("sz_b") * thresholdDen >= col("sz_a") * thresholdNum)
      .select(col("id_a"), col("id_b"), col("sz_a"))
      .distinct()
    verifySets(cands, sets, thresholdNum, thresholdDen, "sz_a", col("sz_a"))
  }

  /** EXACT duplicated-substring SPANS — the token-level formulation of
    * suffix-array substring dedup (the "dedup by duplicated 50-token
    * spans, not whole documents" policy of modern corpus cleans; cf.
    * reference-corpus document dedup at
    * `reference/airflow/dags/init_2_transformation_dag.py` which stops at
    * whole-row dedup). A token position is DUPLICATED when the k-gram
    * starting there occurs ≥ 2 times in the corpus (anywhere — including
    * elsewhere in the same document); maximal runs of duplicated
    * positions merge into spans. Every length-k window of a duplicated
    * substring of length ≥ k is itself duplicated, so the merged spans
    * are exactly the maximal duplicated substrings of length ≥ k — the
    * suffix-array answer — without building a suffix array:
    *
    *  1. one narrow generator pass emits (doc_id, pos, gram-md5);
    *  2. gram occurrence counts: one hash groupBy (map-side partials);
    *  3. duplicated positions: LEFT SEMI equi-join of positions against
    *     the cnt ≥ 2 grams — never an all-pairs comparison, and no
    *     doc×doc pair row ever materializes (the known blow-up of
    *     pairwise formulations when one gram is corpus-boilerplate);
    *  4. span merge: per-document gap-and-islands — windows PARTITIONED
    *     BY doc_id (state = one document's hit list, scale-safe), break
    *     when consecutive hit positions are > k apart (hits at p1 < p2
    *     with p2 - p1 ≤ k overlap or touch: [p1, p1+k-1] ∪ [p2, p2+k-1]
    *     is contiguous).
    *
    * Returns (doc_id, span_start, span_end, span_tokens) with 1-based
    * inclusive token positions. Exact, engine-portable: positions and
    * span bounds are pure integers; gram identity is md5 (any second
    * engine computes the identical 128-bit key). */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val toks = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= k)
    val grams = toks.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w) - ${k - 1}), " +
          s"i -> md5(concat_ws(' ', slice(w, i, $k))))")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gh"))
    val dupGrams = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("gh")
    grams.join(dupGrams, Seq("gh"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("isl", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** 60-bit SimHash over (multiset) whitespace tokens, md5-based (first 15
    * hex chars) so the oracle can recompute it. Explode + ONE grouped
    * native aggregate ([[graft.expressions.SimhashAgg]]): the 60 bit
    * counters live in a single typed buffer updated by a tight loop per
    * token hash, with map-side partial aggregation — one buffer row per
    * (partition, doc) in the shuffle. (The previous formulation ran 60
    * separate `sum(when(shiftright...))` aggregates — 60 expression-tree
    * evaluations per token and 60 buffer slots; bit-identical output,
    * ~60× more expression evaluation.)
    *
    * Bit b of the signature is set iff
    * sum over tokens of (bit b of md5Long(token) ? +1 : -1) > 0.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id")
      .agg(graft.expressions.GraftFunctions.simhashAgg(md5Long(col("tok"))).as("simhash"))
}
