package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.sources.{Materialized, Sinks, Tables}

/** Round-6 scale-operator suite: bounded-state heavy hitters and
  * deterministic hash-threshold sampling. Oracle-parity ground rules are
  * the [[LlmQueries]] ones — every inclusion test is an INTEGER compare on
  * an md5-derived hash, every threshold a precomputed Long literal shared
  * verbatim with the DuckDB SQL, so hash-match is structural, not lucky.
  */
object ScaleQueries {

  // Shared q101 constants: threshold N/30, MG candidates k=63 (the
  // superset guarantee needs k+1 >= 30; 63 gives 2x margin).
  private val HhK = 63
  private val HhDen = 30L

  /** q101: exact corpus-wide heavy-hitter words (frequency >= N/30) via
    * the two-pass Misra-Gries pattern — bounded candidate state, no
    * full-vocabulary shuffle; see [[Sampling.heavyHitters]]. */
  def q101HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
    Sampling.heavyHitters(words, "word", HhK, HhDen)
  }

  // q103 constants: the even-numbered sources are "curated" (keep half),
  // the odd ones are "crawl" (keep a fifth). Thresholds are Long literals
  // shared with the oracle.
  private val CuratedSources: Seq[String] = (0 until 20 by 2).map(i => s"src$i")
  private val CuratedThr = Sampling.threshold60(0.5)
  private val CrawlThr = Sampling.threshold60(0.2)

  /** q103: stratified deterministic Bernoulli sample of the corpus —
    * per-source keep rates as one scan+filter, zero shuffles
    * ([[Sampling.stratifiedBernoulli]]). */
  def q103StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedBernoulli(
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("lang")),
      keyCol = "doc_id", strataCol = "source",
      rates = CuratedSources.map(_ -> 0.5).toMap,
      defaultRate = 0.2, salt = "s103")

  /** q104: length-weighted deterministic Bernoulli sample — inclusion
    * probability n_chars/4096 via pure-integer cross-multiplication on a
    * 40-bit hash ([[Sampling.weightedBernoulli]]). */
  def q104WeightedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedBernoulli(
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      keyCol = "doc_id", weightCol = "n_chars",
      weightScale = 4096L, salt = "s104")

  /** q150: FIXED-SIZE weighted sample per source — 32 docs each, drawn by
    * length-weighted priority sampling ([[Sampling.prioritySample]]:
    * priority w/u, top-k per group), the complement of q104's
    * variable-size Bernoulli draw. Integer floor-division priorities over
    * the same salted md5 hash space, so the oracle's rank-window mirror
    * selects identically (the ENGINE side is the TopKByScore aggregate,
    * not a window). */
  def q150PrioritySample(s: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      keyCol = "doc_id", weightCol = "n_chars",
      groupCol = "source", k = 32, salt = "s150")

  /** Exact-decimal double sum (the [[Relational]] dsum trick: sf-scale
    * doubles are exact at DECIMAL(18,6), so the sum is order-independent
    * and the trailing cast reproducible). */
  private def dsum(c: Column) = sum(c.cast("decimal(18,6)")).cast("double")

  // q102: bucketed tables are built once per (catalog, sf-dir) — the point
  // of bucketing is precisely that the write-time shuffle is amortized
  // across every later join on the key. The build guard probes the SESSION
  // CATALOG rather than a JVM-level memo: the bucket spec lives in catalog
  // metadata (saveAsTable), so a session with a fresh catalog in the same
  // JVM — or a dropped table — must trigger a rebuild, not a skipped write
  // against a table that is not there.
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = synchronized {
    val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    val li = s"graft_b_lineitem_$tag"
    val ord = s"graft_b_orders_$tag"
    if (!s.catalog.tableExists(li) || !s.catalog.tableExists(ord)) {
      Sinks.writeBucketed(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        li, "l_orderkey", 8)
      Sinks.writeBucketed(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        ord, "o_orderkey", 8)
    }
    (li, ord)
  }

  /** q102: the co-located fact⋈fact join over bucketed tables — both
    * sides pre-hashed into 8 buckets on the order key at WRITE time
    * ([[Sinks.writeBucketed]]), so the join itself needs no Exchange (the
    * 100-TB shape for a join that runs nightly on the same key; see
    * SinksSpec/ScaleQueriesSpec for the plan assertion). The oracle joins
    * the raw parquet — identical rows prove the bucketed write lost
    * nothing. */
  def q102BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (li, ord) = bucketedTables(s, dir)
    s.table(li).join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  // q105 constants — the fixed keyword query and the BM25 shape
  // parameters. k1+1 and (1-b) are precomputed so both engines parse the
  // same decimal literals.
  private val Bm25Terms = Seq("spark", "vector", "window")
  private val Bm25K1 = "1.2"
  private val Bm25K1p1 = "2.2"
  private val Bm25OneMinusB = "0.25"
  private val Bm25B = "0.75"

  /** q105: BM25-lite keyword search, top-10 docs for a fixed 3-term query.
    *
    * Scale shape: tokenize → FILTER to query terms before any shuffle (the
    * shuffle carries only matching (doc, term) rows, never the corpus
    * vocabulary) → tf per (doc, term) → broadcast the 3-row df table back
    * → one score per (doc, term) → fixed-order per-doc sum → TakeOrdered.
    * Corpus-level stats (N, avgdl, per-term df) are bounded driver reads.
    *
    * Oracle portability: "lite" = the idf is the RATIONAL form
    * (N − df + 0.5)/(df + 0.5) with no logarithm — log is the one BM25 op
    * libms disagree on at the last ulp; every op here is IEEE +,*,/ in
    * identical order, so scores (and the (score DESC, doc_id) top-10 cut)
    * match DuckDB bit-for-bit. The per-doc sum is a fixed-order 3-term
    * coalesce chain, not a float groupBy-sum (whose addend order is
    * partition-dependent). */
  def q105Bm25Search(s: SparkSession, dir: String): DataFrame =
    bm25TopK(s, dir, 10)

  private def bm25TopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toksCol = split(lower(col("text")), " ")
    // bounded driver read: corpus doc count + total token count
    val stats = docs.agg(count(lit(1)), sum(size(toksCol))).first()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / n.toDouble
    val hits = docs
      .select(col("doc_id"), size(toksCol).as("dl"), explode(toksCol).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfs = hits.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = hits.join(broadcast(dfs), "tok")
      .withColumn("idf",
        ((lit(n) - col("df")).cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
      .withColumn("sc",
        col("idf") * (col("tf").cast("double") * expr(Bm25K1p1)) /
          (col("tf").cast("double") + expr(Bm25K1) *
            (expr(Bm25OneMinusB) + expr(Bm25B) * (col("dl").cast("double") / lit(avgdl)))))
    val perTerm = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === lit(t), col("sc"))).as(s"s$i")
    }
    scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        (coalesce(col("s0"), lit(0.0)) + coalesce(col("s1"), lit(0.0)) +
          coalesce(col("s2"), lit(0.0))).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** q309: BM25 search served FROM THE WRITTEN INVERTED INDEX
    * ([[graft.sources.TextIndex]]) — the lexical twin of q292: postings
    * (tok, doc_id, tf, dl) partitioned by a deterministic term bucket,
    * append-only lexicon df deltas, append-only corpus stats. The
    * search reads ONLY index tables (TextIndexSpec pins: no documents
    * scan in the plan, PartitionFilters on term_bucket) and scores with
    * the EXACT q105 arithmetic — the oracle recomputes BM25 relationally
    * from the corpus, so any write-path damage (wrong tf, lost posting,
    * wrong df, wrong dl denormalization) breaks the score compare. */
  def q309TextIndexSearch(s: SparkSession, dir: String): DataFrame =
    indexedBm25(s, graft.sources.TextIndex.path(s, dir), Seq("join", "stream"), 10)

  /** q310: INCREMENTAL index maintenance — the index is built on the
    * history (doc_id % 5 ≠ 2), then the batch is APPENDED: its postings,
    * df DELTAS, and stat deltas only (history never re-read — the
    * q293/q265 convention). Because tf/df/N/Σdl are exact integers that
    * ADD across disjoint batches, the incrementally-built index serves
    * BIT-IDENTICAL scores to a from-scratch build; the oracle is the
    * full-corpus recompute, so a batch-leak or a missed delta breaks it. */
  def q310TextIndexAppend(s: SparkSession, dir: String): DataFrame =
    indexedBm25(s, graft.sources.TextIndex.pathIncremental(s, dir), Seq("filter", "sort"), 10)

  /** BM25 over the WRITTEN postings — bm25TopK's arithmetic verbatim,
    * with corpus stats and df read from the index tables instead of
    * recomputed from text. The one scorer over a written text index:
    * q309/q310 here and q316 over the web corpus's index. */
  private[queries] def indexedBm25(s: SparkSession, root: String,
                          terms: Seq[String], k: Int): DataFrame = {
    import graft.sources.TextIndex
    val (n, total) = TextIndex.readStats(s, root)
    val avgdl = total.toDouble / n.toDouble
    val hits = TextIndex.readPostings(s, root, terms)
    val dfs = TextIndex.readDf(s, root, terms)
    val scored = hits.join(broadcast(dfs), "tok")
      .withColumn("idf",
        ((lit(n) - col("df")).cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
      .withColumn("sc",
        col("idf") * (col("tf").cast("double") * expr(Bm25K1p1)) /
          (col("tf").cast("double") + expr(Bm25K1) *
            (expr(Bm25OneMinusB) + expr(Bm25B) * (col("dl").cast("double") / lit(avgdl)))))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === lit(t), col("sc"))).as(s"s$i")
    }
    scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        terms.indices.map(i => coalesce(col(s"s$i"), lit(0.0)))
          .reduce(_ + _).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** q145: HYBRID retrieval — reciprocal-rank fusion of the lexical BM25
    * ranking (q105's scorer, top-50) and the dense cosine ranking against
    * the vec_id-0 query embedding (q31's scorer, top-50; embeddings align
    * 1:1 with documents by id). RRF is the standard zero-tuning fusion:
    * score = Σ 1/(60 + rank), a doc missing from one list contributing 0.
    * Ranks are integer row_numbers with (score DESC, id) tiebreaks over
    * the two ≤50-row candidate lists — the windows are unpartitioned but
    * their input is post-TakeOrdered, bounded by k, not the corpus (the
    * corpus-scale work is the two scorers' TakeOrderedAndProject passes).
    * The fused score is two IEEE divisions + one addition in fixed order,
    * bit-identical on any engine. */
  def q145HybridSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 50
    val lex = bm25TopK(s, dir, k)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_lex"))
    val dense = graft.operators.Similarity.knnBruteForce(
        Tables.embeddings(s, dir), "vec_id", "embedding", 0L, k)
      .withColumn("r_dense",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("r_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_dense"),
        (coalesce(lit(1.0) / (lit(60.0) + col("r_lex").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("r_dense").cast("double")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** q146: the 80-core of the co-purchase graph — iterative peeling by
    * incremental degree maintenance
    * ([[graft.operators.KCore.kCoreIncremental]]: the edge set is
    * materialized once; each round drops the degree<k nodes and
    * subtracts their incident edges from the |V|-sized degree table until
    * fixpoint), the canonical dense-substructure extraction. The engine
    * iterates to convergence (throwing if `maxRounds` isn't enough); the
    * oracle unrolls the plain peel 12 rounds in SQL — rounds past the
    * fixpoint are no-ops, so the two agree exactly (the PageRank
    * unrolled-iteration precedent). */
  def q146KCore(s: SparkSession, dir: String): DataFrame =
    graft.operators.KCore.kCoreIncremental(
        graft.sources.CoPurchaseGraph.distinctEdges(s, dir), "pa", "pb",
        k = 80, maxRounds = 12)
      .select(col("node").as("part"), col("core_deg"))

  /** q148: label-propagation communities over the co-purchase graph — 3
    * synchronous rounds ([[graft.operators.LabelProp.communities]]: adopt
    * the most frequent neighbor label, ties to the smallest), the
    * classic near-linear community detector. Deterministic by
    * construction (synchronous updates, total tie order), so the oracle
    * replays the SAME 3 rounds unrolled in SQL and the labels agree
    * bit-for-bit (the PageRank unrolled-iteration precedent). */
  def q148LabelProp(s: SparkSession, dir: String): DataFrame =
    graft.operators.LabelProp.communities(
        graft.sources.CoPurchaseGraph.distinctEdges(s, dir), "pa", "pb",
        rounds = 3)
      .select(col("node").as("part"), col("label").as("community"))

  /** q149: seed-set expansion by multi-source BFS — hop distance from the
    * Brand#11 parts over the co-purchase graph, capped at 2 hops
    * ([[graft.operators.Bfs.hopDistances]]): "everything co-purchased
    * within two links of the vetted slice", the unit-weight shortest-path
    * primitive. Frontier-expanded on the engine side; the oracle unrolls
    * the same two rounds in SQL (minimal distances are unique, so there
    * is no tie order to disagree on). */
  def q149BfsHops(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.part(s, dir).filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey").as("node"))
    graft.operators.Bfs.hopDistances(
        graft.sources.CoPurchaseGraph.distinctEdges(s, dir), "pa", "pb",
        seeds, "node", maxHops = 2)
      .select(col("node").as("part"), col("dist"))
  }

  /** q151: widest-path ASSOCIATION STRENGTH from the same Brand#11 seed
    * slice — edge weight = number of orders co-purchasing the pair, a
    * node's strength = the best bottleneck over ≤2-hop paths
    * ([[graft.operators.WidestPath.capacities]], the (max, min) semiring
    * complement of q149's hop distance: not "how far" but "how strongly
    * linked"). Integer min/max throughout, so the oracle's unrolled
    * relaxations agree exactly. */
  def q151WidestPath(s: SparkSession, dir: String): DataFrame = {
    val weighted = graft.sources.CoPurchaseGraph.weighted(s, dir)
      .select(col("pa"), col("pb"), col("norders").as("w"))
    val seeds = Tables.part(s, dir).filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey").as("node"))
    graft.operators.WidestPath.capacities(weighted, "pa", "pb", "w",
        seeds, "node", rounds = 2)
      .select(col("node").as("part"), col("cap").as("strength"))
  }

  /** q106: temperature-scaled source mixing (alpha = 0.5): each source's
    * share of a fixed sampling budget is proportional to sqrt(n_docs) —
    * the standard flattening that keeps small high-quality sources from
    * drowning under the crawl. All-integer weights (floor of the IEEE —
    * hence correctly-rounded and portable — sqrt) and integer `div`
    * allocation make the result exact on both engines. The global sum runs
    * as an unpartitioned window over the POST-AGGREGATE per-source rows —
    * bounded by the number of sources, not the corpus. */
  def q106TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    counts.withColumn("total", sum(col("weight")).over(all))
      .withColumn("alloc", expr("CAST((100000 * weight) DIV total AS BIGINT)"))
      .select("source", "n_docs", "weight", "alloc")
  }

  // q107: the ORC copy is written once per (JVM, sf-dir); the query reads
  // it back — the round-trip is the operator under test.
  private def orcLineitem(s: SparkSession, dir: String): String =
    Materialized.dir(s"orc:$dir", perPass = false)(
      Tables.lineitem(s, dir).write.mode("overwrite").orc(_))

  /** q107: ORC source/sink round-trip — lineitem written as ORC, read
    * back, filtered and aggregated. ORC is Spark-native (columnar,
    * predicate-pushdown, vectorized reader — see the ScaleQueriesSpec
    * pushdown assertion); the oracle aggregates the original parquet, so
    * identical results prove the format round-trip is lossless including
    * timestamp fidelity. */
  def q107OrcRoundtrip(s: SparkSession, dir: String): DataFrame =
    s.read.orc(orcLineitem(s, dir))
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        dsum(col("l_quantity")).as("sum_qty"))

  /** q108: the schema-inference on-ramp ([[graft.sources.InferredRead]]):
    * journey CSV read with inferred types, then aggregated on columns
    * whose inferred types must have come out integral for the result to
    * match the oracle's typed read. Covers SURVEY §2.1's inferSchema
    * surface (the reference's default read mode) as an explicit
    * exploration entry point. */
  def q108InferredCsv(s: SparkSession, dir: String): DataFrame =
    graft.sources.InferredRead.csv(s, s"${Tables.fixtureDir}/journey.csv")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("Bike Id")).as("n_bikes"),
        sum(col("Duration")).cast("long").as("total_duration"))

  /** q109: PageRank over the trade graph — nations as nodes, customer
    * nation → supplier nation order flow as weighted edges (built by the
    * full lineitem⋈orders⋈customer⋈supplier join: the SCALE part of this
    * query is the edge derivation over the fact table; the 3 rank
    * iterations then run as joins on the small node set). Fixed-point
    * integer arithmetic throughout ([[graft.operators.PageRank]]), so the
    * iterated ranks are bit-identical on any engine. */
  def q109NationPagerank(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(s, dir)
    val nodes = nation.select(col("n_nationkey").as("node"))
    graft.operators.PageRank.ranks(s, nodes, nationTradeEdges(s, dir),
        iters = 3)
      .join(nation, col("node") === col("n_nationkey"))
      .select(col("n_name"), col("rank"))
  }

  /** The q109/q147 trade graph: customer nation → supplier nation order
    * flow, weighted by lineitem count. The SCALE part is this fact-table
    * join; both rank queries then iterate over the 25-node result. */
  private def nationTradeEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** q147: PERSONALIZED PageRank over the same trade graph — teleport
    * restricted to the ASIA nations ([[graft.operators.PageRank
    * .personalizedRanks]]), i.e. "which nations does trade flow reach
    * from this trusted seed slice", the seed-set-expansion measure a
    * curation pipeline uses to pull in data similar to a vetted subset.
    * Fixed-point integer arithmetic as in q109, so the oracle's unrolled
    * iterations agree bit-for-bit. */
  def q147PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(s, dir)
    val nodes = nation.select(col("n_nationkey").as("node"))
    val seeds = nation
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("node"))
    graft.operators.PageRank.personalizedRanks(s, nodes,
        nationTradeEdges(s, dir), seeds, iters = 3)
      .join(nation, col("node") === col("n_nationkey"))
      .select(col("n_name"), col("rank"))
  }

  /** q110: SemDeDup — semantic near-duplicate pairs via coarse k-means
    * clustering + within-cluster exact cosine verify
    * ([[Similarity.semDedupPairs]]), over the q43 corpus (embeddings plus
    * perturbed copies of every 20th vector, cos ≥ 0.9997 to their
    * original). Same planted dups, different discovery machinery: q43
    * finds them by LSH hash collision, this by cluster co-residency. */
  def q110SemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val perturbed = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") * 1.05).cast("float")).otherwise(x))
          .as("embedding"))
    graft.operators.Similarity.semDedupPairs(e.unionByName(perturbed),
      "vec_id", "embedding", k = 8, sampleMod = 10L, maxSample = 1000,
      thresholdNum = 999L, thresholdDen = 1000L)
  }

  /** q111: distributed Pearson correlation from EXACT integer moment sums
    * — per source, corr(n_chars, token_count). Float `corr()` sums doubles
    * in partition order and is unreproducible; here all five moments
    * (Σx, Σy, Σxy, Σx², Σy²) are integer sums (one partial-aggregating
    * pass, order-free), and the correlation is four IEEE ops on the exact
    * scalars — bit-identical on any engine, at any parallelism. Overflow
    * headroom is structural: per-group n·Σxy stays under 2^63 whenever
    * n·(max·max)·n fits, which holds to ~10^9 docs per group at these
    * value ranges. */
  def q111CorrExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("source"),
      col("n_chars").as("x"),
      size(split(col("text"), " ")).cast("long").as("y"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("source"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("corr"))
  }

  /** q113: CUBE grouping sets — counts and exact-decimal value sums at
    * (type, day), (type), (day), and grand-total levels in one pass (the
    * companion to q56's ROLLUP; the (day)-only slice is the one a rollup
    * cannot produce). Subtotal NULLs surface as the 'ALL' sentinel. */
  def q113Cube(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .cube(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day").cast("string"), lit("ALL")).as("day"),
        col("n"), col("total_value"))

  /** q114: SQL set operations with SET (distinct) semantics — the §2.8
    * completion beyond UNION: (A INTERSECT B) EXCEPT C over three
    * overlapping doc-id slices (independent salted-hash halves, so each
    * pairwise overlap is ~50% and the result is ~1/8 of the corpus —
    * non-degenerate at any sf). Spark plans INTERSECT as a distinct
    * left-semi and EXCEPT as a distinct left-anti — both hash-partitioned
    * equi-joins, no sort, no cross. */
  def q114SetOps(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"))
    def slice(tag: Int) = d.filter(
      graft.functions.TextFunctions.md5Long(
        concat(col("doc_id").cast("string"), lit(s":sl$tag"))) % 2 === 0)
    slice(1).intersect(slice(2)).except(slice(3))
  }

  /** q116: fuzzy string self-join at Levenshtein ≤ 1 via the FastSS
    * deletion-neighborhood equi-join ([[graft.operators.Fuzzy]]) — never
    * all-pairs (that's the oracle's job). Corpus: distinct word-trigram
    * strings from a bounded doc slice, plus planted second-char-deletion
    * typos of a hash-chosen subset — every planted typo is exactly one
    * edit from its source, so the operator's recall is directly on trial. */
  def q116FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val base = graft.operators.Dedup.shingleSets(
        Tables.documents(s, dir).filter(col("doc_id") % 37 === 0),
        "doc_id", "text", 3)
      .select(explode(col("shingles")).as("str")).distinct()
    val typos = base
      .filter(graft.functions.TextFunctions.md5Long(col("str")) % 5 === 0)
      .select(concat(substring(col("str"), 1, 1),
        col("str").substr(lit(3), lit(1000))).as("str"))
    val corpus = base.union(typos).distinct()
    graft.operators.Fuzzy.editDistance1Pairs(corpus, "str")
  }

  /** q117: calendar gap-fill with forward fill — the time-series repair a
    * dashboard needs when sparse daily aggregates leave holes. The spine is
    * generated per event type (explode of a date sequence — no cross join),
    * the sparse aggregate left-joins on, and `last(ignoreNulls)` over a
    * per-type calendar window carries the latest observation forward
    * (NULL before the first). The window partitions by a scale key, but
    * its input is the POST-AGGREGATE grid — one row per (type, day),
    * calendar-bounded regardless of corpus size (PlanGuard carries the
    * exemption with this justification). */
  def q117GapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val daily = ev.filter(col("value") > lit(300.0))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("day_value"), count(lit(1)).as("n"))
    val mm = ev.agg(min(to_date(col("ts"))), max(to_date(col("ts")))).first()
    val spine = ev.select("event_type").distinct()
      .select(col("event_type"),
        explode(sequence(lit(mm.getDate(0)), lit(mm.getDate(1)))).as("day"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day").cast("string").as("day"),
        last(col("day_value"), ignoreNulls = true).over(w).as("ffill_value"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  // q118 constants: 3×256 sketch, probes covering a frequent word, a
  // mid word, and an ABSENT word (whose estimate is pure collision mass —
  // the overcount-only guarantee on display).
  private val CmsD = 3
  private val CmsW = 256
  private val CmsProbes = Seq("join", "vector", "zzz_absent")

  /** q118: Count-Min sketch frequency estimates
    * ([[graft.expressions.CountMinSketch]]): ONE distributed pass builds
    * the d·w-counter sketch (map-side mergeable; the shuffle carries 768
    * longs per partition, never the vocabulary), then the probe estimates
    * are bounded driver arithmetic over the returned array — min over d
    * of the probe's bucket counters. The oracle REBUILDS every probed
    * counter from the raw words with the same md5 bucket function, so the
    * sketch contents (not just the shape) are verified. */
  def q118CmsCounts(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{CountMinSketch, GraftFunctions}
    val words = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
    val sk: Seq[Long] = words
      .agg(GraftFunctions.countMin(col("word"), CmsD, CmsW))
      .first().getSeq[Long](0) // bounded driver read: d*w longs
    val rows = CmsProbes.map { p =>
      val est = (0 until CmsD)
        .map(r => sk(r * CmsW + CountMinSketch.bucket(r, p, CmsW))).min
      (p, est)
    }
    import s.implicits._
    rows.toDF("word", "est")
  }

  /** q119: the TYPED-API face of q111 — the same exact-integer-moment
    * correlation computed through `Dataset`/`KeyValueGroupedDataset.agg`
    * with a case-class [[graft.operators.MomentsAgg]] Aggregator (the
    * `org.apache.spark.sql.expressions.Aggregator` surface, compile-time
    * typed end to end). Same oracle SQL as q111: the two API paths must
    * produce bit-identical doubles. */
  def q119TypedCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = Tables.documents(s, dir)
      .select(col("source"),
        col("n_chars").as("x"),
        size(split(col("text"), " ")).cast("long").as("y"))
      .as[(String, Long, Long)]
    ds.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.operators.MomentsAgg().toColumn.name("m"))
      .toDF("source", "m")
      .select(col("source"), col("m.n").as("n"),
        ((col("m.n") * col("m.sxy") - col("m.sx") * col("m.sy")).cast("double") /
          (sqrt((col("m.n") * col("m.sxx") - col("m.sx") * col("m.sx")).cast("double")) *
            sqrt((col("m.n") * col("m.syy") - col("m.sy") * col("m.sy")).cast("double"))))
          .as("corr"))
  }

  // q120: the bloom-filtered copy is written once per (JVM, sf-dir)
  private def bloomLineitem(s: SparkSession, dir: String): String =
    Materialized.dir(s"pqbloom:$dir", perPass = false)(
      Sinks.writeParquetBloom(Tables.lineitem(s, dir), _, Seq("l_orderkey" -> 20000L)))

  /** Test hook: the bloom-filtered table's path (builds it if needed). */
  private[graft] def bloomLineitemPathForTest(s: SparkSession, dir: String): String =
    bloomLineitem(s, dir)

  /** q120: point lookup over a parquet table written with a COLUMN BLOOM
    * FILTER on the key ([[Sinks.writeParquetBloom]]) — at 100 TB, a
    * `key = x` probe skips every row group whose bloom rejects x without
    * touching data pages (ScaleQueriesSpec asserts the filter bytes exist
    * in the footer and the predicate reaches the scan). The oracle runs
    * the same lookup on the original parquet: the bloom may only skip,
    * never change results. */
  def q120BloomLookup(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(bloomLineitem(s, dir))
      .filter(col("l_orderkey") === 42L)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))

  /** q121: INCREMENTAL sketch maintenance end-to-end — the corpus is split
    * into two disjoint "weekly batches" (hash halves), each batch builds
    * its own Count-Min sketch in its own aggregation, and the MERGED
    * sketch (element-wise `zip_with` addition — CMS is a linear projection
    * of the count vector) answers the same probes as q118's whole-corpus
    * build. This is the weekly-100-TB contract: sketch the new batch,
    * ADD it to the stored sketch, never rescan history — and the oracle
    * (identical to q118's whole-corpus rebuild) proves additivity is
    * lossless, not just shape-compatible. */
  def q121SketchUnion(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.{CountMinSketch, GraftFunctions}
    val words = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))
    val half = graft.functions.TextFunctions.md5Long(
      concat(col("doc_id").cast("string"), lit(":wk"))) % 2
    def sketch(df: DataFrame): DataFrame =
      df.agg(GraftFunctions.countMin(col("word"), CmsD, CmsW).as("sk"))
    val merged = sketch(words.filter(half === 0))
      .crossJoin(sketch(words.filter(half === 1)).withColumnRenamed("sk", "sk2"))
      .select(zip_with(col("sk"), col("sk2"), (a, b) => a + b).as("sk"))
      .first().getSeq[Long](0) // bounded driver read: d*w longs (1x1 row join)
    val rows = CmsProbes.map { p =>
      val est = (0 until CmsD)
        .map(r => merged(r * CmsW + CountMinSketch.bucket(r, p, CmsW))).min
      (p, est)
    }
    import s.implicits._
    rows.toDF("word", "est")
  }

  /** q122: q74's near-dup clustering with the STAR-CONTRACTION component
    * algorithm ([[graft.operators.Dedup.connectedComponentsContracted]],
    * O(log n) rounds vs label propagation's O(diameter)) — same exact
    * pairs, same recursive-CTE oracle as q74, so the two algorithms are
    * proven interchangeable through the correctness gate, not just in
    * unit tests. */
  def q122CcContracted(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sets = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3).persist()
    val pairs = graft.operators.Dedup
      .jaccardPairsExactOnSets(sets, thresholdNum = 4, thresholdDen = 5)
      .select("id_a", "id_b").persist()
    val labels = graft.operators.Dedup
      .connectedComponentsContracted(docs, pairs, "doc_id")
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "cluster_id").select("doc_id", "cluster_id", "n_members")
  }

  /** q123: FULL OUTER reconciliation — the table-diff shape (§2.4's one
    * missing join type): two derived order snapshots (overlapping key
    * slices, a deterministic "price update" on part of the overlap) full-
    * outer-joined on the key and classified added / removed / changed /
    * unchanged with exact-decimal net price deltas. One shuffle on the
    * key; the classification is pure row-local arithmetic. */
  def q123FullOuter(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
    val a = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").as("p_a"))
    val b = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("p_b"))
    a.join(b, Seq("o_orderkey"), "full_outer")
      .select(
        when(col("p_a").isNull, "added")
          .when(col("p_b").isNull, "removed")
          .when(col("p_a") =!= col("p_b"), "changed")
          .otherwise("unchanged").as("status"),
        (coalesce(col("p_b"), lit(0.0)) - coalesce(col("p_a"), lit(0.0))).as("d"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), dsum(col("d")).as("net_delta"))
  }

  /** q124: SQL-surface subquery forms — a correlated EXISTS plus a scalar
    * aggregate subquery in one statement, run through `spark.sql` over
    * registered views (Catalyst rewrites EXISTS to a left-semi join and
    * the scalar subquery to a broadcast one-row join — no per-row
    * re-execution). The scalar threshold uses the exact-decimal mean so
    * both engines compare against the same double. */
  def q124SubquerySql(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT s_name, s_acctbal FROM supplier_v s
        |WHERE s_acctbal > (SELECT CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE)
        |                          / count(*) FROM supplier_v)
        |  AND EXISTS (SELECT 1 FROM lineitem_v l
        |              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 45)""".stripMargin)
  }

  /** q125: uniform random k-per-group sample (the corpus-QA draw: "show me
    * 5 random docs from every source") as a BOUNDED-STATE aggregate — the
    * per-row priority is the salted 60-bit hash (uniform, deterministic,
    * partitioning-independent) and [[graft.expressions.TopKByScore]] keeps
    * the k best per group map-side, so the shuffle carries k pairs per
    * (partition, source) instead of rank-window-sorting each source in one
    * task. Pure-integer ordering (hash DESC, id ASC) — the oracle's rank
    * window selects identically. Distinct salts give independent draws. */
  def q125GroupSample(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.GraftFunctions.topKByScore
    val h = graft.functions.TextFunctions.md5Long(
      concat(col("doc_id").cast("string"), lit(":q125")))
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), h.as("h"))
      .groupBy("source")
      .agg(topKByScore(col("h"), col("doc_id"), 5).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"))
  }

  // q126: CTAS target, created once per (JVM, sf-dir)
  private def ctasTable(s: SparkSession, dir: String): String =
    Materialized.value(s"ctas:$dir", perPass = false) {
      val tag = java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
      val t = s"graft_ctas_pri_$tag"
      Tables.orders(s, dir).createOrReplaceTempView(s"orders_ctas_src_$tag")
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(
        s"""CREATE TABLE $t USING parquet AS
           |SELECT o_orderpriority, o_orderstatus,
           |  count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
           |FROM orders_ctas_src_$tag
           |GROUP BY o_orderpriority, o_orderstatus""".stripMargin)
      t
    }

  /** q126: SQL DDL surface — CREATE TABLE AS SELECT into the catalog
    * (managed parquet), then query the WRITTEN table. The oracle recomputes
    * the aggregate from raw orders, so the materialization round-trip
    * (CTAS write + catalog read-back) is what's under test. */
  def q126Ctas(s: SparkSession, dir: String): DataFrame =
    s.table(ctasTable(s, dir))
      .filter(col("n") > lit(0L))
      .select("o_orderpriority", "o_orderstatus", "n", "total")

  /** q127: schema-evolution union — an old snapshot (no `priority_class`
    * column) unioned with a new vintage that carries it, via
    * `unionByName(allowMissingColumns = true)`: old rows surface NULL for
    * the new column, positions don't matter, and the combined aggregate is
    * what a reader over mixed table vintages computes. The oracle uses
    * UNION ALL BY NAME over the same two projections. */
  def q127UnionEvolve(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val oldVintage = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val newVintage = o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        substring(col("o_orderpriority"), 1, 1).as("priority_class"))
    oldVintage.unionByName(newVintage, allowMissingColumns = true)
      .groupBy(coalesce(col("priority_class"), lit("legacy")).as("priority_class"))
      .agg(count(lit(1)).as("n"), countDistinct(col("o_orderpriority")).as("n_priorities"))
  }

  /** q128: IVF-PQ composite ANN — the billion-scale index architecture in
    * miniature: the trained coarse quantizer (q46's machinery) routes the
    * query to ONE cell, and the PQ ADC scan (q100's machinery, codebooks
    * trained corpus-wide) ranks only that cell's members. Search cost is
    * cell-size × M table lookups instead of corpus × dim multiplies; the
    * oracle recomputes quantizer, cell membership, codebooks, codes, and
    * distance tables from scratch, so both stages compose bit-exactly.
    * Recall is the IVF trade (nprobe = 1 here; q91 shows the multi-probe
    * dial). */
  def q128IvfPq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Pq, Similarity}
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val centroids = Similarity.trainCentroidsLite(
      e, "vec_id", "embedding", k = 4, sampleMod = 10L, maxSample = 1000)
    val assigned = e.withColumn("cell",
      Similarity.ivfAssign(col("embedding"), centroids).cast("long"))
    // two bounded driver reads: the query vector and its cell (1 row each)
    val qRow = assigned.filter(col("vec_id") === 7).first()
    val q = qRow.getSeq[Float](1).toArray.map(_.toDouble)
    val qCell = qRow.getLong(2)
    val cell = assigned.filter(col("cell") === qCell).select("vec_id", "embedding")
    val cbs = Pq.trainCodebooks(e, "vec_id", "embedding",
      m = 4, k = 4, sampleMod = 10, maxSample = 1000)
    Pq.adcSearch(cell, "vec_id", "embedding", q, cbs, excludeId = 7L, topK = 10)
  }

  // q132: the manifest table is written once per (JVM, sf-dir) — data
  // skipping amortizes the clustering write across every later range read,
  // exactly like q102's bucketed tables amortize their shuffle.
  private def manifestOrders(s: SparkSession, dir: String): String =
    Materialized.dir(s"skip:$dir", perPass = false)(
      Sinks.writeWithManifest(Tables.orders(s, dir), _, "o_orderkey", numFiles = 16))

  /** q132: manifest-driven data skipping ([[Sinks.writeWithManifest]] /
    * [[Sinks.readSkipping]]): orders range-clustered on o_orderkey into 16
    * files with a one-file min/max manifest; a narrow key-range query then
    * opens ONLY the files whose span intersects the range — the
    * ScaleQueriesSpec assertion pins the pruning (≤2 of 16 files read).
    * The oracle runs the same range over the ORIGINAL parquet, so the
    * result also proves the clustered rewrite is lossless. */
  def q132SkippingScan(s: SparkSession, dir: String): DataFrame =
    Sinks.readSkipping(s, manifestOrders(s, dir), Seq(("o_orderkey", 4000L, 4999L)))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))

  // q136: one z-ordered write per (JVM, sf-dir), amortized like q132's
  // range-clustered table.
  private def zorderOrders(s: SparkSession, dir: String): String =
    Materialized.dir(s"zskip:$dir", perPass = false)(
      Sinks.writeClusteredWithManifest(
        graft.operators.ZOrder.zOrdered(Tables.orders(s, dir),
          "o_custkey", "o_orderkey", numFiles = 16),
        _, Seq("o_custkey", "o_orderkey")))

  /** q136: MULTI-DIMENSIONAL data skipping — [[q132SkippingScan]]'s
    * manifest generalized to several stats columns over a Z-ORDER
    * clustered layout ([[graft.operators.ZOrder.zOrdered]] +
    * [[Sinks.writeClusteredWithManifest]]). Because Morton-curve files
    * cover compact rectangles in (custkey, orderkey) space, a 2-D box
    * predicate prunes files on BOTH dimensions from the one-file manifest
    * — a 1-D clustering can only ever prune on its own sort key (the
    * ScaleQueriesSpec case proves the contrast). The oracle runs the box
    * over the ORIGINAL parquet, so the clustered rewrite is also checked
    * lossless. */
  def q136ZorderSkipping(s: SparkSession, dir: String): DataFrame =
    Sinks.readSkipping(s, zorderOrders(s, dir),
      Seq(("o_custkey", 300L, 449L), ("o_orderkey", 2000L, 5999L)))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))

  // q138: base write + manifest append, once per (JVM, sf-dir).
  private def appendedOrders(s: SparkSession, dir: String): String =
    Materialized.dir(s"mappend:$dir", perPass = false) { tmp =>
      val orders = Tables.orders(s, dir)
      Sinks.writeWithManifest(orders.filter(col("o_orderkey") % 10 =!= 0),
        tmp, "o_orderkey", numFiles = 12)
      Sinks.appendWithManifest(orders.filter(col("o_orderkey") % 10 === 0)
        .repartition(2), tmp, Seq("o_orderkey"))
    }

  /** q138: MANIFEST MAINTENANCE UNDER APPEND — the week-2 story of q132.
    * The table is initialized with 90% of orders (range-clustered +
    * manifest), then the remaining 10% arrives as an append batch through
    * [[Sinks.appendWithManifest]]: staged files, stats computed, files
    * moved in, manifest swap-committed LAST (so skipping reads see a
    * complete snapshot on either side of the commit). The range read then
    * must serve rows from BOTH vintages — `n_appended` counts the
    * append-batch rows in range, so a manifest that missed the new files
    * zeroes a column and breaks the hash. Oracle: the same range over the
    * original un-split table. */
  def q138ManifestAppend(s: SparkSession, dir: String): DataFrame =
    Sinks.readSkipping(s, appendedOrders(s, dir), Seq(("o_orderkey", 6000L, 7499L)))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
        sum(when(col("o_orderkey") % 10 === 0, 1L).otherwise(0L)).as("n_appended"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))

  // q131 constants — b=6 gives m=64 one-byte registers; maxRho = 60-6+1.
  // AlphaNum is alpha_64 * m^2 * 2^maxRho with alpha_64 = 0.709 (the HLL
  // paper's constant for m=64), multiplied LEFT-TO-RIGHT so the oracle's
  // `CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0` lands on the
  // bit-identical double.
  private val HllB = 6
  private val HllMaxRho = 55
  private val HllAlphaNum: Double = 0.709 * 4096.0 * 36028797018963968.0

  /** zeros / integer-harmonic-sum / raw-estimate summary of an HLL
    * register vector — every op integer until the single final divide. */
  private def hllZeros(regs: String): Column =
    expr(s"CAST(size(filter($regs, x -> x = 0)) AS INT)")
  private def hllHsum(regs: String): Column =
    expr(s"aggregate($regs, CAST(0 AS BIGINT), " +
      s"(acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), $HllMaxRho - x))")
  private def hllEst(hsum: Column): Column = lit(HllAlphaNum) / hsum.cast("double")

  /** q131: HyperLogLog distinct-part estimate per return flag PLUS the
    * union row — the `*ALL*` sketch is the element-wise MAX of the three
    * per-group register vectors (union of sketches), while the oracle
    * rebuilds it from the raw rows (sketch of union): equality IS HLL's
    * lossless-merge property, the same proof shape as q121's Count-Min
    * additivity. State is 64 BYTES per group at any scale; the exact
    * count-distinct column rides along as the accuracy baseline (~13%
    * expected error at m=64). See [[graft.expressions.HllRegisters]]. */
  def q131HllDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.expressions.GraftFunctions
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("grp"), col("l_partkey"),
      graft.functions.TextFunctions.md5Long(col("l_partkey").cast("string")).as("h"))
    val perGrp = li.groupBy("grp").agg(
      GraftFunctions.hllRegisters(col("h"), HllB).as("regs"),
      countDistinct(col("l_partkey")).as("exact_nd"))
      .persist()
    val grpRows = perGrp.select(col("grp"), hllZeros("regs").as("zeros"),
      hllHsum("regs").as("hsum"), hllEst(hllHsum("regs")).as("est"), col("exact_nd"))
    // union of sketches: element-wise max over the per-group vectors
    // (m rows per group, m bounded by the sketch parameter, never data)
    val mergedStats = perGrp
      .select(posexplode(col("regs")).as(Seq("j", "r")))
      .groupBy(col("j")).agg(max(col("r")).as("r"))
      .agg(sum(when(col("r") === 0, 1).otherwise(0)).cast("int").as("zeros"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllMaxRho - r)")).cast("long").as("hsum"))
      .withColumn("k", lit(1))
    val allExact = li.agg(countDistinct(col("l_partkey")).as("exact_nd"))
      .withColumn("k", lit(1))
    val allRow = mergedStats.join(allExact, "k") // 1x1 broadcast equi join
      .select(lit("*ALL*").as("grp"), col("zeros"), col("hsum"),
        hllEst(col("hsum")).as("est"), col("exact_nd"))
    grpRows.unionByName(allRow)
  }

  /** q133: distributed BPE tokenizer TRAINING over the documents table —
    * 8 merge rounds learned from the word-frequency table (corpus scanned
    * once; every round iterates over the vocabulary, not the text — see
    * [[graft.operators.BpeTrain]]). The oracle REPLAYS training verbatim:
    * 8 unrolled rounds of pair-count → deterministic argmax → bracketed
    * `replace`, so every learned rule (choice AND count) is independently
    * reproduced by a second engine. */
  // Trained merges are deterministic per corpus, so q133/q134 share one
  // training run per (pass, sf-dir). Plain data (not catalog state), so
  // session turnover can't invalidate it.
  private def trainedMerges(s: SparkSession, dir: String): Seq[graft.operators.BpeTrain.Merge] =
    Materialized.value(s"bpe:$dir", perPass = true)(graft.operators.BpeTrain.train(
      graft.operators.BpeTrain.wordFreq(Tables.documents(s, dir), "text"), numMerges = 8))

  def q133BpeTrain(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir)
    s.createDataFrame(merges)
      .select(col("step"), col("lhs"), col("rhs"), col("merged"), col("cnt"))
  }

  /** q134: BPE ENCODE — tokenize the corpus with q133's learned rules.
    * The merge table (8 rows, driver-side by construction) is folded into
    * the plan as a chain of narrow `replace` literals
    * ([[graft.operators.BpeTrain.applyMerges]]): no join, no shuffle until
    * the final per-language aggregate. The oracle re-derives the rules AND
    * re-tokenizes every word through training's final vocabulary state, so
    * token boundaries are verified end-to-end. */
  def q134BpeEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BpeTrain
    val merges = trainedMerges(s, dir)
    val words = Tables.documents(s, dir).select(col("lang"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
    words
      .select(col("lang"),
        explode(BpeTrain.symbols(BpeTrain.applyMerges(BpeTrain.initialSeq(col("word")), merges))).as("tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("total_tokens"),
        countDistinct(col("tok")).as("distinct_tokens"),
        sum(length(col("tok"))).cast("long").as("total_chars"))
  }

  /** q135: unseen-bigram rate — an LM-style fluency/novelty signal with
    * integer-exact semantics. One scan builds the corpus bigram-count
    * table (hash groupBy — the "language model"); each document's bigrams
    * then equi-join back to their corpus counts and a bigram is RARE when
    * its corpus count is ≤ 2. Per language: document/bigram/rare totals
    * (pure integers) plus one final divide for the rate — the only double
    * op, bit-exact cross-engine. At 100 TB both sides of the join are
    * corpus-scale but it is a plain shuffled equi-join on (w1, w2);
    * no window, no driver state. */
  /** Shared by q280/q281: per-doc add-one-smoothed bigram surprise —
    * the CCNet-class LM quality filter in exact integer arithmetic.
    * Corpus bigram LM (hash groupBy on (w1, w2) + the history counts on
    * w1), add-1 smoothing P(w2|w1) = (c₁₂+1)/(c₁+V) with V the corpus
    * vocabulary, and the per-bigram SURPRISE in whole bits:
    * floor(log₂((c₁+V) div (c₁₂+1))) — computed as
    * length(bin(n)) − 1, the exact bit length of an exact integer
    * quotient, so both engines agree on every value with no
    * transcendental in sight (the q160 no-floats convention; a real
    * filter thresholds on the score, so whole-bit resolution per bigram
    * — i.e. millibit resolution per document after pooling — is the
    * usable signal). Returns (doc_id, source, n_bigrams, sbits).
    * Scale shape: one bigram-count aggregate, one vocab-sized history
    * table joined by equi-key, one scalar vocab crossJoin — the q135
    * skeleton; no window, no driver state. */
  private def docSurprise(s: SparkSession, dir: String): DataFrame = {
    val ws = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("ws"))
    val vocab = ws.select(explode(col("ws")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val wd = ws.filter(size(col("ws")) >= 2)
    val bg = wd.select(col("doc_id"), col("source"),
      explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("source"), col("p.w1"), col("p.w2"))
    // Surprise depends only on the bigram TYPE, so score the type table
    // and join back once (r17, guide §2.3 "shuffle fewer bytes"): the old
    // shape joined the per-OCCURRENCE stream by (w1, w2), then re-exchanged
    // the joined occurrences by w1 for the history counts — two full
    // occurrence-scale shuffles that the type-level join makes type-scale.
    // c1 (history-count per w1) folds from cb by sum, identically.
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val c1 = cb.groupBy("w1").agg(sum(col("cb")).as("c1"))
    val sb = cb.join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("surprise", expr("length(bin((c1 + v) div (cb + 1))) - 1"))
      .select("w1", "w2", "surprise")
    bg.join(sb, Seq("w1", "w2"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("surprise")).cast("long").as("sbits"))
  }

  /** q280: per-document bigram cross-entropy quality score — the
    * standard CCNet-style LM filter signal: a document whose bigrams
    * are all corpus-frequent scores low (fluent, typical), one full of
    * unseen transitions scores high (noise, boilerplate soup, wrong
    * language). `xent_millibits` = mean surprise per bigram in
    * millibits, exact integer division of exact integers. */
  def q280BigramXent(s: SparkSession, dir: String): DataFrame =
    docSurprise(s, dir)
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        expr("sbits * 1000 div n_bigrams").as("xent_millibits"))

  /** q281: per-source cross-entropy profile — the corpus-curation view
    * of q280: pooled corpus-level millibits (total surprise over total
    * bigrams — robust to doc-length skew) plus the per-doc mean and the
    * extremes, all exact integers. The table a mixing policy thresholds
    * against. */
  def q281XentProfile(s: SparkSession, dir: String): DataFrame =
    docSurprise(s, dir)
      .withColumn("doc_mb", expr("sbits * 1000 div n_bigrams"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("total_bigrams"),
        sum(col("sbits")).as("total_sbits"),
        min(col("doc_mb")).as("min_millibits"),
        max(col("doc_mb")).as("max_millibits"))
      .select(col("source"), col("n_docs"), col("total_bigrams"),
        expr("total_sbits * 1000 div total_bigrams").as("pooled_millibits"),
        col("min_millibits"), col("max_millibits"))

  /** q284: CCNet-style perplexity buckets — the step after scoring:
    * split each source into head/middle/tail by PER-SOURCE terciles of
    * the q280 cross-entropy (a raw threshold would keep all of one
    * domain and none of another), keep head+middle (the CCNet recipe).
    * Terciles are rank-derived in pure integer arithmetic with the q78
    * machinery: per-(source, millibits) counts — bounded by the value
    * domain — feed a PrefixSum cumulative whose exclusive prefix IS
    * "docs strictly below"; bucket = (3·below) div n, ties share a
    * bucket, no per-doc window anywhere. */
  def q284CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    // persisted (r17): the doc-level score table feeds BOTH the value-
    // domain histogram and the fan-back join — without the cache the
    // whole docSurprise chain (bigram explode + type join) ran twice in
    // one plan (measured 4.6 s vs q280/q281's 1.5-1.7 s over the same
    // base). Doc-level rows only (doc_id, source, mb); the q96 persist
    // convention, reclaimed by Bench's between-pass cache clear.
    val sc = docSurprise(s, dir)
      .select(col("doc_id"), col("source"),
        expr("sbits * 1000 div n_bigrams").as("mb"))
      .persist()
    val g = sc.groupBy("source", "mb").agg(count(lit(1)).as("c"))
    val cum = graft.operators.PrefixSum.inclusive(g, Seq("source"), "mb", "c", out = "cum")
      .withColumn("below", col("cum") - col("c"))
    val totals = cum.groupBy("source").agg(max(col("cum")).as("n"))
    val buckets = cum.join(broadcast(totals), "source")
      .select(col("source"), col("mb"), expr("(3 * below) div n").as("bucket"))
    sc.join(buckets, Seq("source", "mb"))
      .select(col("doc_id"), col("source"), col("mb").as("xent_millibits"),
        col("bucket"),
        expr("CAST(CASE WHEN bucket <= 1 THEN 1 ELSE 0 END AS BIGINT)").as("kept"))
  }

  def q135BigramRarity(s: SparkSession, dir: String): DataFrame = {
    val ws = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("ws"))
      // docs with < 2 words have no bigrams; also keeps slice() off the
      // negative-length path for word-free docs
      .filter(size(col("ws")) >= 2)
    val bg = ws.select(col("doc_id"), col("lang"),
      explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("lang"), col("p.w1"), col("p.w2"))
    val counts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    bg.join(counts, Seq("w1", "w2"))
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt") <= 2, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_rate",
        col("n_rare").cast("double") / col("n_bigrams").cast("double"))
  }

  /** The shared BPE training-replay CTE block: `n` unrolled rounds in
    * plain SQL, each the direct transliteration of one
    * [[graft.operators.BpeTrain.train]] iteration — pair counts from the
    * bracketed encoding, argmax under (cnt DESC, lhs ASC, rhs ASC), then
    * one non-regex `replace` (greedy merge, see BpeTrain's object doc).
    * `v$n` (the fully-encoded vocabulary, keyed by original word) is
    * emitted so the q134 encode oracle can join against training's final
    * state; q133 leaves it unreferenced. Generated rather than
    * hand-written so the round count stays in one place; the output is a
    * fixed literal string per n. */
  private def bpeCtes(n: Int): String = {
    val head =
      """WITH w AS (
        |  SELECT word, count(*) AS cnt
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |        FROM documents)
        |  GROUP BY word),
        |v0 AS (SELECT word, regexp_replace(word, '(.)', '<\1>', 'g') AS seq, cnt FROM w)""".stripMargin
    val rounds = (1 to n).map { i =>
      s"""m$i AS (
         |  SELECT syms[i] AS lhs, syms[i+1] AS rhs, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM (SELECT regexp_extract_all(seq, '<([a-z]+)>', 1) AS syms, cnt
         |        FROM v${i - 1}) t,
         |       LATERAL (SELECT unnest(generate_series(1, len(t.syms)-1)) AS i) g
         |  GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |v$i AS (
         |  SELECT v.word, replace(v.seq, '<' || m.lhs || '><' || m.rhs || '>',
         |                 '<' || m.lhs || m.rhs || '>') AS seq, v.cnt AS cnt
         |  FROM v${i - 1} v, m$i m)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** q133 oracle: the learned merge table itself. */
  private def bpeOracleSql(n: Int): String =
    bpeCtes(n) + "\n" + (1 to n).map { i =>
      s"SELECT CAST($i AS INT) AS step, lhs, rhs, lhs || rhs AS merged, cnt FROM m$i"
    }.mkString("\nUNION ALL\n")

  /** q134 oracle: re-tokenize every word occurrence with training's final
    * vocabulary state (`v$n`, joined by word) and aggregate per language —
    * identical token boundaries or the hash breaks. */
  private def bpeEncodeOracleSql(n: Int): String =
    bpeCtes(n) +
      s""",
         |dw AS (
         |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |  FROM documents),
         |toks AS (
         |  SELECT dw.lang, unnest(regexp_extract_all(v.seq, '<([a-z]+)>', 1)) AS tok
         |  FROM dw JOIN v$n v USING (word))
         |SELECT lang, CAST(count(*) AS BIGINT) AS total_tokens,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens,
         |  CAST(sum(length(tok)) AS BIGINT) AS total_chars
         |FROM toks GROUP BY lang""".stripMargin

  /** q129: COMPRESSED text ingestion — the gzip'd journey CSV runs through
    * the same transform as the plain file (Spark's text sources decompress
    * by extension, schema/parse code untouched). The oracle reads the .gz
    * directly too. Scale note, documented not hidden: gzip is a
    * NON-SPLITTABLE codec — one stream per file — so 100-TB compressed
    * ingest wants many ~100 MB-1 GB .gz files (or zstd/bzip2 splittable
    * alternatives), never one giant archive; the engine's behavior is
    * identical either way. */
  def q129GzipCsv(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.JourneyJob
      .transform(s, s"${Tables.fixtureDir}/journey.csv.gz")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("bike_id")).as("n_bikes"),
        sum(col("Duration")).cast("long").as("total_duration"))

  /** q139: exact duplicated-substring spans at k=5 word-grams — the
    * token-level suffix-array-dedup answer, computed by k-gram df +
    * per-doc island merge with no pairwise doc×doc row anywhere
    * ([[graft.operators.Dedup.duplicateSpans]]). The oracle rebuilds
    * grams, df filter, and the gap-and-islands merge in SQL, so span
    * boundaries are pinned exactly. */
  def q139DupSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.duplicateSpans(
      Tables.documents(s, dir), "doc_id", "text", k = 5)

  /** q140: the span-dedup POLICY view — per-source duplicated-token mass
    * and the "more than 20% duplicated" doc counts a corpus clean acts
    * on. Integer policy test (dup_tokens·5 > n_tokens ⟺ rate > 0.2: no
    * float boundary), one final divide for the reported rate. */
  def q140DupProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val spans = graft.operators.Dedup.duplicateSpans(docs, "doc_id", "text", k = 5)
    val perDoc = spans.groupBy("doc_id")
      .agg(sum(col("span_tokens")).cast("long").as("dup_tokens"))
    val toks = docs.select(col("doc_id"), col("source"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_toks"))
    toks.join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("dup_tokens")).as("docs_with_dups"),
        sum(when(col("dup_tokens") * 5 > col("n_toks"), 1L).otherwise(0L))
          .as("docs_over_20pct"),
        sum(coalesce(col("dup_tokens"), lit(0L))).as("dup_tokens"),
        sum(col("n_toks")).as("total_tokens"))
      .withColumn("dup_rate",
        col("dup_tokens").cast("double") / col("total_tokens").cast("double"))
  }

  /** q142: exact per-part triangle counts over the co-purchase graph —
    * parts are nodes, an edge joins two parts bought in the same order
    * (the lineitem self-join on l_orderkey is the scale-heavy edge
    * derivation, like q109's). The count itself is
    * [[graft.operators.Triangles.perNodeCounts]]' degree-oriented wedge
    * join, whose O(√m) oriented out-degree is what survives hub parts at
    * 100 TB. The oracle re-counts with a DIFFERENT algorithm — naive
    * id-ordered enumeration over the canonical a<b edge list — so the
    * hash match is algorithm-independent agreement, not a mirror. */
  def q142TriangleCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Triangles.perNodeCounts(
        graft.sources.CoPurchaseGraph.distinctEdges(s, dir), "pa", "pb")
      .select(col("node").as("part"), col("triangles"))

  /** q257: 3-truss of the VETTED co-purchase graph (pairs bought
    * together in ≥ 2 distinct orders) — edges with a triangle witness
    * inside the surviving subgraph, by iterative support peel
    * ([[graft.operators.KTruss]]); completes the triangle-counting /
    * k-core / k-truss cohesion trio. The support floor is the
    * semantically honest input (one-off baskets mint no community
    * edges, the q208 lesson) AND the cost control: the raw graph is
    * ~1.2M edges at sf0.1 where a full 4-truss peel measures 109 s
    * (wedge enumeration × rounds — recorded, not shipped); the vetted
    * backbone is ~4k edges and peels in under a second while exercising
    * the identical operator path. The oracle unrolls the SAME peel in
    * MATERIALIZED CTEs with a no-op tail past the fixpoint, plus one
    * final support pass over the converged edge set (mirroring the
    * operator's output pass exactly). */
  def q257KTruss(s: SparkSession, dir: String): DataFrame = {
    val vetted = graft.sources.CoPurchaseGraph.weighted(s, dir)
      .filter(col("norders") >= 2)
      .select("pa", "pb")
    graft.operators.KTruss.kTruss(vetted, "pa", "pb", k = 3, maxRounds = 25)
      .orderBy("a", "b")
  }

  /** q257's oracle: R unrolled peel rounds + the final support pass.
    * Vetting counts DISTINCT ORDERS per pair (the engine's collect_set
    * semantics) — a raw lineitem self-join would instead count lineitem
    * pairs, inflated whenever a part repeats within one order. */
  private[queries] def ktrussOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(
      """WITH op AS MATERIALIZED (
        |  SELECT DISTINCT x.l_orderkey AS ok,
        |    least(x.l_partkey, y.l_partkey) AS a,
        |    greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
        |e0 AS MATERIALIZED (
        |  SELECT a, b FROM op GROUP BY a, b HAVING count(*) >= 2)""".stripMargin)
    def triSupport(n: String, src: String): String =
      s"""t$n AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $src e1 JOIN $src e2 ON e1.a = e2.a AND e1.b < e2.b
         |  WHERE EXISTS (SELECT 1 FROM $src e3
         |                WHERE e3.a = e1.b AND e3.b = e2.b)),
         |s$n AS MATERIALIZED (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT x AS a, y AS b FROM t$n
         |    UNION ALL SELECT x AS a, z AS b FROM t$n
         |    UNION ALL SELECT y AS a, z AS b FROM t$n)
         |  GROUP BY 1, 2)""".stripMargin
    for (r <- 1 to rounds) {
      sb.append(",\n" + triSupport(r.toString, s"e${r - 1}"))
      sb.append(s""",
        |e$r AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e${r - 1} e LEFT JOIN s$r s USING (a, b)
        |  WHERE coalesce(s.c, 0) >= ${k - 2})""".stripMargin)
    }
    sb.append(",\n" + triSupport("F", s"e$rounds"))
    sb.append(s"""
      |SELECT e.a, e.b, coalesce(s.c, 0) AS support
      |FROM e$rounds e LEFT JOIN sF s USING (a, b)
      |ORDER BY e.a, e.b""".stripMargin)
    sb.toString
  }

  /** q144: local clustering coefficients over the same co-purchase graph —
    * for every part of degree ≥ 2, the fraction of its co-purchase
    * neighbor pairs that are themselves co-purchased
    * ([[graft.operators.Triangles.perNodeStats]]). Degrees and triangle
    * counts are exact integers; the coefficient is the single per-row
    * IEEE division 2T/(d·(d−1)), bit-identical on any engine. */
  def q144Clustering(s: SparkSession, dir: String): DataFrame =
    graft.operators.Triangles.perNodeStats(
        graft.sources.CoPurchaseGraph.distinctEdges(s, dir), "pa", "pb")
      .select(col("node").as("part"), col("degree"), col("triangles"), col("coeff"))

  // q255 bootstrap: the two schema vintages are written ONCE per
  // (JVM, sf-dir) — the query under test is the mergeSchema READ, not
  // the bootstrap write
  /** q255: schema-evolution read — a corpus whose early files lack a
    * later-added column (the standard lake drift: v1 order files carry
    * (key, cust, cents), v2 adds o_orderpriority). One
    * `mergeSchema=true` parquet read unions the vintages; rows from the
    * old files surface the new column as NULL, reported here as a
    * 'LEGACY' priority class. The oracle replays the split from the
    * ORIGINAL table, so a wrong merge (dropped column, misaligned
    * nulls, type clash) breaks the hash. At scale, schema merging costs
    * one footer read per file — the same cost profile the manifest
    * skipping in Sinks already budgets for. */
  def q255MergeSchema(s: SparkSession, dir: String): DataFrame = {
    val tmp = Materialized.dir(s"evolve:$dir", perPass = false) { t =>
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        month(col("o_orderdate")).as("m"), col("o_orderpriority"))
      o.filter(col("m") <= 6).select("o_orderkey", "o_custkey", "cents")
        .write.mode("overwrite").parquet(s"$t/v1")
      o.filter(col("m") > 6)
        .select("o_orderkey", "o_custkey", "cents", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$t/v2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
      .select(coalesce(col("o_orderpriority"), lit("LEGACY")).as("priority"),
        col("cents"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("rev_cents"))
      .orderBy("priority")
  }

  /** q256: corrupt-record quarantine — PERMISSIVE JSONL ingestion over a
    * fixture where every 7th line is syntactically truncated. Spark
    * parses with an explicit schema + columnNameOfCorruptRecord; the
    * oracle re-reads the SAME file as raw lines and classifies with
    * json_valid(), so the two engines must agree line-by-line on what
    * is quarantine and what is data (corrupt lines are syntactic-only
    * by fixture construction — the regime where PERMISSIVE and
    * json_valid coincide). This is the ingestion front door at 100 TB:
    * bad records must become a COUNTED quarantine stream, never a job
    * failure and never silent nulls. */
  def q256CorruptQuarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("kind", StringType),
      StructField("v", LongType), StructField("_corrupt", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(s"${Tables.fixtureDir}/events_dirty.jsonl")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"),
        sum(when(col("_corrupt").isNull, col("v")).otherwise(0L))
          .as("sum_v"),
        countDistinct(when(col("_corrupt").isNull, col("kind")))
          .as("n_kinds"))
  }

  /** q262: the SHARED co-purchase graph table ITSELF — every (pa, pb,
    * norders) row of the written table every graph query now reads
    * ([[graft.sources.CoPurchaseGraph]]). The oracle re-derives the
    * pairs and distinct-order counts from lineitem, so one wrong pair,
    * one miscounted order, or one row lost anywhere in the
    * build→write→read chain breaks the hash — the materialization check
    * that lets q142-q257 trust the table (the q81/q89 written-corpus
    * precedent). */
  def q262CopurchaseGraph(s: SparkSession, dir: String): DataFrame =
    graft.sources.CoPurchaseGraph.weighted(s, dir)

  /** q265: INCREMENTAL maintenance of the co-purchase edge table — the
    * property that lets [[graft.sources.CoPurchaseGraph]] be kept by
    * APPEND instead of rebuild at 100 TB. Because every pair is counted
    * per order and an order is ingestion-atomic, the (pa, pb, norders)
    * aggregate is MERGEABLE with no cross-batch term: pair counts from
    * a new order batch simply ADD to the table's counts. The query
    * splits orders into a base batch (even keys) and a delta batch
    * (odd keys), aggregates each independently, and merges with one
    * keyed sum — |pairs_base| + |pairs_delta| rows through the merge
    * shuffle, never corpus rows. The oracle is q262's FULL rebuild, so
    * the hash match proves increment ≡ rebuild. */
  def q265GraphIncrement(s: SparkSession, dir: String): DataFrame = {
    def pairCounts(li: DataFrame): DataFrame = li
      .groupBy("l_orderkey")
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("pa"), col("ps"))
      .select(col("pa"), explode(col("ps")).as("pb"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("norders"))
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
    val base = pairCounts(li.filter(col("l_orderkey") % 2 === 0))
    val delta = pairCounts(li.filter(col("l_orderkey") % 2 === 1))
    base.unionByName(delta)
      .groupBy("pa", "pb").agg(sum("norders").as("norders"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q262_copurchase_graph" -> (q262CopurchaseGraph _),
    "q265_graph_increment" -> (q265GraphIncrement _),
    "q255_merge_schema" -> (q255MergeSchema _),
    "q256_corrupt_quarantine" -> (q256CorruptQuarantine _),
    "q257_ktruss" -> (q257KTruss _),
    "q142_triangle_counts" -> (q142TriangleCounts _),
    "q144_clustering" -> (q144Clustering _),
    "q145_hybrid_search" -> (q145HybridSearch _),
    "q146_kcore" -> (q146KCore _),
    // q294 is q146 under its own registry name (same operator and oracle)
    "q294_kcore_incremental" -> (q146KCore _),
    "q148_label_prop" -> (q148LabelProp _),
    "q149_bfs_hops" -> (q149BfsHops _),
    "q150_priority_sample" -> (q150PrioritySample _),
    "q151_widest_path" -> (q151WidestPath _),
    "q139_dup_spans" -> (q139DupSpans _),
    "q140_dup_profile" -> (q140DupProfile _),
    "q122_cc_contracted" -> (q122CcContracted _),
    "q123_full_outer" -> (q123FullOuter _),
    "q124_subquery_sql" -> (q124SubquerySql _),
    "q125_group_sample" -> (q125GroupSample _),
    "q126_ctas" -> (q126Ctas _),
    "q127_union_evolve" -> (q127UnionEvolve _),
    "q128_ivf_pq" -> (q128IvfPq _),
    "q129_gzip_csv" -> (q129GzipCsv _),
    "q131_hll_distinct" -> (q131HllDistinct _),
    "q132_skipping_scan" -> (q132SkippingScan _),
    "q133_bpe_train" -> (q133BpeTrain _),
    "q134_bpe_encode" -> (q134BpeEncode _),
    "q135_bigram_rarity" -> (q135BigramRarity _),
    "q280_bigram_xent" -> (q280BigramXent _),
    "q281_xent_profile" -> (q281XentProfile _),
    "q284_ccnet_buckets" -> (q284CcnetBuckets _),
    "q136_zorder_skipping" -> (q136ZorderSkipping _),
    "q138_manifest_append" -> (q138ManifestAppend _),
    "q111_corr_exact" -> (q111CorrExact _),
    "q114_setops" -> (q114SetOps _),
    "q116_fuzzy_join" -> (q116FuzzyJoin _),
    "q117_gap_fill" -> (q117GapFill _),
    "q118_cms_counts" -> (q118CmsCounts _),
    "q119_typed_corr" -> (q119TypedCorr _),
    "q120_bloom_lookup" -> (q120BloomLookup _),
    "q121_sketch_union" -> (q121SketchUnion _),
    "q113_cube" -> (q113Cube _),
    "q101_heavy_hitters" -> (q101HeavyHitters _),
    "q102_bucketed_join" -> (q102BucketedJoin _),
    "q103_stratified_sample" -> (q103StratifiedSample _),
    "q104_weighted_sample" -> (q104WeightedSample _),
    "q105_bm25_search" -> (q105Bm25Search _),
    "q309_text_index_search" -> (q309TextIndexSearch _),
    "q310_text_index_append" -> (q310TextIndexAppend _),
    "q106_temperature_mix" -> (q106TemperatureMix _),
    "q107_orc_roundtrip" -> (q107OrcRoundtrip _),
    "q108_inferred_csv" -> (q108InferredCsv _),
    "q109_nation_pagerank" -> (q109NationPagerank _),
    "q147_personalized_pagerank" -> (q147PersonalizedPagerank _),
    "q110_semdedup" -> (q110SemDedup _))

  // ------------------------------------------------------------- oracles

  private val curatedIn = CuratedSources.map(s => s"'$s'").mkString("(", ", ", ")")

  private val q111OracleSql =
    """WITH d AS (
      |  SELECT source, n_chars AS x, len(string_split(text, ' ')) AS y
      |  FROM documents),
      |a AS (
      |  SELECT source, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM d GROUP BY source)
      |SELECT source, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) /
      |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
      |FROM a""".stripMargin

  /** Whole-corpus CMS rebuild: every probed counter recomputed from raw
    * words with the same md5 bucket function (grid LEFT JOIN so an EMPTY
    * probe bucket contributes 0 to the min, like the sketch's zero
    * counter). Shared by q118 (single build) and q121 (merged halves). */
  private lazy val cmsOracleSql: String = {
    val probeValues = CmsProbes.map(p => s"('$p')").mkString(", ")
    val rowValues = (0 until CmsD).map(r => s"($r)").mkString(", ")
    s"""WITH wds AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
       |probes(p) AS (VALUES $probeValues),
       |rws(r) AS (VALUES $rowValues),
       |cells AS (
       |  SELECT pr.p, ro.r, count(*) AS cnt
       |  FROM wds w
       |  CROSS JOIN rws ro
       |  JOIN probes pr
       |    ON ('0x' || substring(md5(ro.r || ':' || w.word), 1, 15))::BIGINT % $CmsW
       |     = ('0x' || substring(md5(ro.r || ':' || pr.p), 1, 15))::BIGINT % $CmsW
       |  GROUP BY pr.p, ro.r)
       |SELECT g.p AS word, CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est
       |FROM (SELECT p, r FROM probes CROSS JOIN rws) g
       |LEFT JOIN cells c ON g.p = c.p AND g.r = c.r
       |GROUP BY g.p""".stripMargin
  }

  /** The q139/q140 shared span pipeline in SQL: k=5 grams with
    * positions, df ≥ 2 filter, then the textbook gap-and-islands merge —
    * the direct transliteration of
    * [[graft.operators.Dedup.duplicateSpans]]. Ends with the `spans`
    * CTE; callers append their final SELECT. */
  private val dupSpanCtes: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 5),
      |g AS (
      |  SELECT doc_id, CAST(i AS INT) AS pos,
      |    md5(array_to_string(w[i:i+4], ' ')) AS gh
      |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(tk.w)-4)) AS i) t),
      |d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
      |h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gh)),
      |b AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
      |         THEN 0 ELSE 1 END AS brk
      |  FROM h),
      |isl AS (
      |  SELECT doc_id, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM b),
      |spans AS (
      |  SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
      |    CAST(max(pos) + 4 AS INT) AS span_end,
      |    CAST(max(pos) + 5 - min(pos) AS INT) AS span_tokens
      |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** The q105 scorer as SQL, parameterized by the top-k cut — shared by
    * the BM25 query's oracle and the hybrid-search oracle's lexical leg. */
  private def bm25OracleSql(k: Int, terms: Seq[String] = Bm25Terms): String = {
    val termList = terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val caseSums = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN tok = '$t' THEN sc END) AS s$i"
    }.mkString(", ")
    val coalesced = terms.indices
      .map(i => s"COALESCE(s$i, 0.0)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |stats AS (
       |  SELECT count(*) AS n,
       |         CAST(sum(len(w)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM d),
       |hits AS (
       |  SELECT doc_id, len(w) AS dl, unnest(w) AS tok FROM d),
       |tf AS (
       |  SELECT doc_id, dl, tok, count(*) AS tf FROM hits
       |  WHERE tok IN $termList GROUP BY doc_id, dl, tok),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |sc AS (
       |  SELECT tf.doc_id, tf.tok,
       |    ((CAST(stats.n - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
       |      * (CAST(tf.tf AS DOUBLE) * $Bm25K1p1)
       |      / (CAST(tf.tf AS DOUBLE) + $Bm25K1
       |         * ($Bm25OneMinusB + $Bm25B * (CAST(tf.dl AS DOUBLE) / stats.avgdl))) AS sc
       |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN stats),
       |agg AS (SELECT doc_id, $caseSums FROM sc GROUP BY doc_id)
       |SELECT doc_id,
       |  $coalesced AS score
       |FROM agg
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** The q146 peel unrolled in SQL: `rounds` rounds of degree-filter +
    * endpoint semi-join over the co-purchase edge list. Rounds past the
    * fixpoint are no-ops, so this equals the engine's run-to-convergence
    * result for any rounds ≥ the convergence round (the engine throws
    * rather than return early, so a mismatch cannot hide). */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references its predecessor three times — 3^rounds inlined
    // parquet scans without it (observed as an fd-exhaustion error)
    val sb = new StringBuilder(
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |                  greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |d$r AS MATERIALIZED (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
        |  GROUP BY node),
        |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE d >= $k),
        |e$r AS MATERIALIZED (
        |  SELECT a, b FROM e${r - 1}
        |  WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))""".stripMargin)
    }
    sb.append(s"""
      |SELECT node AS part, CAST(count(*) AS BIGINT) AS core_deg FROM (
      |  SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
      |GROUP BY node""".stripMargin)
    sb.toString
  }

  /** Unrolled synchronous label propagation: each round recomputes
    * neighbor-label counts from the previous round's labels and takes the
    * same (cnt DESC, label ASC) argmax — a per-node rank window here (the
    * oracle may be lazy; the ENGINE's argmax is an aggregate).
    * AS MATERIALIZED for the same reason as the k-core oracle: each round
    * references its predecessor, and DuckDB would inline the chain into
    * exponentially many parquet scans otherwise. */
  private def labelPropOracleSql(rounds: Int): String = {
    val sb = new StringBuilder(
      """WITH und AS MATERIALIZED (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |                  greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
        |adj AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM adj)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |c$r AS MATERIALIZED (
        |  SELECT adj.dst AS node, l.label, count(*) AS cnt
        |  FROM adj JOIN l${r - 1} l ON l.node = adj.src
        |  GROUP BY 1, 2),
        |l$r AS MATERIALIZED (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        |    FROM c$r) WHERE rn = 1)""".stripMargin)
    }
    sb.append(s"""
      |SELECT node AS part, label AS community FROM l$rounds""".stripMargin)
    sb.toString
  }

  /** Unrolled multi-source BFS: round r adds the not-yet-visited neighbors
    * of the round-(r-1) frontier at distance r. MATERIALIZED for the same
    * predecessor-chain reason as the other iterative oracles. */
  private def bfsOracleSql(brand: String, hops: Int): String = {
    val sb = new StringBuilder(
      s"""WITH und AS MATERIALIZED (
         |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
         |                  greatest(x.l_partkey, y.l_partkey) AS b
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
         |adj AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
         |v0 AS MATERIALIZED (
         |  SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT) AS dist
         |  FROM part WHERE p_brand = '$brand'),
         |f0 AS MATERIALIZED (SELECT node FROM v0)""".stripMargin)
    for (r <- 1 to hops) {
      sb.append(s""",
        |n$r AS MATERIALIZED (
        |  SELECT DISTINCT adj.dst AS node
        |  FROM adj JOIN f${r - 1} f ON adj.src = f.node
        |  WHERE adj.dst NOT IN (SELECT node FROM v${r - 1})),
        |v$r AS MATERIALIZED (
        |  SELECT node, dist FROM v${r - 1}
        |  UNION ALL SELECT node, CAST($r AS BIGINT) FROM n$r),
        |f$r AS MATERIALIZED (SELECT node FROM n$r)""".stripMargin)
    }
    sb.append(s"""
      |SELECT node AS part, dist FROM v$hops""".stripMargin)
    sb.toString
  }

  /** Unrolled (max, min)-semiring relaxation: round r maxes the previous
    * capacities with min(neighbor capacity, edge weight). Monotone
    * integers, so engine-at-R equals oracle-at-R exactly. */
  private def widestPathOracleSql(brand: String, rounds: Int): String = {
    val inf = graft.operators.WidestPath.CapInf
    val sb = new StringBuilder(
      s"""WITH op AS MATERIALIZED (
         |  SELECT DISTINCT x.l_orderkey AS ok,
         |                  least(x.l_partkey, y.l_partkey) AS a,
         |                  greatest(x.l_partkey, y.l_partkey) AS b
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
         |und AS MATERIALIZED (
         |  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM op GROUP BY a, b),
         |adj AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, w FROM und
         |  UNION ALL SELECT b, a, w FROM und),
         |c0 AS MATERIALIZED (
         |  SELECT DISTINCT p_partkey AS node, CAST($inf AS BIGINT) AS cap
         |  FROM part WHERE p_brand = '$brand')""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |u$r AS MATERIALIZED (
        |  SELECT adj.dst AS node, least(c.cap, adj.w) AS cap
        |  FROM adj JOIN c${r - 1} c ON adj.src = c.node),
        |c$r AS MATERIALIZED (
        |  SELECT node, max(cap) AS cap FROM (
        |    SELECT node, cap FROM c${r - 1} UNION ALL SELECT node, cap FROM u$r)
        |  GROUP BY node)""".stripMargin)
    }
    sb.append(s"""
      |SELECT node AS part, cap AS strength FROM c$rounds""".stripMargin)
    sb.toString
  }

  // A DIFFERENT triangle algorithm on purpose: naive id-ordered
  // enumeration (x<y<z) over the canonical edge list, vs the engine's
  // degree-oriented intersection — agreement is algorithm-independent.
  private val triangleCtes =
    """WITH pairs AS (
      |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
      |                  greatest(x.l_partkey, y.l_partkey) AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
      |tris AS (
      |  SELECT p1.a AS u, p1.b AS v, p2.b AS w
      |  FROM pairs p1
      |  JOIN pairs p2 ON p2.a = p1.a AND p2.b > p1.b
      |  JOIN pairs p3 ON p3.a = p1.b AND p3.b = p2.b),
      |tc AS (
      |  SELECT part, CAST(count(*) AS BIGINT) AS triangles FROM (
      |    SELECT u AS part FROM tris
      |    UNION ALL SELECT v FROM tris
      |    UNION ALL SELECT w FROM tris)
      |  GROUP BY part)""".stripMargin

  val oracles: Map[String, String] = Map(
    // count(DISTINCT orderkey), not count(*): a part repeated within one
    // order must not inflate the pair's support (collect_set semantics)
    // increment ≡ rebuild: same oracle as q262
    "q265_graph_increment" ->
      """SELECT least(x.l_partkey, y.l_partkey) AS pa,
        |  greatest(x.l_partkey, y.l_partkey) AS pb,
        |  CAST(count(DISTINCT x.l_orderkey) AS BIGINT) AS norders
        |FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |GROUP BY 1, 2""".stripMargin,
    "q262_copurchase_graph" ->
      """SELECT least(x.l_partkey, y.l_partkey) AS pa,
        |  greatest(x.l_partkey, y.l_partkey) AS pb,
        |  CAST(count(DISTINCT x.l_orderkey) AS BIGINT) AS norders
        |FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |GROUP BY 1, 2""".stripMargin,
    "q257_ktruss" -> ktrussOracleSql(k = 3, rounds = 25),
    "q255_merge_schema" ->
      """SELECT CASE WHEN month(o_orderdate) > 6 THEN o_orderpriority
        |       ELSE 'LEGACY' END AS priority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |               AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin,
    "q256_corrupt_quarantine" ->
      s"""WITH raw AS (
        |  SELECT line FROM (
        |    SELECT unnest(string_split(content, chr(10))) AS line
        |    FROM read_text('${Tables.fixtureDir}/events_dirty.jsonl'))
        |  WHERE length(line) > 0),
        |cls AS (
        |  SELECT line, json_valid(line) AS ok FROM raw),
        |good AS (
        |  SELECT CAST(json_extract(line, '$$.v') AS BIGINT) AS v,
        |    json_extract_string(line, '$$.kind') AS kind
        |  FROM cls WHERE ok)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM cls) AS n_lines,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cls WHERE ok) AS n_valid,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cls WHERE NOT ok)
        |    AS n_corrupt,
        |  (SELECT CAST(sum(v) AS BIGINT) FROM good) AS sum_v,
        |  (SELECT CAST(count(DISTINCT kind) AS BIGINT) FROM good)
        |    AS n_kinds""".stripMargin,
    "q142_triangle_counts" ->
      (triangleCtes + "\nSELECT part, triangles FROM tc"),
    "q146_kcore" -> kcoreOracleSql(k = 80, rounds = 12),
    // q294 runs q146's engine under its own name: same oracle
    "q294_kcore_incremental" -> kcoreOracleSql(k = 80, rounds = 12),
    "q148_label_prop" -> labelPropOracleSql(rounds = 3),
    "q149_bfs_hops" -> bfsOracleSql(brand = "Brand#11", hops = 2),
    "q151_widest_path" -> widestPathOracleSql(brand = "Brand#11", rounds = 2),
    // Same salted hash, same integer floor-division priority, rank-window
    // mirror of the engine's TopKByScore selection (score DESC, id ASC).
    "q150_priority_sample" ->
      s"""WITH p AS (
         |  SELECT source, doc_id,
         |    (least(n_chars, ${(1L << 23) - 1}) * ${1L << 40})
         |      // (('0x' || substring(md5(doc_id::VARCHAR || ':s150'), 1, 10))::BIGINT + 1)
         |      AS priority
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, priority,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY priority DESC, doc_id) AS rnk
         |  FROM p)
         |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, priority
         |FROM r WHERE rnk <= 32""".stripMargin,
    // same naive recount, extended with exact degrees and the one-IEEE-op
    // coefficient; every degree-≥2 node appears, zero-triangle included
    "q144_clustering" ->
      (triangleCtes +
        """,
          |deg AS (
          |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
          |    SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
          |  GROUP BY node)
          |SELECT deg.node AS part, deg.d AS degree,
          |  COALESCE(tc.triangles, 0) AS triangles,
          |  CAST(COALESCE(tc.triangles, 0) AS DOUBLE) * 2.0
          |    / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS coeff
          |FROM deg LEFT JOIN tc ON tc.part = deg.node
          |WHERE deg.d >= 2""".stripMargin),
    // Gram positions, df filter, and island merge replayed in SQL — span
    // boundaries must match token-for-token.
    "q139_dup_spans" ->
      (dupSpanCtes + "\nSELECT doc_id, span_start, span_end, span_tokens FROM spans"),
    // Per-source mass + the integer 20% policy counter over the same
    // spans; docs without spans enter via LEFT JOIN with zero mass.
    "q140_dup_profile" ->
      (dupSpanCtes +
        """,
          |pd AS (
          |  SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
          |  FROM spans GROUP BY doc_id),
          |tok AS (
          |  SELECT doc_id, source,
          |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks
          |  FROM documents)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(pd.dup_tokens) AS BIGINT) AS docs_with_dups,
          |  CAST(sum(CASE WHEN pd.dup_tokens * 5 > t.n_toks THEN 1 ELSE 0 END)
          |    AS BIGINT) AS docs_over_20pct,
          |  CAST(sum(COALESCE(pd.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
          |  CAST(sum(t.n_toks) AS BIGINT) AS total_tokens,
          |  CAST(sum(COALESCE(pd.dup_tokens, 0)) AS DOUBLE)
          |    / CAST(sum(t.n_toks) AS DOUBLE) AS dup_rate
          |FROM tok t LEFT JOIN pd USING (doc_id) GROUP BY source""".stripMargin),
    // Rebuild every probed CMS counter from the raw words with the same
    // md5 bucket function — the sketch contents are what's verified.
    "q118_cms_counts" -> cmsOracleSql,
    // additivity must be lossless: the merged-halves sketch answers
    // exactly like the whole-corpus build the oracle recomputes
    "q121_sketch_union" -> cmsOracleSql,
    // Full training replay: 8 unrolled rounds, each recomputing the pair
    // table, taking the same deterministic argmax, and applying the same
    // bracketed replace. DuckDB learns the identical merge table or the
    // hash breaks.
    "q133_bpe_train" -> bpeOracleSql(8),
    // End-to-end tokenizer check: the oracle re-learns the rules and
    // re-tokenizes every word occurrence through the final vocabulary.
    "q134_bpe_encode" -> bpeEncodeOracleSql(8),
    // Integer bigram counts + one final divide; threshold and join
    // reproduced verbatim.
    // rank-derived per-source terciles replayed: cumulative per-(source,
    // millibits) counts, bucket = (3 * strictly-below) // n, ties share
    "q284_ccnet_buckets" ->
      """WITH ws AS (
        |  SELECT doc_id, source,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |v AS (
        |  SELECT count(DISTINCT tok) AS v
        |  FROM (SELECT unnest(ws) AS tok FROM ws)),
        |bg AS (
        |  SELECT doc_id, source, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT * FROM ws WHERE len(ws) >= 2) t,
        |       LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |doc AS (
        |  SELECT b.doc_id, b.source,
        |    sum(length(printf('%b', (c1.c1 + v.v) // (cb.cb + 1))) - 1)
        |      * 1000 // count(*) AS mb
        |  FROM bg b JOIN cb USING (w1, w2) JOIN c1 USING (w1), v
        |  GROUP BY 1, 2),
        |g2 AS (SELECT source, mb, count(*) AS c FROM doc GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, mb, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY mb) AS cum
        |  FROM g2),
        |n AS (SELECT source, max(cum) AS n FROM cum GROUP BY 1),
        |bk AS (
        |  SELECT cum.source, cum.mb, (3 * (cum.cum - cum.c)) // n.n AS bucket
        |  FROM cum JOIN n USING (source))
        |SELECT d.doc_id, d.source, CAST(d.mb AS BIGINT) AS xent_millibits,
        |  CAST(bk.bucket AS BIGINT) AS bucket,
        |  CAST(CASE WHEN bk.bucket <= 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM doc d JOIN bk ON d.source = bk.source AND d.mb = bk.mb""".stripMargin,
    // both rungs of the LM replayed: bigram + history counts, add-1
    // smoothing over the corpus vocabulary, and the whole-bit surprise
    // as the bit length of the exact integer quotient (printf %b <->
    // Spark bin() - no transcendental, no float)
    "q280_bigram_xent" ->
      """WITH ws AS (
        |  SELECT doc_id, source,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |v AS (
        |  SELECT count(DISTINCT tok) AS v
        |  FROM (SELECT unnest(ws) AS tok FROM ws)),
        |bg AS (
        |  SELECT doc_id, source, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT * FROM ws WHERE len(ws) >= 2) t,
        |       LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |sc AS (
        |  SELECT b.doc_id, b.source,
        |    length(printf('%b', (c1.c1 + v.v) // (cb.cb + 1))) - 1 AS surprise
        |  FROM bg b JOIN cb USING (w1, w2) JOIN c1 USING (w1), v)
        |SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(surprise) * 1000 // count(*) AS BIGINT) AS xent_millibits
        |FROM sc GROUP BY 1, 2""".stripMargin,
    "q281_xent_profile" ->
      """WITH ws AS (
        |  SELECT doc_id, source,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |v AS (
        |  SELECT count(DISTINCT tok) AS v
        |  FROM (SELECT unnest(ws) AS tok FROM ws)),
        |bg AS (
        |  SELECT doc_id, source, ws[i] AS w1, ws[i+1] AS w2
        |  FROM (SELECT * FROM ws WHERE len(ws) >= 2) t,
        |       LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |doc AS (
        |  SELECT b.doc_id, b.source, count(*) AS n_bigrams,
        |    sum(length(printf('%b', (c1.c1 + v.v) // (cb.cb + 1))) - 1) AS sbits
        |  FROM bg b JOIN cb USING (w1, w2) JOIN c1 USING (w1), v
        |  GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
        |  CAST(sum(sbits) * 1000 // sum(n_bigrams) AS BIGINT) AS pooled_millibits,
        |  CAST(min(sbits * 1000 // n_bigrams) AS BIGINT) AS min_millibits,
        |  CAST(max(sbits * 1000 // n_bigrams) AS BIGINT) AS max_millibits
        |FROM doc GROUP BY 1""".stripMargin,
    "q135_bigram_rarity" ->
      """WITH dw AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2
        |  FROM dw, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g),
        |bc AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2)
        |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CASE WHEN bc.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(sum(CASE WHEN bc.cnt <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS rare_rate
        |FROM bg JOIN bc USING (w1, w2)
        |GROUP BY lang""".stripMargin,
    // Rows from BOTH the clustered base and the appended batch must
    // surface in the range read — a manifest that missed the appended
    // files zeroes n_appended and breaks the hash.
    "q138_manifest_append" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_appended,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey BETWEEN 6000 AND 7499
        |GROUP BY o_orderpriority""".stripMargin,
    // The 2-D box over the z-ordered rewrite must return exactly the
    // full-scan rows — wrong pruning on EITHER dimension, or rows lost in
    // the Morton rewrite, breaks the match.
    "q136_zorder_skipping" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_custkey BETWEEN 300 AND 449 AND o_orderkey BETWEEN 2000 AND 5999
        |GROUP BY o_orderpriority""".stripMargin,
    // The skipping read must return exactly the rows of the range — the
    // oracle scans the WHOLE original table, so any file wrongly pruned
    // (or rows lost in the clustered rewrite) breaks the match.
    "q132_skipping_scan" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey BETWEEN 4000 AND 4999
        |GROUP BY o_orderpriority""".stripMargin,
    // Every HLL register rebuilt from the raw md5 hashes with string ops;
    // the *ALL* row's equality proves merge-by-max is lossless union.
    "q131_hll_distinct" ->
      s"""WITH h AS (
         |  SELECT l_returnflag AS grp, l_partkey,
         |    ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM lineitem),
         |r AS (
         |  SELECT grp, l_partkey, CAST(h >> 54 AS INT) AS j,
         |    CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
         |         ELSE strpos(lpad(bin(h & ((1::BIGINT << 54) - 1)), 54, '0'), '1')
         |    END AS rho
         |  FROM h),
         |mx AS (SELECT grp, j, max(rho) AS mr FROM r GROUP BY grp, j),
         |g AS (
         |  SELECT grp, CAST(64 - count(*) AS INT) AS zeros,
         |    CAST(sum(1::BIGINT << (55 - mr))
         |         + (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS hsum
         |  FROM mx GROUP BY grp),
         |e AS (SELECT grp, count(DISTINCT l_partkey) AS exact_nd FROM h GROUP BY grp),
         |amx AS (SELECT j, max(rho) AS mr FROM r GROUP BY j),
         |ag AS (
         |  SELECT CAST(64 - count(*) AS INT) AS zeros,
         |    CAST(sum(1::BIGINT << (55 - mr))
         |         + (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS hsum
         |  FROM amx),
         |ae AS (SELECT count(DISTINCT l_partkey) AS exact_nd FROM h)
         |SELECT g.grp, g.zeros, g.hsum,
         |  CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0
         |    / CAST(g.hsum AS DOUBLE) AS est,
         |  e.exact_nd
         |FROM g JOIN e USING (grp)
         |UNION ALL
         |SELECT '*ALL*', ag.zeros, ag.hsum,
         |  CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0
         |    / CAST(ag.hsum AS DOUBLE) AS est,
         |  ae.exact_nd
         |FROM ag, ae""".stripMargin,
    // The typed-Aggregator path must land on the same doubles as q111.
    "q119_typed_corr" -> q111OracleSql,
    // same pairs, same answer, different component algorithm
    "q122_cc_contracted" -> LlmQueries.oracles("q74_neardup_clusters"),
    // quantizer + cell + codebooks + codes + distance tables all rebuilt
    // from scratch; only the query's cell competes in the final ranking
    "q128_ivf_pq" -> {
      import LlmQueries.{ivfAssignCtesK, pqSubCtes}
      s"""WITH ${ivfAssignCtesK(4, "embeddings")},
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
         |${(0 until 4).map(pqSubCtes).mkString(",\n")},
         |qcell AS (SELECT j AS qj FROM assign WHERE vec_id = 7)
         |SELECT e0.vec_id, d0.d + d1.d + d2.d + d3.d AS adc
         |FROM enc_0 e0 JOIN enc_1 e1 USING (vec_id)
         |  JOIN enc_2 e2 USING (vec_id) JOIN enc_3 e3 USING (vec_id)
         |  JOIN dt_0 d0 ON d0.j = e0.j JOIN dt_1 d1 ON d1.j = e1.j
         |  JOIN dt_2 d2 ON d2.j = e2.j JOIN dt_3 d3 ON d3.j = e3.j
         |  JOIN assign a ON a.vec_id = e0.vec_id
         |WHERE e0.vec_id <> 7 AND a.j = (SELECT qj FROM qcell)
         |ORDER BY adc ASC, e0.vec_id ASC
         |LIMIT 10""".stripMargin
    },
    "q129_gzip_csv" ->
      s"""SELECT count(*) AS n_rows,
        |  count(DISTINCT "Bike Id") AS n_bikes,
        |  CAST(sum("Duration") AS BIGINT) AS total_duration
        |FROM read_csv('${Tables.fixtureDir}/journey.csv.gz', header=true,
        |  columns={'Rental Id':'INTEGER','Duration':'INTEGER','Bike Id':'INTEGER',
        |    'End Date':'VARCHAR','EndStation Id':'INTEGER','EndStation Name':'VARCHAR',
        |    'Start Date':'VARCHAR','StartStation Id':'INTEGER','StartStation Name':'VARCHAR'})""".stripMargin,
    "q126_ctas" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority, o_orderstatus
        |HAVING count(*) > 0""".stripMargin,
    "q127_union_evolve" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderkey, o_orderpriority,
        |    substring(o_orderpriority, 1, 1) AS priority_class
        |  FROM orders WHERE o_orderkey % 2 <> 0)
        |SELECT COALESCE(priority_class, 'legacy') AS priority_class,
        |  count(*) AS n, count(DISTINCT o_orderpriority) AS n_priorities
        |FROM u GROUP BY 1""".stripMargin,
    "q125_group_sample" ->
      """WITH h AS (
        |  SELECT source, doc_id,
        |    ('0x' || substring(md5(doc_id::VARCHAR || ':q125'), 1, 15))::BIGINT AS h
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY h DESC, doc_id ASC) AS rank
        |  FROM h)
        |SELECT source, CAST(rank AS INT) AS rank, doc_id
        |FROM r WHERE rank <= 5""".stripMargin,
    "q124_subquery_sql" ->
      """SELECT s_name, s_acctbal FROM supplier s
        |WHERE s_acctbal > (SELECT CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE)
        |                          / count(*) FROM supplier)
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 45)""".stripMargin,
    "q123_full_outer" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_totalprice AS p_a FROM orders WHERE o_orderkey % 3 <> 0),
        |b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS p_b
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |j AS (
        |  SELECT CASE WHEN a.p_a IS NULL THEN 'added'
        |              WHEN b.p_b IS NULL THEN 'removed'
        |              WHEN a.p_a <> b.p_b THEN 'changed'
        |              ELSE 'unchanged' END AS status,
        |    COALESCE(b.p_b, 0.0) - COALESCE(a.p_a, 0.0) AS d
        |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
        |SELECT status, count(*) AS n,
        |  CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS net_delta
        |FROM j GROUP BY status""".stripMargin,
    "q120_bloom_lookup" ->
      """SELECT l_orderkey, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey = 42
        |GROUP BY l_orderkey""".stripMargin,
    // The oracle affords all-pairs levenshtein over the bounded corpus;
    // the engine must meet it through the deletion-neighborhood join.
    "q116_fuzzy_join" ->
      """WITH sh AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS str
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |        WHERE doc_id % 37 = 0)
        |  WHERE len(w) >= 3),
        |typos AS (
        |  SELECT substring(str, 1, 1) || substring(str, 3, 1000) AS str
        |  FROM sh
        |  WHERE ('0x' || substring(md5(str), 1, 15))::BIGINT % 5 = 0),
        |corpus AS (SELECT str FROM sh UNION SELECT str FROM typos)
        |SELECT a.str AS a, b.str AS b
        |FROM corpus a JOIN corpus b ON a.str < b.str
        |WHERE levenshtein(a.str, b.str) <= 1""".stripMargin,
    "q117_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value,
        |    count(*) AS n
        |  FROM events WHERE value > 300.0 GROUP BY 1, 2),
        |mm AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        |       FROM events),
        |spine AS (
        |  SELECT t.event_type,
        |    unnest(generate_series(mm.d0, mm.d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM (SELECT DISTINCT event_type FROM events) t, mm)
        |SELECT s.event_type, CAST(s.day AS VARCHAR) AS day,
        |  last_value(d.day_value IGNORE NULLS) OVER (
        |    PARTITION BY s.event_type ORDER BY s.day
        |    ROWS UNBOUNDED PRECEDING) AS ffill_value,
        |  COALESCE(d.n, 0) AS n
        |FROM spine s LEFT JOIN daily d USING (event_type, day)""".stripMargin,
    "q114_setops" ->
      """SELECT doc_id FROM documents
        |WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':sl1'), 1, 15))::BIGINT % 2 = 0
        |INTERSECT
        |SELECT doc_id FROM documents
        |WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':sl2'), 1, 15))::BIGINT % 2 = 0
        |EXCEPT
        |SELECT doc_id FROM documents
        |WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':sl3'), 1, 15))::BIGINT % 2 = 0""".stripMargin,
    "q111_corr_exact" -> q111OracleSql,
    "q113_cube" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(CAST(day AS VARCHAR), 'ALL') AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
        |GROUP BY CUBE (event_type, day)""".stripMargin,
    // The oracle affords the full-vocabulary GROUP BY the engine avoids;
    // the answers must be identical because pass 2 is exact.
    "q101_heavy_hitters" ->
      s"""WITH w AS (
         |  SELECT unnest(string_split(lower(text), ' ')) AS word
         |  FROM documents),
         |t AS (SELECT count(*) AS n FROM w)
         |SELECT word, count(*) AS cnt
         |FROM w, t
         |GROUP BY word, t.n
         |HAVING count(*) * $HhDen >= t.n""".stripMargin,
    "q103_stratified_sample" ->
      s"""SELECT doc_id, source, lang FROM documents
         |WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':s103'), 1, 15))::BIGINT
         |  < CASE WHEN source IN $curatedIn THEN $CuratedThr ELSE $CrawlThr END""".stripMargin,
    "q104_weighted_sample" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':s104'), 1, 10))::BIGINT * 4096
         |  < least(n_chars, 4096) * ${1L << 40}""".stripMargin,
    // The oracle joins the RAW parquet: identical rows prove the bucketed
    // write round-trip lost nothing.
    "q102_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    // Same IEEE arithmetic in the same order as the engine: rational idf,
    // per-term CASE sums, fixed-order 3-way addition, (score, doc_id) cut.
    "q105_bm25_search" -> bm25OracleSql(10),
    // the index-served searches against the full relational recompute:
    // write-path damage (tf/df/dl/stats) breaks the float-exact scores
    "q309_text_index_search" -> bm25OracleSql(10, Seq("join", "stream")),
    "q310_text_index_append" -> bm25OracleSql(10, Seq("filter", "sort")),
    // Both candidate lists re-ranked with the same strict (score, id)
    // orders, fused with the same fixed-order IEEE sum.
    "q145_hybrid_search" ->
      s"""WITH lex AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS r_lex
         |  FROM (${bm25OracleSql(50)})),
         |dense AS (
         |  SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS r_dense
         |  FROM (
         |    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |    c AS (
         |      SELECT vec_id, ${LlmQueries.cosSql("embedding", "qe")} AS cos
         |      FROM embeddings, q WHERE vec_id <> 0)
         |    SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 50))
         |SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id, r_lex, r_dense,
         |  COALESCE(1.0 / (60.0 + CAST(r_lex AS DOUBLE)), 0.0)
         |    + COALESCE(1.0 / (60.0 + CAST(r_dense AS DOUBLE)), 0.0) AS rrf
         |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
         |ORDER BY rrf DESC, doc_id
         |LIMIT 10""".stripMargin,
    "q106_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs,
        |        CAST(floor(sqrt(n_docs::DOUBLE)) AS BIGINT) AS weight FROM c),
        |t AS (SELECT CAST(sum(weight) AS BIGINT) AS total FROM w)
        |SELECT source, n_docs, weight, (100000 * weight) // total AS alloc
        |FROM w, t""".stripMargin,
    // The oracle reads the ORIGINAL parquet — identical results prove the
    // ORC round-trip lossless.
    "q107_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |GROUP BY l_returnflag""".stripMargin,
    // The oracle reads the same CSV with EXPLICIT types: matching sums
    // prove inference landed on integral types that parse identically.
    "q108_inferred_csv" ->
      s"""SELECT count(*) AS n_rows,
        |  count(DISTINCT "Bike Id") AS n_bikes,
        |  CAST(sum("Duration") AS BIGINT) AS total_duration
        |FROM read_csv('${Tables.fixtureDir}/journey.csv', header=true,
        |  columns={'Rental Id':'INTEGER','Duration':'INTEGER','Bike Id':'INTEGER',
        |    'End Date':'VARCHAR','EndStation Id':'INTEGER','EndStation Name':'VARCHAR',
        |    'Start Date':'VARCHAR','StartStation Id':'INTEGER','StartStation Name':'VARCHAR'})""".stripMargin,
    // Three unrolled fixed-point iterations, mirroring PageRank.ranks
    // constant-for-constant (RankScale 1e12, ProbScale 1e6, damping 85/100,
    // per-term floor division so every sum is exact integer addition).
    "q109_nation_pagerank" -> {
      def iterCte(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT n.node,
           |    (SELECT base15 FROM consts) +
           |      (85 * COALESCE(c.s, 0)) // 100 AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT p.dst, CAST(sum((r.rank * p.p) // 1000000) AS BIGINT) AS s
           |    FROM p JOIN $prev r ON p.src = r.node GROUP BY p.dst) c
           |  ON n.node = c.dst)""".stripMargin
      s"""WITH e AS (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY src, dst),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY src),
         |p AS (SELECT e.src, e.dst, (e.w * 1000000) // outw.ow AS p
         |      FROM e JOIN outw ON e.src = outw.src),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |consts AS (
         |  SELECT 1000000000000 // count(*) AS base,
         |         (15 * (1000000000000 // count(*))) // 100 AS base15
         |  FROM nodes),
         |r0 AS (SELECT node, (SELECT base FROM consts) AS rank FROM nodes),
         |${iterCte("r0", "r1")},
         |${iterCte("r1", "r2")},
         |${iterCte("r2", "r3")}
         |SELECT nat.n_name, r3.rank
         |FROM r3 JOIN nation nat ON r3.node = nat.n_nationkey""".stripMargin
    },
    // q147: same unrolled fixed point, but the teleport term is per-node
    // (RankScale/|seeds| to ASIA nations, zero elsewhere) and iteration 0
    // starts from the seed distribution — PageRank.personalizedRanks
    // constant-for-constant.
    "q147_personalized_pagerank" -> {
      def iterCte(prev: String, cur: String): String =
        s"""$cur AS (
           |  SELECT t.node,
           |    t.tele + (85 * COALESCE(c.s, 0)) // 100 AS rank
           |  FROM tele t LEFT JOIN (
           |    SELECT p.dst, CAST(sum((r.rank * p.p) // 1000000) AS BIGINT) AS s
           |    FROM p JOIN $prev r ON p.src = r.node GROUP BY p.dst) c
           |  ON t.node = c.dst)""".stripMargin
      s"""WITH e AS (
         |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY src, dst),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY src),
         |p AS (SELECT e.src, e.dst, (e.w * 1000000) // outw.ow AS p
         |      FROM e JOIN outw ON e.src = outw.src),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |seeds AS (
         |  SELECT n_nationkey AS node FROM nation
         |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
         |consts AS (
         |  SELECT 1000000000000 // count(*) AS sbase,
         |         (15 * (1000000000000 // count(*))) // 100 AS sbase15
         |  FROM seeds),
         |tele AS (
         |  SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL
         |         THEN (SELECT sbase15 FROM consts) ELSE 0 END AS tele,
         |    CASE WHEN s.node IS NOT NULL
         |         THEN (SELECT sbase FROM consts) ELSE 0 END AS r0rank
         |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         |r0 AS (SELECT node, r0rank AS rank FROM tele),
         |${iterCte("r0", "r1")},
         |${iterCte("r1", "r2")},
         |${iterCte("r2", "r3")}
         |SELECT nat.n_name, r3.rank
         |FROM r3 JOIN nation nat ON r3.node = nat.n_nationkey""".stripMargin
    },
    // Same trained quantizer as q46/q84 (k=8 over the perturbed corpus),
    // then all pairs WITHIN a cluster, exact cosine, integer threshold.
    "q110_semdedup" -> {
      import LlmQueries.{cosSql, ivfAssignCtesK}
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(generate_series(1, len(embedding)),
         |      i -> CASE WHEN i = 1 THEN CAST(embedding[i]::DOUBLE * 1.05 AS FLOAT)
         |           ELSE embedding[i] END)
         |  FROM embeddings WHERE vec_id % 20 = 0),
         |${ivfAssignCtesK(8, "corpus")}
         |SELECT * FROM (
         |  SELECT a.j AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM assign a JOIN assign b ON a.j = b.j AND a.vec_id < b.vec_id)
         |WHERE cos * 1000 >= 999""".stripMargin
    })
}
