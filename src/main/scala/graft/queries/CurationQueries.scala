package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Sever.SeverOps
import graft.sources.Tables

/** Corpus-health and signal-quality analytics a large-scale training-data
  * pipeline runs between ingestion and mixing: embedding-space health,
  * robust (winsorized) distribution stats, seasonal anomaly screens,
  * recency-decayed engagement, power-law tail diagnostics, and sequence
  * mining. Same discipline as [[AnalyticsQueries]]: integer / fixed-point
  * arithmetic end to end, deterministic tiebreaks, every query mirrored by
  * an exact DuckDB oracle. */
object CurationQueries {

  /** IEEE-exact fixed point shared with the oracles: float → double is
    * exact, ×10⁶ is one double rounding both engines perform identically,
    * floor → BIGINT. */
  private def fix6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c.cast("double") * lit(1000000d)).cast("long")

  // ------------------------------------------------------------- queries

  /** q174: per-dimension embedding health — count, fixed-point sum, sum of
    * squares, and near-zero tally for every dimension. The first screen a
    * pipeline runs on a new embedding dump: dead dimensions (all near
    * zero), collapsed variance, and shifted means all surface here.
    * `posexplode` fans each vector into (dim, value) rows — d·n rows keyed
    * by a d-ary key, so the aggregation is a map-side-combinable groupBy
    * that collapses each partition to ≤d rows before the shuffle; at 100 TB
    * the shuffle is d × partitions rows, not data-sized. sumsq6 peaks at
    * n·10¹² (BIGINT holds to ~9·10⁶ vectors per dim; the 100-TB variant
    * widens to DECIMAL(38,0) — kept BIGINT here to match the oracle's
    * integer output contract). */
  def q174DimHealth(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), fix6(col("x")).as("x6"))
    ex.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("x6")).as("sum6"),
        sum(col("x6") * col("x6")).as("sumsq6"),
        sum(when(abs(col("x6")) < 1000, 1L).otherwise(0L)).as("near_zero"))
  }

  /** q175: winsorized per-source length stats — p05/p95 by the exact
    * cumulative-histogram rule (smallest value whose cumulative count
    * reaches the rank), every doc clamped into [p05, p95], and the
    * winsorized mean in exact thousandths. Robust location per source is
    * what mixing weights get calibrated against; a histogram-first
    * derivation keeps the per-source state at |distinct lengths|, not
    * |docs| — the q169 exact-median shape generalized to arbitrary ranks
    * plus a second clamped pass. */
  def q175Winsorized(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("source", "n_chars")
    val hist = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy("n_chars")
    val cum = hist
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
    val bounds = cum.groupBy("source")
      .agg(max("n").as("n_docs"),
        min(when(col("cum") * 20 >= col("n"), col("n_chars"))).as("p05"),
        min(when(col("cum") * 20 >= col("n") * 19, col("n_chars"))).as("p95"))
    docs.join(bounds, "source")
      .withColumn("clamped",
        greatest(col("p05"), least(col("p95"), col("n_chars"))))
      .groupBy("source")
      .agg(max("n_docs").as("n_docs"), max("p05").as("p05"),
        max("p95").as("p95"),
        expr("sum(clamped) * 1000 div count(*)").as("wins_mean_x1000"))
  }

  /** q176: seasonal-baseline anomaly screen over the event stream — each
    * (day, hour) cell's count against the exact lower-median count of its
    * (weekday, hour) slot, flagging ≥2× spikes and ≤½× drops with integer
    * comparisons (no ratio rounding to disagree on). The hour-of-week
    * baseline is the cheapest seasonal model that survives scale: cells
    * aggregate map-side to one row per hour (constant × days keys), the
    * median runs over the 168-slot dimension — driver-scale state however
    * large the stream. Weekday is Sunday=0 in both engines (Spark's
    * `dayofweek` is 1-based; the oracle's `dayofweek` 0-based). */
  def q176SeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), hour(col("ts")).as("hour"))
      .groupBy("day", "hour").agg(count(lit(1)).as("cnt"))
      .withColumn("dow", dayofweek(col("day")) - 1)
    val slot = Window.partitionBy("dow", "hour").orderBy("cnt")
    val med = cells
      .withColumn("rn", row_number().over(slot))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("dow", "hour")))
      .filter(col("rn") * 2 === col("n") + (col("n") % 2))
      .select(col("dow"), col("hour"), col("cnt").as("med"))
    cells.join(med, Seq("dow", "hour"))
      .select(col("day"), col("hour"), col("cnt"), col("med"),
        (col("cnt") >= col("med") * 2).as("spike"),
        (col("cnt") * 2 <= col("med")).as("drop"))
  }

  /** q177: recency-decayed engagement — each event's weight halves per
    * week of age relative to the newest event (integer 10⁶ ≫ age_weeks, a
    * power-of-two decay with zero floating point), summed per user; top 25
    * by (score, user). Exponential time decay is how "currently active"
    * beats "historically active" in sampling weights; the halving form
    * keeps it engine-portable where exp(−λt) would not be. The global
    * anchor is one broadcast scalar; everything else is a map-side
    * combinable per-user sum and a TakeOrderedAndProject. */
  def q177DecayedEngagement(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val anchor = ev.agg(max("day").as("max_day"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("age_weeks",
        expr("least(cast(datediff(max_day, day) as bigint) div 7, 20L)"))
      .withColumn("w", expr("1000000L div shiftleft(1L, cast(age_weeks as int))"))
      .groupBy("user_id")
      .agg(sum("w").as("score"), count(lit(1)).as("n_events"))
      .orderBy(col("score").desc, col("user_id"))
      .limit(25)
  }

  /** q179: power-law tail diagnostic — the document-length CCDF sampled at
    * power-of-two thresholds (exact count of docs ≥ 2^k) with the
    * permille ratio between consecutive thresholds. A straight-ish ratio
    * column is the scale-free signature; a cliff is a truncation artifact
    * — the integer-only stand-in for a Hill-estimator fit (whose log()
    * would never agree bit-for-bit across engines). Threshold membership
    * is derived from the BIT LENGTH of the length (`bin()` string length,
    * identical in both engines), so no floating log2 at the boundaries;
    * each doc explodes into ≤11 threshold rows, map-side combined. */
  def q179CcdfPowers(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .filter(col("n_chars") >= 16)
      .select(explode(sequence(lit(4),
        least(lit(14), length(bin(col("n_chars"))) - 1))).as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("threshold", expr("shiftleft(1L, k)"))
      .withColumn("ratio_permille",
        expr("cnt * 1000 div lag(cnt) over (order by k)"))
      .select("k", "threshold", "cnt", "ratio_permille")
  }

  /** q181: sequential pattern mining, order 3 — the top 25 length-three
    * event-type paths users actually take, counted over every consecutive
    * triple in each user's (ts, event_id)-ordered stream. One window pass
    * (two `lead`s) per user — per-key-bounded like sessionize — then a
    * 125-key-max aggregate; the behavioral n-gram table that powers
    * funnel hypotheses, one order above q157's Markov transitions. */
  def q181EventPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead("e1", 1).over(w))
      .withColumn("e3", lead("e1", 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("e1"), col("e2"), col("e3"))
      .limit(25)
  }

  /** q178: cross-source quantile normalization — every document's length
    * re-expressed as the GLOBAL length at its within-source permille, the
    * calibration step that makes per-source quality scores comparable
    * before mixing (a score of "long for its source" means different
    * absolute lengths on different domains). Value-based ranks (count of
    * strictly-smaller values — no tiebreak needed) come from a per-source
    * histogram; the permille → global-value map is built once by exploding
    * the global histogram's cumulative ranges into exactly 1000 rows
    * (integer ceil arithmetic, q169's histogram discipline), then the doc
    * side equi-joins on permille — histogram-sized state, never a
    * data-sized sort. */
  def q178QuantileNorm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
    val sw = Window.partitionBy("source").orderBy("n_chars")
    val shist = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(sw))
      .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
      .withColumn("permille", expr("(cum - cnt) * 1000 div n"))
      .select("source", "n_chars", "permille")
    val gw = Window.orderBy("n_chars")
    val gmap = docs.groupBy("n_chars").agg(count(lit(1)).as("gcnt"))
      .withColumn("gcum", sum("gcnt").over(gw))
      .withColumn("nn", sum("gcnt").over(Window.partitionBy()))
      .withColumn("p_lo", expr("((gcum - gcnt) * 1000 + nn - 1) div nn"))
      .withColumn("p_hi", expr("(gcum * 1000 + nn - 1) div nn - 1"))
      .filter(col("p_lo") <= col("p_hi"))
      .select(explode(sequence(col("p_lo"), col("p_hi"))).as("permille"),
        col("n_chars").as("norm_chars"))
    docs.join(shist, Seq("source", "n_chars"))
      .join(broadcast(gmap), Seq("permille"))
      .select("doc_id", "source", "n_chars", "permille", "norm_chars")
  }

  /** q180: Heaps'-law vocabulary growth — distinct word-3-shingles FIRST
    * INTRODUCED per 50-document slab of the corpus (by doc id) and the
    * cumulative vocabulary curve. Sub-linear growth is healthy natural
    * text; a linear curve means boilerplate/IDs are flooding the
    * vocabulary, a plateau means the corpus stopped contributing new
    * language. Shingles (the dedup unit, [[graft.expressions
    * .WordShingles]]) rather than unigrams — phrase-level novelty is the
    * curve that still moves once the unigram vocabulary saturates. One
    * `min(doc_id)` per shingle (map-side combinable), then a slab-count
    * aggregate over ≤|vocab| rows. The cumulative curve runs through
    * [[graft.operators.PrefixSum]], NOT a global window — the slab axis
    * grows linearly with the corpus, so a single-task cumsum over it
    * would serialize exactly the growth curve this query exists to
    * draw. */
  def q180HeapsLaw(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val first = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3)).as("tri"))
      .groupBy("tri").agg(min("doc_id").as("first_doc"))
    val slabs = first.groupBy(expr("first_doc div 50").as("slab"))
      .agg(count(lit(1)).as("new_terms"))
      .withColumn("__g", lit(0))
    graft.operators.PrefixSum.inclusive(slabs, Seq("__g"), "slab",
        "new_terms", "cum_terms")
      .drop("__g")
  }

  /** q183: linear multi-touch attribution — every purchase's value (exact
    * micros) split equally across the user's views in the preceding 7
    * days, the integer remainder going to the EARLIEST touch (so credit
    * conserves exactly: Σ credits = Σ attributed purchase value), then
    * rolled up per user; top 50 by (credit, user). The join is an
    * equi-join on user with a range residual — per-user event streams are
    * bounded, so the pair volume is Σ_user views·purchases within the
    * window, never cross-user. q143's interval-join semantics, taken to a
    * full credit-assignment model. */
  def q183Attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"), fix6(col("value")).as("value_micros"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    val touches = purchases.join(views, Seq("user_id"))
      .filter(col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 7 DAY"))
    val w = Window.partitionBy("p_id")
    val wr = Window.partitionBy("p_id").orderBy("v_ts", "v_id")
    touches
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(wr))
      .withColumn("credit",
        expr("value_micros div n + if(rn = 1, value_micros % n, 0L)"))
      .groupBy("user_id")
      .agg(sum("credit").as("credit_micros"),
        count(lit(1)).as("n_touches"))
      .orderBy(col("credit_micros").desc, col("user_id"))
      .limit(50)
  }

  /** q184: int8 scalar quantization audit — per-dimension min/max ranges,
    * each value quantized to 0..255 on that range, and the exact
    * reconstruction-error profile (total + max absolute error in 10⁻⁶
    * units) per dimension. The cheap 4× compression a vector store
    * applies before PQ; the error profile is what decides which
    * dimensions need better treatment. All arithmetic on the shared
    * fixed-point grid, so both engines land on identical integers; the
    * per-dim stats join back as a broadcast (d rows). */
  def q184Int8Quant(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), fix6(col("x")).as("x6"))
    val stats = ex.groupBy("dim")
      .agg(min("x6").as("mn"), max("x6").as("mx"))
      .withColumn("span", col("mx") - col("mn"))
    ex.join(broadcast(stats), "dim")
      .withColumn("q",
        expr("if(span = 0, 0L, (x6 - mn) * 255 div span)"))
      .withColumn("err",
        expr("abs(x6 - (mn + q * span div 255))"))
      .groupBy("dim")
      .agg(max("mn").as("mn"), max("mx").as("mx"),
        sum("err").as("total_err"), max("err").as("max_err"))
  }

  /** q173: harmonic centrality from degree landmarks — the four
    * highest-degree parts of the co-purchase graph act as landmarks, every
    * node's centrality is Σ 1/dist over its ≤2-hop distances to them
    * (exact 10⁶-fixed-point, dist 0 self-terms excluded). The landmark
    * approximation is THE way centrality survives scale: exact harmonic
    * centrality is all-pairs BFS (O(n·m)); a constant landmark set makes
    * it [[graft.operators.Bfs.labeledHopDistances]] — one labeled
    * frontier walk where all landmarks expand in the same per-round keyed
    * joins. Landmark choice is deterministic (degree desc, id). */
  def q173HarmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    // the distinct edge list feeds THREE consumers (degree ranking, the
    // walk's adjacency, and its own re-normalization inside the operator)
    // — all read the SHARED written table, so each consumer pays a
    // parquet scan of |pairs| rows, never the corpus-scale derivation
    val und = graft.sources.CoPurchaseGraph.distinctEdges(s, dir)
    val adj = und.select(col("pa").as("node"))
      .unionAll(und.select(col("pb").as("node")))
    val landmarks = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node"))
      .limit(4)
      .select(col("node").as("lm"))
    val seeds = landmarks.select(col("lm"), col("lm").as("node"))
    graft.operators.Bfs.labeledHopDistances(und, "pa", "pb",
        seeds, "lm", "node", maxHops = 2)
      .filter(col("dist") >= 1)
      .groupBy("node")
      .agg(sum(expr("1000000L div dist")).as("harmonic_x1e6"),
        count(lit(1)).as("n_landmarks"))
      .select(col("node").as("part"), col("harmonic_x1e6"), col("n_landmarks"))
  }

  /** Unrolled labeled-BFS oracle for q173: the [[q173HarmonicCentrality]]
    * walk replayed round by round in SQL, landmark label carried through
    * every frontier (the ScaleQueries bfsOracleSql shape with a 2-column
    * visited key). Minimal per-landmark distances are unique, so there is
    * no tie order to disagree on. */
  private def harmonicOracleSql(hops: Int): String = {
    val sb = new StringBuilder(
      """WITH und AS MATERIALIZED (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |                  greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
        |adj AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
        |lm AS MATERIALIZED (
        |  SELECT src AS lm FROM adj GROUP BY src
        |  ORDER BY count(*) DESC, src LIMIT 4),
        |v0 AS MATERIALIZED (
        |  SELECT lm, lm AS node, CAST(0 AS BIGINT) AS dist FROM lm),
        |f0 AS MATERIALIZED (SELECT lm, node FROM v0)""".stripMargin)
    for (r <- 1 to hops) {
      sb.append(s""",
        |n$r AS MATERIALIZED (
        |  SELECT DISTINCT f.lm, adj.dst AS node
        |  FROM adj JOIN f${r - 1} f ON adj.src = f.node
        |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} p
        |                    WHERE p.lm = f.lm AND p.node = adj.dst)),
        |v$r AS MATERIALIZED (
        |  SELECT lm, node, dist FROM v${r - 1}
        |  UNION ALL SELECT lm, node, CAST($r AS BIGINT) FROM n$r),
        |f$r AS MATERIALIZED (SELECT lm, node FROM n$r)""".stripMargin)
    }
    sb.append(s"""
      |SELECT node AS part,
      |  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_x1e6,
      |  CAST(count(*) AS BIGINT) AS n_landmarks
      |FROM v$hops WHERE dist >= 1 GROUP BY node""".stripMargin)
    sb.toString
  }

  /** q186: HITS hubs and authorities over the supplier→part supply
    * bipartite graph ([[graft.operators.Hits]], 2 rounds) — suppliers
    * that stock the widely-sourced parts score as hubs, parts stocked by
    * the strong hubs score as authorities, the mutual-reinforcement
    * ranking PageRank's single score can't express on a bipartite
    * structure. Top 20 per side via two independent
    * TakeOrderedAndProject branches (a rank window per side would put a
    * corpus-proportional side into one task). */
  def q186Hits(s: SparkSession, dir: String): DataFrame = {
    val scores = graft.operators.Hits.scores(
      Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_partkey")),
      "l_suppkey", "l_partkey", rounds = 2)
    val hubs = scores.filter(col("side") === "hub")
      .orderBy(col("score").desc, col("id")).limit(20)
    val auths = scores.filter(col("side") === "auth")
      .orderBy(col("score").desc, col("id")).limit(20)
    hubs.unionAll(auths)
  }

  /** DuckDB mirror of [[q186Hits]]: the unrolled half-round recurrence —
    * join-aggregate then max-rescale, alternating sides — with the same
    * top-20-per-side tails. Non-negative integers end to end, so `//`
    * and Spark's `div` agree on every truncation. */
  private def hitsOracleSql(rounds: Int): String = {
    val sb = new StringBuilder(
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        |a0 AS MATERIALIZED (
        |  SELECT p, CAST(1000000 AS BIGINT) AS a
        |  FROM (SELECT DISTINCT p FROM e))""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |h${r}r AS MATERIALIZED (
        |  SELECT s, sum(a) AS v FROM e JOIN a${r - 1} USING (p) GROUP BY s),
        |h$r AS MATERIALIZED (
        |  SELECT s, CAST(v * 1000000 // (SELECT max(v) FROM h${r}r) AS BIGINT) AS h
        |  FROM h${r}r),
        |a${r}r AS MATERIALIZED (
        |  SELECT p, sum(h) AS v FROM e JOIN h$r USING (s) GROUP BY p),
        |a$r AS MATERIALIZED (
        |  SELECT p, CAST(v * 1000000 // (SELECT max(v) FROM a${r}r) AS BIGINT) AS a
        |  FROM a${r}r)""".stripMargin)
    }
    sb.append(s"""
      |SELECT * FROM (
      |  SELECT 'hub' AS side, s AS id, h AS score FROM h$rounds
      |  ORDER BY score DESC, id LIMIT 20)
      |UNION ALL
      |SELECT * FROM (
      |  SELECT 'auth' AS side, p AS id, a AS score FROM a$rounds
      |  ORDER BY score DESC, id LIMIT 20)""".stripMargin)
    sb.toString
  }

  /** q187: MMR (maximal-marginal-relevance) diverse re-ranking — the
    * top-50 brute-force candidates for query vector 0, greedily re-ranked
    * so each of the 10 picks maximizes `relevance − max-similarity-to-
    * already-picked` (λ=½ MMR, whose ordering that difference preserves).
    * The retrieval stage is the distributed TakeOrdered pass (corpus-
    * scale); the greedy stage is inherently sequential, so it runs on the
    * COLLECTED 50-candidate set — a k²-bounded collect by construction
    * (the PQ-codebook precedent), with the 50×50 cosine matrix computed
    * distributively by the same codegen'd [[graft.operators.Similarity
    * .cosine]] the oracle mirrors. Scores are per-row IEEE doubles —
    * bit-exact cross-engine — with vec_id tiebreaks. */
  def q187MmrRerank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter(col("vec_id") === 0L).select(col("embedding").as("__q"))
    val cand = emb.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        Similarity.cosine(col("embedding"), col("__q")).as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(50)
      .sever()
    val rels: Seq[(Long, Double)] = cand.select("vec_id", "rel").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val sims: Map[(Long, Long), Double] = cand.as("a")
      .join(cand.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val relMap = rels.toMap
    val first = rels.minBy { case (id, rel) => (-rel, id) }._1
    var selected = Vector(first)
    while (selected.length < 10) {
      val pick = rels.collect {
        case (id, rel) if !selected.contains(id) =>
          id -> (rel - selected.map(sid => sims((id, sid))).max)
      }.minBy { case (id, score) => (-score, id) }._1
      selected :+= pick
    }
    import s.implicits._
    selected.zipWithIndex
      .map { case (id, i) => (i + 1L, id, relMap(id)) }
      .toDF("rank", "vec_id", "rel")
  }

  /** DuckDB mirror of [[q187MmrRerank]]: candidate CTE (top-50 by the
    * shared cosine), full ordered-pair similarity CTE, then the greedy
    * rounds UNROLLED — round r scores every unpicked candidate against
    * the accumulated pick set and takes the (score, vec_id) max. */
  private def mmrOracleSql(k: Int): String = {
    val cos = LlmQueries.cosSql("a.embedding", "b.embedding")
    val rel = LlmQueries.cosSql("embeddings.embedding", "q.qe")
    val sb = new StringBuilder(
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         |  SELECT vec_id, $rel AS rel, embedding
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY rel DESC, vec_id LIMIT 50),
         |ps AS MATERIALIZED (
         |  SELECT a.vec_id AS x, b.vec_id AS y, $cos AS cos
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |sel1 AS MATERIALIZED (
         |  SELECT vec_id, CAST(1 AS BIGINT) AS rank FROM cand
         |  ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin)
    for (r <- 2 to k) {
      // every round CTE MATERIALIZED: sel(r) is referenced three times by
      // round r+1, so un-materialized inlining compounds 3^k-fold — the
      // 10-round chain never finishes without it
      sb.append(s""",
        |p$r AS MATERIALIZED (
        |  SELECT c.vec_id, c.rel - max(ps.cos) AS score
        |  FROM cand c
        |  JOIN ps ON ps.x = c.vec_id
        |  JOIN sel${r - 1} s ON ps.y = s.vec_id
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
        |  GROUP BY c.vec_id, c.rel
        |  ORDER BY score DESC, c.vec_id LIMIT 1),
        |sel$r AS MATERIALIZED (
        |  SELECT vec_id, rank FROM sel${r - 1}
        |  UNION ALL SELECT vec_id, CAST($r AS BIGINT) FROM p$r)""".stripMargin)
    }
    sb.append(s"""
      |SELECT s.rank, s.vec_id, c.rel
      |FROM sel$k s JOIN cand c USING (vec_id)""".stripMargin)
    sb.toString
  }

  /** q188: mutual nearest-neighbor pairs — vectors that are each other's
    * 1-NN within their label cell (reciprocal top-1 cosine, a < b
    * canonical order). Mutual-NN is the contraction step of scalable
    * agglomerative clustering and a high-precision near-dup signal: a
    * one-directional NN is cheap to be, a RECIPROCAL one is rare. Built
    * by self-joining the existing cell-bounded 1-NN table
    * ([[graft.operators.Similarity.bucketedNearestNeighbor]]) on the
    * reversed pair — two equi-joins, both bounded by the Σ cell² budget
    * the skew tier already gates. */
  def q188MutualNn(s: SparkSession, dir: String): DataFrame = {
    val nn = graft.operators.Similarity.bucketedNearestNeighbor(
      Tables.embeddings(s, dir), "vec_id", "embedding", "label")
    nn.as("a").join(nn.as("b"),
        col("a.nn_id") === col("b.vec_id") &&
          col("b.nn_id") === col("a.vec_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("a.nn_id").as("vb"))
  }

  /** q189: exact Gini concentration of document length per source — the
    * inequality screen behind "is this source a few giant pages plus
    * stubs, or uniformly sized". Computed ENTIRELY from the (source,
    * n_chars) value histogram: a run of `c` equal values occupying ranks
    * prev+1..prev+c contributes `v·(2·(prev·c + c(c+1)/2) − c(n+1))` to
    * Σ(2i−n−1)xᵢ — equal values make the within-run order irrelevant, so
    * the classic rank formula becomes tie-proof integer arithmetic and
    * the per-source state stays |distinct lengths|, never |docs|. Output
    * in exact permille of the 0..1 Gini. */
  def q189GiniLength(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("n_chars")
    val cum = hist
      .withColumn("cum", sum("c").over(w))
      .withColumn("prev", col("cum") - col("c"))
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
    cum.groupBy("source")
      .agg(max("n").as("n_docs"),
        sum(expr("n_chars * c")).as("sum_chars"),
        sum(expr("n_chars * (2 * (prev * c + c * (c + 1) div 2) - c * (n + 1))"))
          .as("num"))
      .select(col("source"), col("n_docs"),
        expr("1000 * num div (n_docs * sum_chars)").as("gini_permille"))
  }

  /** q190: effective source diversity per language — the inverse-Simpson
    * index N²/Σnₛ² ("how many equally-sized sources is this mix worth"),
    * the one number a mixing recipe is graded on. Two nested map-side
    * combinable aggregates — (lang, source) counts then per-lang moments
    * — with the index in exact thousandths; #lang × #source state at any
    * corpus size. */
  def q190SourceDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("ns"))
      .groupBy("lang")
      .agg(sum("ns").as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(expr("ns * ns")).as("sq"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        expr("1000 * n_docs * n_docs div sq").as("eff_sources_x1000"))

  /** q191: quality-score calibration against duplication — exact-dup rate
    * per GLOBAL token-count decile, the curve that validates (or indicts)
    * a quality score before it gates anything: low deciles should carry
    * the duplicate mass; a flat curve means the score measures nothing
    * the dedup cares about. Deciles come from the score value histogram
    * via [[graft.operators.PrefixSum]] (q78's rule, global axis), dup
    * flags from the md5 fingerprint groups (q27's rule); the join keys
    * are histogram-sized. */
  def q191QualityDupCalibration(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("score"))
    val hist = t.groupBy("score").agg(count(lit(1)).as("c"))
      .withColumn("__g", lit(0))
    val cum = graft.operators.PrefixSum.inclusive(hist, Seq("__g"), "score", "c", "cum")
    val deciles = cum
      .join(broadcast(cum.agg(max("cum").as("n"))))
      .select(col("score"), expr("(10 * (cum - c)) div n").as("decile"))
    val dups = t.groupBy("fp").agg(count(lit(1)).as("m"))
    t.join(dups, "fp")
      .join(broadcast(deciles), "score")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        expr("1000 * sum(if(m > 1, 1, 0)) div count(*)").as("dup_permille"))
  }

  /** q192: k-anonymity audit — group sizes over the quasi-identifier
    * tuple (event type, hour of day, value magnitude bucket) with an
    * at-risk flag for groups under k=5. The privacy screen run before any
    * event-level export: a QI combination shared by fewer than k users is
    * re-identifiable. The magnitude bucket is bit-length (the shared
    * integer log₂), so the QI space is small and closed — one map-side
    * combinable aggregate, #QI-bounded state at any stream size. */
  def q192KAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), hour(col("ts")).as("hour"),
        (length(bin(floor(col("value")).cast("long"))) - 1).as("vbucket"))
      .groupBy("event_type", "hour", "vbucket")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("at_risk", col("cnt") < 5)

  /** q195: funnel conversion latency — minutes from each user's FIRST
    * view to their first purchase at-or-after it, with exact p50/p90 by
    * the cumulative-histogram rule. The "how long does conversion take"
    * follow-up to q79's who-converts funnel; delays histogram to minute
    * grain, so the quantile state is the delay-value domain, not the user
    * count. One row out: conversions + both quantiles. */
  def q195FunnelLatency(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("v_us"))
    val delays = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .join(firstView, "user_id")
      .filter(col("p_us") >= col("v_us"))
      .groupBy("user_id").agg(min(col("p_us") - col("v_us")).as("d_us"))
      .select(expr("d_us div 60000000").as("d_min"))
    val hist = delays.groupBy("d_min").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum("c").over(Window.orderBy("d_min")))
      .withColumn("n", sum("c").over(Window.partitionBy()))
    cum.agg(max("n").as("n_conversions"),
      min(when(col("cum") * 2 >= col("n"), col("d_min"))).as("p50_min"),
      min(when(col("cum") * 10 >= col("n") * 9, col("d_min"))).as("p90_min"))
  }

  /** q194: raw TEXT-LINE source (`spark.read.text`) — the format every
    * ingest ladder starts from when the file is neither CSV nor JSON yet
    * (logs, jsonl before schema, scraped dumps): each line verbatim, with
    * md5 fingerprint and char length per line — the fingerprint SET, not
    * order, is the contract. The oracle reads the same file with the
    * delimiter and quoting DISABLED — proving the engine's text source
    * does no CSV interpretation (embedded quotes and commas survive). */
  def q194TextLines(s: SparkSession, dir: String): DataFrame =
    s.read.text(s"${Tables.fixtureDir}/journey.csv")
      .select(md5(col("value")).as("fp"),
        length(col("value")).cast("long").as("n_chars"))

  /** q196: ranking-window surface — rank, dense_rank, ntile(4),
    * percent_rank and cume_dist over each user's event stream in one
    * window pass, per-milled with a floor both engines compute on the
    * same IEEE doubles (the rationals are exact small-int divisions).
    * Covers the full ranking-family semantics (gaps, density, bucket
    * fill order, inclusive/exclusive endpoints) on a per-key-bounded
    * partition — the window shape that IS safe at scale. */
  def q196WindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pr_permille",
        floor(percent_rank().over(w) * 1000).cast("long"))
      .withColumn("cd_permille",
        floor(cume_dist().over(w) * 1000).cast("long"))
      .drop("value")
  }

  /** q197: rendezvous (highest-random-weight) resharding audit — each doc
    * goes to the shard with the max md5(doc:shard) weight; growing 16→17
    * shards, HRW moves only the docs whose argmax is the NEW shard
    * (~1/17), where mod-hashing reshuffles ~16/17 of everything. The
    * query computes both assignments and both movement counts — the
    * placement scheme a 100-TB store reshards by, with the exact integer
    * proof of its stability. Per doc the argmax explodes 17 bounded
    * rows; state is #shards² for the matrix. */
  def q197RendezvousReshard(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Long
    val shards = Tables.documents(s, dir).select("doc_id")
      .select(col("doc_id"), explode(sequence(lit(0), lit(16))).as("shard"))
      .withColumn("w", md5Long(concat(col("doc_id").cast("string"),
        lit(":"), col("shard").cast("string"))))
    shards.groupBy("doc_id")
      .agg(
        max(when(col("shard") < 16, struct(col("w"), col("shard")))).as("old"),
        max(struct(col("w"), col("shard"))).as("new"))
      .select(col("doc_id"), col("old.shard").as("old_shard"),
        col("new.shard").as("new_shard"))
      .groupBy()
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("old_shard") =!= col("new_shard"), 1L).otherwise(0L))
          .as("hrw_moved"),
        sum(when(pmod(col("doc_id"), lit(16)) =!= pmod(col("doc_id"), lit(17)),
          1L).otherwise(0L)).as("mod_moved"))
  }

  /** q198: semantic clusters — connected components over the mutual-NN
    * graph (q188's reciprocal pairs as edges, every vector a node), with
    * member counts. Mutual-NN + CC is the scalable skeleton of
    * agglomerative clustering: each contraction round merges reciprocal
    * pairs, and the CC labels after one mutual-NN round are its first
    * level. Reuses [[graft.operators.Dedup.connectedComponents]] (keyed
    * label-exchange rounds, `localCheckpoint` per round); the oracle
    * replays reachability with a recursive CTE. */
  def q198SemanticClusters(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val pairs = q188MutualNn(s, dir)
      .select(col("va").as("id_a"), col("vb").as("id_b"))
    val labels = graft.operators.Dedup.connectedComponents(emb, pairs, "vec_id")
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "cluster_id").select("vec_id", "cluster_id", "n_members")
  }

  /** q199: per-label centroid and dispersion — the embedding-drift screen
    * per class: TRUNCATED fixed-point centroid (sum6 div n per dim), the
    * centroid's squared norm, and the average squared deviation from it.
    * A collapsing class (dispersion → 0) or a drifting one (norm moves
    * between dumps) surfaces here before any training run does. Two
    * (label, dim)-keyed aggregates — d·#labels state; the integer
    * centroid makes the deviation pass exactly replayable. */
  def q199LabelCentroids(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), fix6(col("x")).as("x6"))
    // sign carried outside the division: Spark `div` truncates toward
    // zero while DuckDB `//` floors, so they only agree on non-negative
    // operands (the Pca rescale convention)
    val cent = ex.groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("x6").as("s6"))
      .withColumn("c6", expr("if(s6 < 0, -((-s6) div n), s6 div n)"))
    val norms = cent.groupBy("label")
      .agg(max("n").as("n_vecs"), sum(expr("c6 * c6")).as("centroid_sq_norm"))
    val devs = ex.join(cent.select("label", "dim", "c6"), Seq("label", "dim"))
      .groupBy("label")
      .agg(sum(expr("(x6 - c6) * (x6 - c6)")).as("sq_dev_total"))
    norms.join(devs, "label")
      .select(col("label"), col("n_vecs"), col("centroid_sq_norm"),
        expr("sq_dev_total div (n_vecs * 64)").as("avg_sq_dev"))
  }

  /** q200: hard-negative / positive mining within trained IVF cells — for
    * every anchor, the highest-cosine DIFFERENT-label vector (the hard
    * negative contrastive training wants) and the highest-cosine
    * SAME-label vector (the anchor's easiest positive), searched in the
    * anchor's own trained cell (q46's quantizer verbatim): hard negatives
    * live near the anchor by definition, so the cell IS the candidate
    * set, and the join stays inside the gated Σ cell² budget. Conditional
    * `max(struct)` aggregates keep the per-anchor reduction map-side
    * (q32's discipline); ties break to the lowest candidate id. */
  def q200HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = Tables.embeddings(s, dir)
    val centroids = Similarity.trainCentroidsLite(emb, "vec_id", "embedding",
      k = 4, sampleMod = 10L, maxSample = 1000, iters = 1)
    val cells = emb.withColumn("__c",
      Similarity.ivfAssign(col("embedding"), centroids))
    val a = cells.select(col("__c"), col("vec_id"), col("label"),
      col("embedding").as("__va"))
    val b = cells.select(col("__c"), col("vec_id").as("cand_id"),
      col("label").as("cand_label"), col("embedding").as("__vb"))
    a.join(b, "__c")
      .filter(col("vec_id") =!= col("cand_id"))
      .select(col("vec_id"), col("label"), col("cand_id"), col("cand_label"),
        Similarity.cosine(col("__va"), col("__vb")).as("cos"))
      .groupBy("vec_id", "label")
      .agg(
        max(when(col("cand_label") =!= col("label"),
          struct(col("cos"), (-col("cand_id")).as("nid")))).as("hn"),
        max(when(col("cand_label") === col("label"),
          struct(col("cos"), (-col("cand_id")).as("nid")))).as("pp"))
      .select(col("vec_id"), col("label"),
        (-col("hn.nid")).as("hard_neg_id"), col("hn.cos").as("hard_neg_cos"),
        (-col("pp.nid")).as("pos_id"), col("pp.cos").as("pos_cos"))
  }

  /** q201: cluster purity — per trained IVF cell, the dominant label's
    * share (permille) and the effective number of labels (inverse
    * Simpson), the two integers that say whether the quantizer's cells
    * align with the labeling. Log-free purity metrics by design: entropy
    * would drag floating log into the oracle contract. #cell × #label
    * state. */
  def q201TopicPurity(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = Tables.embeddings(s, dir)
    val centroids = Similarity.trainCentroidsLite(emb, "vec_id", "embedding",
      k = 4, sampleMod = 10L, maxSample = 1000, iters = 1)
    emb.withColumn("cell", Similarity.ivfAssign(col("embedding"), centroids))
      .groupBy("cell", "label").agg(count(lit(1)).as("nl"))
      .groupBy("cell")
      .agg(sum("nl").as("n_vecs"), max("nl").as("dom"),
        count(lit(1)).as("n_labels"), sum(expr("nl * nl")).as("sq"))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        col("n_labels"),
        expr("1000 * dom div n_vecs").as("purity_permille"),
        expr("1000 * n_vecs * n_vecs div sq").as("eff_labels_x1000"))
  }

  /** q202: where each source's median sits globally — the per-source
    * exact median length (q169's rule) looked up as a permille rank in
    * the GLOBAL length distribution (strictly-below count over total).
    * One number per source that says "this crawl skews short/long
    * relative to the corpus" — the quick screen before the full q178
    * normalization. Histogram-sized state end to end. */
  def q202SourcePercentile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("source", "n_chars")
    val sw = Window.partitionBy("source").orderBy("n_chars")
    val medians = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(sw))
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
      .groupBy("source")
      .agg(min(when(col("cum") * 2 >= col("n") + (col("n") % 2), col("n_chars")))
        .as("median_chars"))
    val ghist = docs.groupBy("n_chars").agg(count(lit(1)).as("gc"))
      .withColumn("gbelow",
        sum("gc").over(Window.orderBy("n_chars")) - col("gc"))
      .withColumn("n", sum("gc").over(Window.partitionBy()))
    medians.join(ghist.select(col("n_chars").as("median_chars"),
        col("gbelow"), col("n")), "median_chars")
      .select(col("source"), col("median_chars"),
        expr("gbelow * 1000 div n").as("global_permille"))
  }

  /** q203: behavioral-cohort screen — users sharing an IDENTICAL activity
    * SHAPE: the md5 of their ordered (event type : log₂-bucketed count)
    * profile. Exact counts fingerprint almost nobody identically (organic
    * noise); the magnitude bucket keeps the shape while absorbing it, so
    * scripted cohorts and replayed sessions — same actions at the same
    * orders of magnitude — collide where organic users scatter. One
    * per-user ordered string fold (per-key-bounded by #types), then a
    * group-size pass keeping fingerprints shared by ≥2 users. */
  def q203BotScreen(s: SparkSession, dir: String): DataFrame = {
    val fp = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(md5(concat_ws(",",
        sort_array(collect_list(concat(col("event_type"), lit(":"),
          length(bin(col("c"))))))))
        .as("fp"))
    val shared = fp.groupBy("fp").agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= 2)
    fp.join(shared, "fp").select("fp", "user_id", "n_users")
  }

  /** q204: floored running stock balance per supplier — shipments add,
    * orders draw down, and the balance CLAMPS at zero (you cannot ship
    * what you do not have). The clamp looks sequential — each step
    * depends on the clamped previous — but the floored balance has the
    * closed form `p_t − min(0, min_{s≤t} p_s)` over the RAW prefix sum,
    * so two per-key windows replace a per-row recursion: the classic
    * "impossible in SQL" running pattern, kept distributed and exactly
    * oracle-replayable. Daily deltas per supplier first (calendar-bounded
    * per-key windows, the q117 argument); top 30 final balances. */
  def q204StockFloor(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val deltas = li.select(col("l_suppkey").as("supp"),
        date_trunc("day", col("l_shipdate")).as("day"),
        col("l_quantity").cast("long").as("d"))
      .unionAll(li.join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("supp"),
          date_trunc("day", col("o_orderdate")).as("day"),
          (-col("l_quantity").cast("long")).as("d")))
      .groupBy("supp", "day").agg(sum("d").as("delta"))
    val w = Window.partitionBy("supp").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bal = deltas
      .withColumn("p", sum("delta").over(w))
      .withColumn("floor_neg", least(lit(0L), min("p").over(w)))
      .withColumn("balance", col("p") - col("floor_neg"))
    bal.groupBy("supp")
      .agg(max(struct(col("day"), col("balance"))).as("last"))
      .select(col("supp"), col("last.balance").as("final_balance"))
      .orderBy(col("final_balance").desc, col("supp"))
      .limit(30)
  }

  /** q205: behavioral predictability — per user, the inverse-Simpson
    * effective number of TRANSITIONS (event-type bigrams): a user whose
    * n² /Σc² is near 1 repeats one move endlessly (scripted), one near
    * the transition-vocabulary size is organically unpredictable. The
    * log-free entropy stand-in again (q190's index over q157's bigram
    * state), per user; ≥20 transitions to qualify; 25 most predictable
    * with (eff, user) tiebreak. One lead window per user stream +
    * bounded-key aggregates. */
  def q205Predictability(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead("e1", 1).over(w))
      .filter(col("e2").isNotNull)
      .groupBy("user_id", "e1", "e2").agg(count(lit(1)).as("c"))
    trans.groupBy("user_id")
      .agg(sum("c").as("n_trans"), sum(expr("c * c")).as("sq"))
      .filter(col("n_trans") >= 20)
      .select(col("user_id"), col("n_trans"),
        expr("1000 * n_trans * n_trans div sq").as("eff_trans_x1000"))
      .orderBy(col("eff_trans_x1000"), col("user_id"))
      .limit(25)
  }

  /** q206: chi-square independence screen, source × global length
    * quartile — "does document length depend on source?", the first test a
    * mixing recipe runs before trusting per-source length stats. Quartile
    * bounds come from the exact global cumulative-histogram rule (the q202
    * value-histogram axis: the unpartitioned window runs over |distinct
    * n_chars| post-aggregate rows, not the corpus), each doc lands in
    * bucket = #bounds strictly below it, and every contingency cell
    * carries its scaled statistic contribution
    * (O·N − R·C)²·10⁶ / (N·R·C) — DECIMAL(38,0) products (d² peaks near
    * 10¹⁵·10⁶ at bench scale, past BIGINT) with integer DIV, so both
    * engines land the same digits. Cells are |sources|·4 rows: driver-size
    * output however large the corpus. */
  def q206ChiSquare(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("source", "n_chars")
    val gw = Window.orderBy("n_chars")
    val bounds = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(gw))
      .withColumn("n", sum("c").over(Window.partitionBy()))
      .agg(min(when(col("cum") * 4 >= col("n"), col("n_chars"))).as("b1"),
        min(when(col("cum") * 4 >= col("n") * 2, col("n_chars"))).as("b2"),
        min(when(col("cum") * 4 >= col("n") * 3, col("n_chars"))).as("b3"))
    val cells = docs.crossJoin(broadcast(bounds))
      .select(col("source"),
        ((col("n_chars") > col("b1")).cast("long") +
          (col("n_chars") > col("b2")).cast("long") +
          (col("n_chars") > col("b3")).cast("long")).as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("o"))
    val withTotals = cells
      .withColumn("r", sum("o").over(Window.partitionBy("source")))
      .withColumn("c", sum("o").over(Window.partitionBy("bucket")))
      .withColumn("n", sum("o").over(Window.partitionBy()))
    withTotals
      .withColumn("d", col("o") * col("n") - col("r") * col("c"))
      .select(col("source"), col("bucket"), col("o"),
        expr("CAST((CAST(d AS DECIMAL(38,0)) * d * 1000000)" +
          " DIV (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)")
          .as("contrib6"))
      .orderBy("source", "bucket")
  }

  /** q207: l-diversity audit — q192's k-anonymity complement: a
    * quasi-identifier group can be large (k high) yet still leak when
    * every member shares one sensitive value. Per (nation, market
    * segment) group: k = members, l = distinct sensitive account-balance
    * kilobuckets, risky = l < 3. The group count is |nations|·|segments|
    * (bounded), distinct-counting runs as a two-level groupBy (exact, no
    * sketch needed at this key cardinality), and the balance bucket is one
    * IEEE double division both engines perform identically. */
  def q207LDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0d).cast("long").as("bal_kb"))
      .groupBy("nation", "segment")
      .agg(count(lit(1)).as("k"),
        countDistinct("bal_kb").as("l"))
      .select(col("nation"), col("segment"), col("k"), col("l"),
        (col("l") < 3).as("risky"))
      .orderBy("nation", "segment")

  /** q208: item-item collaborative filtering — per part, the top-3
    * "customers also bought" recommendations by cosine-style lift
    * c(a,b)²·10⁶ / (c(a)·c(b)) over order baskets. The co-occurrence
    * pairs come from the per-order set derivation (one shuffle keyed by
    * order, pair fan-out bounded by basket size — ≤7 lines in this
    * schema; the 100-TB variant caps the basket the way q153 caps hubs),
    * item supports from the exploded distinct (order, part) stream, and
    * the per-item ranking window is bounded by the item's co-occurrence
    * degree, never the corpus. Support floors (c(a) ≥ 5 anchors, pair
    * count ≥ 2) keep one-off baskets from minting fake affinity. All-long
    * arithmetic: c² ·10⁶ peaks near 10¹⁸ only past 10⁶-order pair counts,
    * where the DECIMAL(38,0) widening of q206 applies. */
  def q208ItemCf(s: SparkSession, dir: String): DataFrame = {
    val op = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
      .distinct()
    val support = op.groupBy("part").agg(count(lit(1)).as("ca"))
    val pairs = op.groupBy("ok").agg(collect_set(col("part")).as("ps"))
      .select(explode(col("ps")).as("pa"), col("ps"))
      .select(col("pa"), explode(col("ps")).as("pb"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 2)
    val directed = pairs
      .select(col("pa").as("item"), col("pb").as("rec"), col("cab"))
      .unionAll(pairs.select(col("pb").as("item"), col("pa").as("rec"),
        col("cab")))
    val scored = directed
      .join(support.select(col("part").as("item"), col("ca")), Seq("item"))
      .filter(col("ca") >= 5)
      .join(support.select(col("part").as("rec"), col("ca").as("cb")),
        Seq("rec"))
      .withColumn("score6",
        expr("cab * cab * 1000000L div (ca * cb)"))
    val rw = Window.partitionBy("item")
      .orderBy(col("score6").desc, col("rec"))
    scored.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= 3)
      .select("item", "rec", "cab", "score6", "rank")
      .orderBy("item", "rank")
  }

  /** q209: cheapest-path reach from the Brand#12 slice — the (min, +)
    * member of the semiring family (q149 hop distance, q151 bottleneck
    * strength): edge cost = 10⁴ div co-purchase count (rarely-co-bought
    * links are expensive), a node's cost = its cheapest ≤2-hop path sum,
    * the "association distance" that prices how organically a part
    * belongs to the vetted slice. Integer min/+ throughout
    * ([[graft.operators.CheapestPath.distances]]), so the oracle's
    * unrolled relaxations agree exactly. */
  def q209CheapestPath(s: SparkSession, dir: String): DataFrame = {
    val weighted = graft.sources.CoPurchaseGraph.weighted(s, dir)
      .withColumn("cost", greatest(lit(1L), expr("10000L div norders")))
    val seeds = Tables.part(s, dir).filter(col("p_brand") === "Brand#12")
      .select(col("p_partkey").as("node"))
    graft.operators.CheapestPath.distances(weighted, "pa", "pb", "cost",
        seeds, "node", rounds = 2)
      .select(col("node").as("part"), col("dist").as("cost"))
  }

  /** q210: Kolmogorov–Smirnov drift matrix — for every source pair, the
    * exact KS statistic between their length distributions:
    * D = max over values v of |cum_a(v)·n_b − cum_b(v)·n_a|, reported as
    * ks6 = D·10⁶/(n_a·n_b) plus the value where the gap peaks (smallest
    * such value on ties). The two-sample drift screen a pipeline runs
    * when deciding whether yesterday's crawl still looks like today's.
    * Everything runs on the (source, n_chars) VALUE histogram: the
    * source×value spine is |sources|·|distinct lengths| post-aggregate
    * rows, the per-source cumulative is the q169 window, and the pair
    * join fans to sources²·|values| — bounded by the value domain and the
    * source dimension, never corpus rows. DECIMAL(38,0)/HUGEINT products
    * keep D·10⁶ exact past the BIGINT edge at real corpus counts. */
  def q210KsDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("source", "n_chars")
    val hist = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
    val spine = docs.select("n_chars").distinct()
    val sources = docs.select("source").distinct()
    val grid = spine.crossJoin(broadcast(sources))
    val cum = grid.join(hist, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("source").orderBy("n_chars")))
      .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
    val a = cum.select(col("source").as("src_a"), col("n_chars"),
      col("cum").as("cum_a"), col("n").as("n_a"))
    val b = cum.select(col("source").as("src_b"), col("n_chars"),
      col("cum").as("cum_b"), col("n").as("n_b"))
    a.join(b, Seq("n_chars")).filter(col("src_a") < col("src_b"))
      .withColumn("d", abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
      .groupBy("src_a", "src_b")
      .agg(max(struct(col("d"), negate(col("n_chars")).as("nv"))).as("m"),
        max("n_a").as("n_a"), max("n_b").as("n_b"))
      .select(col("src_a"), col("src_b"),
        expr("CAST((CAST(m.d AS DECIMAL(38,0)) * 1000000)" +
          " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("ks6"),
        negate(col("m.nv")).as("at_chars"))
      .orderBy("src_a", "src_b")
  }

  /** q211: ABC (Pareto) revenue classification — every part classified by
    * the revenue strictly ahead of it in the global (revenue DESC, part)
    * order: A inside the first 80% of total revenue, B inside 95%, C in
    * the tail. The classic "which 20% of the catalog earns 80%" screen.
    * The global cumulative is the [[graft.operators.GlobalOrder]] recipe
    * pointed at a VALUE key instead of a hash: bucket = revenue's top
    * range bits (≤ 2¹⁵ equal-width slices of [0, max], monotone in
    * revenue), per-bucket revenue sums collect to a bounded driver scan
    * that broadcasts each bucket's strictly-above offset, and the
    * within-bucket strictly-above cumsum is a window whose partition is
    * one revenue slice — never the whole catalog in one task (the exact
    * shape `row_number() OVER (ORDER BY rev)` would plan). Cents fixed
    * point end to end; ties break by part key, so the order is total and
    * both engines class every part identically.
    *
    * NOTE non-lazy construction (like q233): building this frame RUNS two
    * bounded Spark jobs — the max-revenue scalar and the ≤2¹⁵-row
    * per-bucket collect — because the bucket offsets must exist before
    * the final plan can be declared. An empty lineitem short-circuits to
    * an empty correctly-typed frame (max() is NULL then). */
  def q211AbcClasses(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rev = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("part"),
        floor(col("l_extendedprice") * 100d).cast("long").as("cents"))
      .groupBy("part").agg(sum("cents").as("rev"))
    val maxRevOpt = Option(rev.agg(max("rev")).head().get(0))
      .map(_.asInstanceOf[Long])
    if (maxRevOpt.isEmpty)
      return rev.select(col("part"), col("rev"), lit("C").as("abc"))
        .limit(0)
    val maxRev = maxRevOpt.get
    val width = math.max(1L, maxRev / (1L << 15))
    val bucketed = rev.withColumn("bucket", expr(s"rev div ${width}L"))
    val perBucket = bucketed.groupBy("bucket").agg(sum("rev").as("s")).collect()
    var above = 0L
    val offsetRows: Seq[Row] = perBucket.toSeq.sortBy(-_.getLong(0)).map { r =>
      val off = above; above += r.getLong(1); Row(r.getLong(0), off)
    }
    val total = above
    val offsets = s.createDataFrame(offsetRows.asJava, StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("above_bucket", LongType, nullable = false))))
    val w = Window.partitionBy("bucket")
      .orderBy(col("rev").desc, col("part"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offsets), Seq("bucket"))
      .withColumn("rev_above",
        col("above_bucket") + sum("rev").over(w) - col("rev"))
      .select(col("part"), col("rev"),
        when(col("rev_above") * 5 < lit(total) * 4, "A")
          .when(col("rev_above") * 20 < lit(total) * 19, "B")
          .otherwise("C").as("abc"))
      .orderBy("part")
  }

  /** q212: lagged autocorrelation of the daily event series — per event
    * type, the lag-1 and lag-7 serial correlation of daily counts as the
    * signed square r²·sign·10⁶ (the q111 exact-moment chain squared to
    * stay log/sqrt-free: sign(num)·num²·10⁶ div (dxx·dyy) over integer
    * moments, DECIMAL(38,0) for num² which passes BIGINT fast). Lag-1
    * near +1 says momentum, lag-7 says weekly rhythm — the seasonality
    * detector behind q176's baseline choice. Day counts are a
    * calendar-bounded aggregate; the lag join is a per-type window over
    * that calendar grid. */
  def q212Autocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    def leg(lag: Int): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("y", lead("x", lag).over(w))
        .filter(col("y").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          // moment sums and their differences run in DECIMAL(38,0): the
          // DuckDB oracle's sum() of integers is HUGEINT, so BIGINT here
          // would silently wrap at large daily counts (n·sxy ~ days ×
          // Σx·y) where the oracle stays exact. Remaining bound is the
          // squared numerator: num²·10⁶ must fit 38 digits, i.e.
          // |num| ≲ 10¹⁶ — stated, not silently assumed.
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .select(col("event_type"), lit(lag.toLong).as("lag"), col("n"),
          expr("CAST(n AS DECIMAL(38,0)) * sxy" +
            " - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
          expr("CAST(n AS DECIMAL(38,0)) * sxx" +
            " - CAST(sx AS DECIMAL(38,0)) * sx").as("dxx"),
          expr("CAST(n AS DECIMAL(38,0)) * syy" +
            " - CAST(sy AS DECIMAL(38,0)) * sy").as("dyy"))
        // the DIV runs on the POSITIVE magnitude num² and the sign is a
        // separate integer factor — Spark's div truncates toward zero
        // where DuckDB's // floors, and they only agree on non-negatives
        .filter(col("dxx") > 0 && col("dyy") > 0)
        .select(col("event_type"), col("lag"), col("n"),
          (expr("CAST(CASE WHEN num < 0 THEN -1L ELSE 1L END AS BIGINT)") *
            expr("CAST((CAST(num AS DECIMAL(38,0)) * num * 1000000)" +
              " DIV (CAST(dxx AS DECIMAL(38,0)) * dyy) AS BIGINT)"))
            .as("r2s6"))
    }
    leg(1).unionAll(leg(7)).orderBy("event_type", "lag")
  }

  /** q213: RFM segmentation — every customer scored 1-5 on Recency
    * (5 = ordered most recently), Frequency, and Monetary (5 = top
    * quintile), the classic CRM grid that decides who gets which
    * campaign. Quintile BOUNDS come from the exact cumulative-histogram
    * rule over each metric's VALUE histogram (days are calendar-bounded,
    * order counts live in the per-customer count domain, money is
    * bucketed to whole dollars — the q169/q195 value-domain argument per
    * axis), broadcast as one 1-row aggregate; scoring each customer is
    * then a pure map. No corpus-sized window anywhere: the heavy input
    * collapses to one row per customer before anything global runs. */
  def q213RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
      .select(col("o_custkey").as("cust"),
        date_trunc("day", col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100d).cast("long").as("cents"))
    val anchor = orders.agg(max("day").as("max_day"))
    val rfm = orders.crossJoin(broadcast(anchor))
      .groupBy("cust")
      .agg(min(expr("cast(datediff(max_day, day) as bigint)")).as("r_days"),
        count(lit(1)).as("f"), sum("cents").as("m_cents"))
      .withColumn("m_usd", expr("m_cents div 100"))
    // exact quintile bounds of one integral metric's value histogram
    def bounds(metric: String, pfx: String): DataFrame = {
      val cw = Window.orderBy(metric)
      val qs = (1 to 4).map(k =>
        min(when(col("cum") * 5 >= col("n") * k, col(metric)))
          .as(s"$pfx$k"))
      rfm.groupBy(metric).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(cw))
        .withColumn("n", sum("c").over(Window.partitionBy()))
        .agg(qs.head, qs.tail: _*)
    }
    val scored = rfm
      .crossJoin(broadcast(bounds("r_days", "rb")))
      .crossJoin(broadcast(bounds("f", "fb")))
      .crossJoin(broadcast(bounds("m_usd", "mb")))
    def above(metric: String, pfx: String) =
      (1 to 4).map(k => (col(metric) > col(s"$pfx$k")).cast("long"))
        .reduce(_ + _)
    scored.select(col("cust"), col("r_days"), col("f"), col("m_cents"),
        (lit(5L) - above("r_days", "rb")).as("r_score"),
        (lit(1L) + above("f", "fb")).as("f_score"),
        (lit(1L) + above("m_usd", "mb")).as("m_score"))
      .orderBy("cust")
  }

  /** q214: inter-event survival — per event type, the share of
    * same-user inter-arrival gaps still "alive" (longer) than 1, 6, 24,
    * 72 and 168 hours, in exact permille. The engagement-cadence curve:
    * a type whose S(24h) is near zero is a habit, one with fat survival
    * at a week is episodic. Gaps come from one lead window per (user,
    * type) stream (per-key bounded); the curve is five conditional
    * aggregates over fixed thresholds — no quantile state, no
    * corpus-sized window, output is |types|·5 rows at any scale. */
  def q214GapSurvival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("nxt", lead("ts", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type"),
        expr("(unix_seconds(nxt) - unix_seconds(ts)) div 3600")
          .as("gap_hours"))
    val legs = Seq(1L, 6L, 24L, 72L, 168L).map(t =>
      gaps.groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum(when(col("gap_hours") > t, 1L).otherwise(0L)).as("alive"))
        .select(col("event_type"), lit(t).as("t_hours"), col("n_gaps"),
          expr("alive * 1000 div n_gaps").as("surv_permille")))
    legs.reduce(_ unionAll _).orderBy("event_type", "t_hours")
  }

  /** q215: degree assortativity of the co-purchase graph — the Pearson
    * correlation of endpoint degrees over every directed edge, as the
    * signed square r²·sign·10⁶ (q212's log/sqrt-free form). Positive
    * says hubs buy with hubs (rich-club catalog), negative says hubs
    * bridge the long tail — the one-number structure summary that
    * decides whether hub-capped candidate generation (q153) will bite.
    * Degrees are a per-node count off the distinct-edge list, the edge
    * join is two broadcast-friendly equi-joins, and the moment chain is
    * the q111 exact-integer shape in DECIMAL(38,0). Spark's DIV returns
    * BIGINT whatever its operands, so the ratio runs as TWO stages whose
    * quotients each fit a long — q1 = |num|²·10³ div dxx (≤ dyy·10³),
    * r2s6 = sign·(q1·10³ div dyy) (≤ 10⁶ by Cauchy–Schwarz) — with the
    * oracle truncating the same two stages; all DIV operands are
    * non-negative so truncating and flooring engines agree. (Past ~10¹²
    * edges q1's bound outgrows a long; the 100-TB run pre-divides the
    * moments by a power of two first — r is scale-free.) */
  def q215Assortativity(s: SparkSession, dir: String): DataFrame = {
    val und = graft.sources.CoPurchaseGraph.distinctEdges(s, dir)
    val adj = und.unionAll(und.select(col("pb").as("pa"), col("pa").as("pb")))
    val deg = adj.groupBy("pa").agg(count(lit(1)).as("d"))
    val pairs = adj
      .join(deg.select(col("pa"), col("d").as("dx")), Seq("pa"))
      .join(deg.select(col("pa").as("pb"), col("d").as("dy")), Seq("pb"))
    pairs.agg(count(lit(1)).as("n_edges"), sum("dx").as("sx"),
        sum("dy").as("sy"), sum(expr("dx * dy")).as("sxy"),
        sum(expr("dx * dx")).as("sxx"), sum(expr("dy * dy")).as("syy"))
      .select(col("n_edges"),
        expr("CAST(n_edges AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
        expr("CAST(n_edges AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("dxx"),
        expr("CAST(n_edges AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("dyy"))
      .filter(col("dxx") > 0 && col("dyy") > 0)
      .withColumn("q1", expr("(abs(num) * abs(num) * 1000) DIV dxx"))
      .select(col("n_edges"),
        (expr("CAST(CASE WHEN num < 0 THEN -1L ELSE 1L END AS BIGINT)") *
          expr("(CAST(q1 AS DECIMAL(38,0)) * 1000) DIV dyy"))
          .as("r2s6"))
  }

  /** q216: trailing-revenue spike screen — per supplier, the days whose
    * 7-day trailing revenue more than doubles the PRIOR 7-day window
    * (days −13..−7), the restock-alarm momentum signal. This is the
    * library's RANGE-frame surface: both sums are value-range window
    * frames over the integer day axis (`rangeBetween(-6, 0)` /
    * `(-13, -7)`), which — unlike row frames — stay correct when a
    * supplier skips calendar days. Windows run per supplier over the
    * (supplier, day) POST-AGGREGATE calendar grid; output only the spike
    * rows. Cents fixed point; the doubling test is an integer compare. */
  def q216TrailingSpikes(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("supp"),
        date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(floor(col("l_extendedprice") * 100d).cast("long")).as("cents"))
      .withColumn("dayn", datediff(col("day"), lit("1970-01-01").cast("date")))
    val cur = Window.partitionBy("supp").orderBy("dayn").rangeBetween(-6, 0)
    val prev = Window.partitionBy("supp").orderBy("dayn").rangeBetween(-13, -7)
    daily
      .withColumn("trail7", sum("cents").over(cur))
      .withColumn("prev7", coalesce(sum("cents").over(prev), lit(0L)))
      .filter(col("prev7") > 0 && col("trail7") > col("prev7") * 2)
      .select("supp", "day", "cents", "trail7", "prev7")
      .orderBy("supp", "day")
  }

  /** q217: MAD robust outlier screen — per source, the exact lower
    * median of doc length, the exact median absolute deviation around
    * it, and how many docs sit beyond 3·MAD. The robust complement of
    * q175's winsorized mean: MAD shrugs off the very tail that poisons a
    * standard deviation. Both medians come from the q169
    * cumulative-histogram rule — first over the (source, n_chars) value
    * histogram, then over the (source, |n_chars − med|) DEVIATION value
    * histogram (same bounded domain, shifted) — so per-source state
    * never exceeds the length-value domain. Output is one row per
    * source. */
  def q217MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("source", "n_chars")
    def lowerMedian(df: DataFrame, valCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("source").orderBy(valCol)
      df.groupBy("source", valCol).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(w))
        .withColumn("n", sum("c").over(Window.partitionBy("source")))
        .groupBy("source")
        .agg(min(when(col("cum") * 2 >= col("n") + (col("n") % 2),
          col(valCol))).as(out))
    }
    val med = lowerMedian(docs, "n_chars", "med")
    val devs = docs.join(med, "source")
      .withColumn("dev", abs(col("n_chars") - col("med")))
    val mad = lowerMedian(devs.select("source", "dev"), "dev", "mad")
    devs.join(mad, "source")
      .groupBy("source")
      .agg(max("med").as("med"), max("mad").as("mad"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("source")
  }

  /** q218: Theil–Sen robust trend — per event type, the exact median of
    * all pairwise day-count slopes over the daily series, in signed
    * fixed point (slope6 = sign(Δy)·(|Δy|·10⁶ div Δx), magnitude-only
    * division so both engines truncate identically). The robust "is this
    * event growing" number a single outlier day cannot drag. Pair
    * generation is a per-type equi-join over the POST-AGGREGATE calendar
    * grid (calendar²-bounded, never events), and the median runs over
    * the per-type slope VALUE histogram. */
  def q218TheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("dayn",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      .select("event_type", "dayn", "x")
    val a = daily.select(col("event_type"), col("dayn").as("d1"), col("x").as("x1"))
    val b = daily.select(col("event_type"), col("dayn").as("d2"), col("x").as("x2"))
    val slopes = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .select(col("event_type"),
        (expr("CAST(CASE WHEN x2 < x1 THEN -1L ELSE 1L END AS BIGINT)") *
          expr("(abs(x2 - x1) * 1000000) div (d2 - d1)")).as("slope6"))
    val w = Window.partitionBy("event_type").orderBy("slope6")
    slopes.groupBy("event_type", "slope6").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("n").as("n_pairs"),
        min(when(col("cum") * 2 >= col("n") + (col("n") % 2),
          col("slope6"))).as("ts_slope6"))
      .orderBy("event_type")
  }

  /** q220: t-closeness audit — the third rung of the privacy ladder
    * (q192 k-anonymity, q207 l-diversity): per (nation, segment)
    * quasi-identifier group, the earth-mover's distance between the
    * group's sensitive balance-kilobucket distribution and the GLOBAL
    * one, over the ordered bucket axis. For 1-D ordered values EMD is
    * exactly the sum of |cumulative gaps|: emd6 = Σ_v |cum_g(v)·n −
    * cum_glob(v)·n_g| ·10⁶ / (n_g·n·|buckets−1|)… kept un-normalized by
    * bucket span here: emd6 = Σ|cum_g·n − cum_glob·n_g|·10⁶ div
    * (n_g·n·span) with span = buckets−1, the standard [0,1] t range. A
    * large group passing k and l still fails t when its balance mix
    * skews from the population. All state rides the (group, bucket) and
    * (bucket) VALUE histograms — the q210 KS machinery with sum instead
    * of max. */
  def q220TCloseness(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0d).cast("long").as("kb"))
    val spine = cust.select("kb").distinct()
    val groups = cust.select("nation", "segment").distinct()
    val ghist = cust.groupBy("nation", "segment", "kb")
      .agg(count(lit(1)).as("c"))
    val grid = spine.crossJoin(broadcast(groups))
      .join(ghist, Seq("nation", "segment", "kb"), "left")
      .na.fill(0L, Seq("c"))
    val gw = Window.partitionBy("nation", "segment").orderBy("kb")
    val gcum = grid
      .withColumn("cum_g", sum("c").over(gw))
      .withColumn("n_g", sum("c").over(Window.partitionBy("nation", "segment")))
    val glob = cust.groupBy("kb").agg(count(lit(1)).as("gc"))
      .withColumn("cum", sum("gc").over(Window.orderBy("kb")))
      .withColumn("n", sum("gc").over(Window.partitionBy()))
      .withColumn("span",
        greatest(lit(1L), count(lit(1)).over(Window.partitionBy()) - 1))
      .select("kb", "cum", "n", "span")
    gcum.join(glob, "kb")
      .groupBy("nation", "segment")
      .agg(max("n_g").as("k"),
        expr("CAST((CAST(sum(abs(cum_g * n - cum * n_g)) AS DECIMAL(38,0))" +
          " * 1000000) DIV (CAST(max(n_g) AS DECIMAL(38,0)) * max(n)" +
          " * max(span)) AS BIGINT)").as("emd6"))
      .orderBy("nation", "segment")
  }

  /** q221: rolling-median residual screen — STL-lite seasonal cleanup of
    * the daily event series: each day's count against the exact lower
    * median of its ±3-day neighborhood, flagging days ±25% off the
    * local level (integer cross-compares, q176's rule
    * against a LOCAL baseline instead of the hour-of-week slot). The
    * neighborhood materializes by EXPLODING each center day into its
    * seven (type, neighbor-day) probes and equi-joining back to the
    * calendar grid — 7n rows, not the n² a per-type range self-join
    * would carry — and the ≤7-point median is the cumulative-histogram
    * rule per (type, day) group. */
  def q221RollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("dayn",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val nb = daily.select(col("event_type"), col("dayn").as("cn"),
        col("day").as("cday"), col("x").as("cx"),
        explode(sequence(col("dayn") - 3, col("dayn") + 3)).as("nn"))
      .join(daily.select(col("event_type"), col("dayn").as("nn"),
        col("x").as("nx")), Seq("event_type", "nn"))
    val med = nb.groupBy("event_type", "cn", "cday", "cx", "nx")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(
        Window.partitionBy("event_type", "cn").orderBy("nx")))
      .withColumn("n", sum("c").over(
        Window.partitionBy("event_type", "cn")))
      .groupBy("event_type", "cn", "cday", "cx")
      .agg(min(when(col("cum") * 2 >= col("n") + (col("n") % 2),
        col("nx"))).as("local_med"))
    med.filter(col("cx") * 4 >= col("local_med") * 5 ||
        col("cx") * 5 <= col("local_med") * 4)
      .select(col("event_type"), col("cday").as("day"), col("cx").as("x"),
        col("local_med"))
      .orderBy("event_type", "day")
  }

  /** q222: demand-intermittency classification — every part sorted into
    * the classic supply-chain quadrant (smooth / erratic / intermittent
    * / lumpy) by ADI (average inter-demand interval: span-days over
    * demand-days) and CV² (squared coefficient of variation of daily
    * demand sizes), in exact thousandths against the standard 1.32 /
    * 0.49 cutoffs — integer compares on adi3 ≥ 1320 and cv2_3 ≥ 490.
    * One per-part aggregate over the (part, day) demand grid; output is
    * a four-row class census plus the per-class demand share. */
  def q222Intermittency(s: SparkSession, dir: String): DataFrame = {
    val dd = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("part"),
        date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("q"))
      .withColumn("dayn",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val per = dd.groupBy("part")
      .agg(count(lit(1)).as("nd"), min("dayn").as("d0"), max("dayn").as("d1"),
        sum("q").as("sq"), sum(expr("q * q")).as("sqq"))
      // adi3 = 1000·span/demand-days; cv2_3 = 1000·(n·Σq² − (Σq)²)/(Σq)²
      .withColumn("adi3", expr("(d1 - d0 + 1) * 1000 div nd"))
      .withColumn("cv2_3",
        expr("(nd * sqq - sq * sq) * 1000 div (sq * sq)"))
      .withColumn("klass",
        when(col("adi3") < 1320 && col("cv2_3") < 490, "smooth")
          .when(col("adi3") < 1320, "erratic")
          .when(col("cv2_3") < 490, "intermittent")
          .otherwise("lumpy"))
    per.groupBy("klass")
      .agg(count(lit(1)).as("n_parts"), sum("sq").as("units"))
      .orderBy("klass")
  }

  /** q223: cohort LTV triangle — users grouped by first-event week, each
    * cohort's cumulative purchase value tracked per week-index since
    * birth, in exact cents plus per-user cents (the retention-revenue
    * triangle every growth dashboard draws). First-touch is a per-user
    * min-aggregate, the triangle is a (cohort, week-index) aggregate —
    * weeks² cells at any corpus size — and the running LTV is a window
    * over that POST-AGGREGATE grid. Purchase value rides floor(·100)
    * cents so both engines sum identical integers. */
  def q223CohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("datediff(date_trunc('day', ts), DATE '1970-01-01')")
          .cast("long").as("dayn"),
        col("event_type"),
        floor(col("value") * 100d).cast("long").as("cents"))
    val birth = ev.groupBy("user_id")
      .agg(expr("min(dayn) div 7").as("cohort_week"))
    val cohortSize = birth.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    val cells = ev.join(birth, "user_id")
      .filter(col("event_type") === "purchase")
      .withColumn("widx", expr("dayn div 7") - col("cohort_week"))
      .groupBy("cohort_week", "widx")
      .agg(sum("cents").as("rev_cents"))
    val w = Window.partitionBy("cohort_week").orderBy("widx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_cents", sum("rev_cents").over(w))
      .join(cohortSize, "cohort_week")
      .select(col("cohort_week"), col("widx"), col("cohort_users"),
        col("cum_cents"),
        expr("cum_cents div cohort_users").as("ltv_cents_per_user"))
      .orderBy("cohort_week", "widx")
  }

  /** q224: readability scoring — a Flesch-reading-ease integer proxy per
    * source: words from whitespace runs, sentences from terminal
    * punctuation, syllables from vowel GROUPS (the classic
    * heuristic), and fre_m = 206835 − 1015·words div sentences −
    * 84600·syllables div words, averaged per source with a "hard doc"
    * tally (fre_m < 30000). Everything is counting + integer division
    * over per-doc strings — embarrassingly parallel, no shuffle beyond
    * the per-source aggregate. Both engines count the SAME regex
    * replacements, so the proxy is bit-identical. */
  def q224Readability(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(col("source"),
        greatest(lit(1),
          size(split(trim(col("text")), "\\s+"))).cast("long").as("words"),
        greatest(lit(1L),
          (length(col("text")) -
            length(translate(col("text"), ".!?", ""))).cast("long"))
          .as("sentences"),
        // vowel-group count by pure length arithmetic (collision-free):
        // replace groups with one char vs with nothing — the difference
        // is exactly the number of groups
        greatest(lit(1L),
          (length(regexp_replace(lower(col("text")), "[aeiouy]+", "#")) -
            length(regexp_replace(lower(col("text")), "[aeiouy]+", "")))
            .cast("long")).as("syll"))
      .withColumn("fre_m",
        lit(206835L) - expr("1015L * words div sentences") -
          expr("84600L * syll div words"))
    // fre_m goes NEGATIVE for terse docs (1015·words/sentences can exceed
    // 206835), so the average divides the MAGNITUDE and multiplies the
    // sign back (the q212 rule: Spark div truncates, DuckDB // floors,
    // and they only agree on non-negative operands)
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("fre_m").as("sum_fre"),
        sum(when(col("fre_m") < 30000, 1L).otherwise(0L)).as("hard_docs"))
      .select(col("source"), col("n_docs"),
        (expr("CAST(CASE WHEN sum_fre < 0 THEN -1L ELSE 1L END AS BIGINT)") *
          expr("abs(sum_fre) div n_docs")).as("avg_fre_m"),
        col("hard_docs"))
      .orderBy("source")
  }

  /** q225: distribution shape stats — exact skewness and kurtosis of doc
    * length per source from raw integer power sums (Σx..Σx⁴). Skewness
    * is the signed square (q212's trick): skew2s6 = sign(M3)·M3²·10⁶ /
    * M2³ computed in TWO positive-operand DIV stages whose quotients
    * each fit a long (the q215 lesson); kurtosis·10³ = n·M4·10³ div M2²
    * is a single DIV (M4 ≥ 0). Central moments expand into DECIMAL(38,0)
    * products of the power sums — one aggregate pass, |sources| output
    * rows, no window at all. */
  def q225ShapeStats(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(expr("x * x")).as("s2"),
        sum(expr("x * x * x")).as("s3"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).as("s4"))
    m.select(col("source"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1").as("m2"),
        expr("CAST(n AS DECIMAL(38,0)) * n * s3" +
          " - 3 * CAST(n AS DECIMAL(38,0)) * s1 * s2" +
          " + 2 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1").as("m3"),
        expr("CAST(n AS DECIMAL(38,0)) * n * n * s4" +
          " - 4 * CAST(n AS DECIMAL(38,0)) * n * s1 * s3" +
          " + 6 * CAST(n AS DECIMAL(38,0)) * s1 * s1 * s2" +
          " - 3 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1 * s1").as("m4"))
      .filter(col("m2") > 0)
      .withColumn("q1", expr("(abs(m3) * 1000) DIV m2"))
      .select(col("source"), col("n"),
        (expr("CAST(CASE WHEN m3 < 0 THEN -1L ELSE 1L END AS BIGINT)") *
          expr("(CAST(q1 AS DECIMAL(38,0)) * abs(m3) * 1000) DIV (m2 * m2)"))
          .as("skew2s6"),
        expr("(CAST(n AS DECIMAL(38,0)) * m4 * 1000) DIV (m2 * m2)")
          .as("kurt3"))
      .orderBy("source")
  }

  /** q226: shipping-SLA compliance — per order priority, the permille of
    * line items shipped within 7 / 14 / 30 days of order placement, plus
    * the worst observed lag. One broadcast-friendly fact⋈dim join
    * (lineitem to its order header), integer day lags, conditional
    * aggregates — the operational KPI row every fulfillment dashboard
    * leads with. |priorities| output rows at any scale. */
  def q226SlaCompliance(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"),
        date_trunc("day", col("l_shipdate")).as("ship"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("ok"), col("o_orderpriority").as("prio"),
        date_trunc("day", col("o_orderdate")).as("placed"))
    li.join(ord, "ok")
      .withColumn("lag", datediff(col("ship"), col("placed")).cast("long"))
      .groupBy("prio")
      .agg(count(lit(1)).as("n_lines"),
        expr("sum(CASE WHEN lag <= 7 THEN 1L ELSE 0L END) * 1000 div count(*)")
          .as("in7_permille"),
        expr("sum(CASE WHEN lag <= 14 THEN 1L ELSE 0L END) * 1000 div count(*)")
          .as("in14_permille"),
        expr("sum(CASE WHEN lag <= 30 THEN 1L ELSE 0L END) * 1000 div count(*)")
          .as("in30_permille"),
        max("lag").as("worst_lag"))
      .orderBy("prio")
  }

  /** q227: replayed-payment screen — pairs of PURCHASE events by the
    * SAME user for the SAME whole-unit amount within 24 hours: the
    * double-charge / replay audit. The pair join is an equi-join on the
    * (user, amount) key — candidates are bounded per key by how often
    * one user repeats one amount, never all-pairs — with the
    * time-window filter applied inside the join. Ordered (earlier,
    * later) by event id so each suspect pair reports once. */
  def q227DupPayments(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"),
        floor(col("value")).cast("long").as("amount"),
        col("event_id"),
        unix_seconds(col("ts")).as("sec"))
    val a = e.select(col("u"), col("amount"), col("event_id").as("id_a"),
      col("sec").as("s_a"))
    val b = e.select(col("u"), col("amount"), col("event_id").as("id_b"),
      col("sec").as("s_b"))
    a.join(b, Seq("u", "amount"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("s_a") - col("s_b")) <= 86400)
      .select(col("u"), col("amount"), col("id_a"), col("id_b"),
        abs(col("s_a") - col("s_b")).as("secs_apart"))
      .orderBy("u", "id_a", "id_b")
  }

  /** q228: market-concentration HHI — per nation, the Herfindahl index
    * of supplier revenue shares in basis points: hhi = Σ_s (rev_s·10⁴ /
    * rev_nation)² summed exactly as Σrev²·10⁸ div (Σrev)², plus the
    * equivalent-competitor count 10⁸ div hhi. The "is this market one
    * big supplier or many small ones" number, and the revenue-weighted
    * sibling of the inverse-Simpson counts used in q190/q205. Per-
    * supplier revenue is one aggregate; the nation rollup squares and
    * sums it — DECIMAL(38,0) keeps rev² exact past 10¹⁸ cents. */
  def q228NationHhi(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("supp"))
      .agg(sum(floor(col("l_extendedprice") * 100d).cast("long")).as("rev"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("supp"),
        col("s_nationkey").cast("long").as("nation"))
    rev.join(sup, "supp")
      .groupBy("nation")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("rev").as("rev_total"),
        sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("rev_sq"))
      .select(col("nation"), col("n_suppliers"), col("rev_total"),
        expr("CAST((rev_sq * 100000000)" +
          " DIV (CAST(rev_total AS DECIMAL(38,0)) * rev_total) AS BIGINT)")
          .as("hhi_bp"))
      .withColumn("eff_suppliers_x100",
        expr("10000000000L div greatest(1L, hhi_bp)"))
      .orderBy("nation")
  }

  /** q229: day-over-day audience overlap — for every consecutive day
    * pair, the exact Jaccard permille of active-user sets plus the
    * retained / churned / new counts: the churn-velocity series. The
    * intersection comes from one self-equi-join of the distinct
    * (day, user) stream on user with next-day alignment (per-user
    * bounded), set sizes from the daily aggregate — no corpus-sized
    * state beyond the distinct pass. */
  def q229DayOverlap(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(expr("datediff(date_trunc('day', ts), DATE '1970-01-01')")
        .cast("long").as("dayn"), col("user_id"))
      .distinct()
    val sizes = du.groupBy("dayn").agg(count(lit(1)).as("n"))
    val inter = du.select(col("dayn"), col("user_id"))
      .join(du.select((col("dayn") - 1).as("dayn"), col("user_id")),
        Seq("dayn", "user_id"))
      .groupBy("dayn").agg(count(lit(1)).as("n_both"))
    sizes.select(col("dayn"), col("n").as("n_today"))
      .join(sizes.select((col("dayn") - 1).as("dayn"), col("n").as("n_next")),
        Seq("dayn"))
      .join(inter, Seq("dayn"), "left").na.fill(0L, Seq("n_both"))
      .select(col("dayn"), col("n_today"), col("n_next"), col("n_both"),
        expr("n_both * 1000 div (n_today + n_next - n_both)").as("jac_permille"),
        (col("n_today") - col("n_both")).as("churned"),
        (col("n_next") - col("n_both")).as("new_users"))
      .orderBy("dayn")
  }

  /** q230: hapax legomena rate — per source, how much of its vocabulary
    * is corpus-unique (global count = 1): the lexical-novelty screen
    * that separates a source coining fresh phrasing from one recycling
    * the common pool (the pointwise sibling of q180's Heaps curve and
    * q168's marginal novelty). Whitespace tokens (the q88 convention),
    * one vocab-bounded global count, one per-(source, token) distinct,
    * one join — every aggregate's state is the vocabulary, not the
    * corpus. */
  def q230HapaxRate(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("gc"))
    val perSource = toks.select("source", "tok").distinct()
    perSource.join(vocab, "tok")
      .groupBy("source")
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("gc") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_distinct"), col("n_hapax"),
        expr("n_hapax * 1000 div n_distinct").as("hapax_permille"))
      .orderBy("source")
  }

  /** q231: event-type affinity matrix — for every unordered event-type
    * pair, the lift of co-occurring within the same (user, hour)
    * activity cell: lift3 = co·N·10³ / (c_a·c_b) over cell counts, >1000
    * means the two actions travel together. The market-basket shape
    * (q162) pointed at behavioral telemetry: cells shrink to distinct
    * type sets (≤ |types|), pairs explode from the per-cell set — output
    * is |types|² rows however large the stream. */
  def q231TypeAffinity(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(col("user_id"),
        date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .distinct()
    val sets = cells.groupBy("user_id", "hr")
      .agg(collect_set(col("event_type")).as("ts_"))
    val nCells = sets.select(count(lit(1)).as("n_cells"))
    val singles = cells.groupBy("event_type").agg(count(lit(1)).as("c"))
    val pairs = sets
      .select(explode(col("ts_")).as("ta"), col("ts_"))
      .select(col("ta"), explode(col("ts_")).as("tb"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("co"))
    pairs
      .join(singles.select(col("event_type").as("ta"), col("c").as("ca")),
        Seq("ta"))
      .join(singles.select(col("event_type").as("tb"), col("c").as("cb")),
        Seq("tb"))
      .crossJoin(broadcast(nCells))
      .select(col("ta"), col("tb"), col("co"),
        expr("co * n_cells * 1000 div (ca * cb)").as("lift3"))
      .orderBy("ta", "tb")
  }

  /** q232: equi-depth column profiler — decile boundaries + cumulative
    * counts for three lineitem measures (quantity, price cents, discount
    * permille), the numeric-profile sheet a catalog tool prints per
    * column. Each leg is the exact cumulative-histogram rule over that
    * column's VALUE histogram (quantity and discount live on tiny grids;
    * price cents on the |price grid|·|quantities| lattice — post-
    * aggregate and domain-bounded at any row count), unioned into one
    * (column, decile, boundary, cum) sheet. */
  def q232ColumnProfile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def leg(colName: String, v: org.apache.spark.sql.Column): DataFrame = {
      val h = li.select(v.cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(Window.orderBy("v")))
        .withColumn("n", sum("c").over(Window.partitionBy()))
      h.crossJoin(broadcast(
          s.range(1, 11).select(col("id").as("decile"))))
        .filter(col("cum") * 10 >= col("n") * col("decile"))
        .groupBy("decile")
        .agg(min("v").as("boundary"))
        .select(lit(colName).as("column"), col("decile"), col("boundary"))
    }
    leg("quantity", floor(col("l_quantity")))
      .unionAll(leg("price_cents", floor(col("l_extendedprice") * 100d)))
      .unionAll(leg("discount_permille", floor(col("l_discount") * 1000d)))
      .orderBy("column", "decile")
  }

  /** q233: double-sweep diameter bound — the classic two-BFS lower bound
    * on graph diameter: sweep 1 from the max-degree hub finds the
    * farthest node, sweep 2 from THAT node measures its eccentricity,
    * which lower-bounds the diameter (and on real small-world graphs is
    * usually tight). Two [[graft.operators.Bfs]] runs (each a bounded
    * number of keyed shuffles), two 1-row TakeOrdered collects for the
    * seed picks (deterministic tiebreak: degree DESC then node; then
    * dist DESC then node). Sweeps are hop-capped at 3 — past the layer
    * where the frontier empties on this graph — so the unrolled oracle
    * replays the exact same rounds, empty frontiers included. */
  def q233DiameterSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the seed pick, both sweeps and the final collect are separate
    // actions — each re-reads the SHARED written edge table (|pairs|-row
    // parquet scan), never the corpus-scale basket-pair derivation the
    // pre-table version had to checkpoint against
    val und = graft.sources.CoPurchaseGraph.distinctEdges(s, dir)
    // ONE severed, src-keyed adjacency shared by the seed-degree pick
    // and BOTH sweeps (r18 — each hopDistances call was re-deriving and
    // re-materializing the 2·|E| adjacency; the degree aggregate also
    // reads the cut in place now)
    val adj = graft.operators.Graph.adjacency(
      graft.operators.Graph.undirected(und, "pa", "pb").distinct())
    val seed1 = adj.groupBy("src").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(1)
      .select(col("src")).as[Long].head()
    val bfs1 = graft.operators.Bfs.hopDistancesOver(adj,
      Seq(seed1).toDF("node"), "node", maxHops = 3)
    val (seed2, ecc1) = bfs1.orderBy(col("dist").desc, col("node"))
      .limit(1).as[(Long, Long)].head()
    val bfs2 = graft.operators.Bfs.hopDistancesOver(adj,
      Seq(seed2).toDF("node"), "node", maxHops = 3)
    val ecc2 = bfs2.agg(max("dist")).as[Long].head()
    Seq((seed1, ecc1, seed2, ecc2, math.max(ecc1, ecc2)))
      .toDF("hub", "ecc_hub", "far_node", "ecc_far", "diameter_lb")
  }

  /** q234: attribution-window sensitivity — the share of purchases that
    * attribute to a PRECEDING view at horizons of 1/6/24/72 hours, in
    * one pass: the tuning curve behind choosing q143's stream-join
    * horizon. Each purchase learns its latest prior view via ONE
    * per-user running-max window over the merged event stream (the
    * purchase row's own CASE is NULL, so including the current row is
    * safe), then the sweep is four conditional aggregates over fixed
    * thresholds — q214's shape pointed at attribution. */
  def q234AttribWindows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_seconds(col("ts")).as("sec"))
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("sec"))).over(w))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(expr("(sec - last_view) div 3600").as("gap_hours"))
    val legs = Seq(1L, 6L, 24L, 72L).map(t =>
      purch.agg(count(lit(1)).as("n_purchases"),
          sum(when(col("gap_hours").isNotNull && col("gap_hours") < t, 1L)
            .otherwise(0L)).as("attributed"))
        .select(lit(t).as("t_hours"), col("n_purchases"), col("attributed"),
          expr("attributed * 1000 div n_purchases").as("attr_permille")))
    legs.reduce(_ unionAll _).orderBy("t_hours")
  }

  /** q235: week-over-week same-weekday growth — each day's event count
    * against the count exactly seven days earlier (the seasonality-free
    * growth compare), as an exact permille plus a ±20% mover flag. One
    * equi-join of the (type, day) calendar grid to itself shifted by
    * seven — no window at all, calendar-bounded state. */
  def q235WowGrowth(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("datediff(date_trunc('day', ts), DATE '1970-01-01')")
          .cast("long").as("dayn"))
      .agg(count(lit(1)).as("cnt"))
    daily
      .join(daily.select(col("event_type"), (col("dayn") + 7).as("dayn"),
        col("cnt").as("prev")), Seq("event_type", "dayn"))
      .select(col("event_type"), col("dayn"), col("cnt"), col("prev"),
        expr("cnt * 1000 div prev").as("wow_permille"),
        (col("cnt") * 5 >= col("prev") * 6 ||
          col("cnt") * 6 <= col("prev") * 5).as("mover"))
      .orderBy("event_type", "dayn")
  }

  /** q236: three-step funnel — view → click → purchase with strict
    * temporal ordering per user: a click only counts after the user's
    * first view, a purchase only after that click. Per-user state is
    * three conditional min-aggregates (two passes because each step's
    * floor depends on the previous step's time); the funnel sheet is
    * one global aggregate row with stepwise conversion permilles. */
  def q236ThreeStepFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_seconds(col("ts")).as("sec"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("sec").as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("sec") >= col("t_view"))
      .groupBy("user_id").agg(min("sec").as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("sec") >= col("t_click"))
      .groupBy("user_id").agg(min("sec").as("t_purchase"))
    val funnel = v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
    funnel.agg(count(lit(1)).as("viewed"),
        sum(when(col("t_click").isNotNull, 1L).otherwise(0L)).as("clicked"),
        sum(when(col("t_purchase").isNotNull, 1L).otherwise(0L))
          .as("purchased"))
      .select(col("viewed"), col("clicked"), col("purchased"),
        expr("clicked * 1000 div viewed").as("click_permille"),
        expr("CASE WHEN clicked > 0" +
          " THEN purchased * 1000 div clicked ELSE 0L END")
          .as("purchase_permille"))
  }

  /** q237: customer segment-migration matrix — spend terciles in the
    * first half of the order history vs the second, with 'absent' rows
    * for customers active in only one half: the "are my best customers
    * staying" transition matrix. The split date is the day midpoint of
    * the order span (one broadcast 1-row aggregate), tercile bounds come
    * from each half's spend VALUE histogram in whole dollars (the q213
    * machinery at k=3), and the matrix is a full-outer join of two
    * per-customer aggregates — ≤ 4×4 output rows at any scale. */
  def q237SegmentMigration(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey").as("cust"),
        expr("datediff(date_trunc('day', o_orderdate), DATE '1970-01-01')")
          .cast("long").as("dayn"),
        floor(col("o_totalprice") * 100d).cast("long").as("cents"))
    val mid = o.agg(expr("(min(dayn) + max(dayn)) div 2").as("mid"))
    val halves = o.crossJoin(broadcast(mid))
      .withColumn("half", when(col("dayn") <= col("mid"), 1L).otherwise(2L))
      .groupBy("cust", "half")
      .agg(expr("sum(cents) div 100").as("usd"))
    def tiers(half: Long): DataFrame = {
      val h = halves.filter(col("half") === half)
      val cw = Window.orderBy("usd")
      val bounds = h.groupBy("usd").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(cw))
        .withColumn("n", sum("c").over(Window.partitionBy()))
        .agg(min(when(col("cum") * 3 >= col("n"), col("usd"))).as("b1"),
          min(when(col("cum") * 3 >= col("n") * 2, col("usd"))).as("b2"))
      h.crossJoin(broadcast(bounds))
        .select(col("cust"),
          (lit(1L) + (col("usd") > col("b1")).cast("long") +
            (col("usd") > col("b2")).cast("long")).as(s"tier_h$half"))
    }
    tiers(1).join(tiers(2), Seq("cust"), "full_outer")
      .na.fill(0L, Seq("tier_h1", "tier_h2")) // 0 = absent that half
      .groupBy("tier_h1", "tier_h2")
      .agg(count(lit(1)).as("customers"))
      .orderBy("tier_h1", "tier_h2")
  }

  /** q238: unit-price integrity screen — per part, how many DISTINCT
    * unit prices (cents, floor(extendedprice·100/quantity) — the same
    * two IEEE ops on both engines) the fact table carries, and the
    * spread of max over min in permille. A part whose unit price
    * wobbles is a data-quality or repricing signal. One per-part
    * aggregate; output only parts with a real spread, spread-first. */
  def q238PriceIntegrity(s: SparkSession, dir: String): DataFrame = {
    val up = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("part"),
        floor(col("l_extendedprice") * 100d / col("l_quantity"))
          .cast("long").as("unit_cents"))
    up.groupBy("part")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct("unit_cents").as("n_prices"),
        min("unit_cents").as("min_cents"), max("unit_cents").as("max_cents"))
      .filter(col("n_prices") > 1)
      .select(col("part"), col("n_lines"), col("n_prices"),
        col("min_cents"), col("max_cents"),
        expr("(max_cents - min_cents) * 1000 div min_cents")
          .as("spread_permille"))
      .orderBy(col("spread_permille").desc, col("part"))
      .limit(50)
  }

  /** q239: cross-type correlation matrix — for every event-type pair,
    * the signed-square Pearson (q212's form) of their DAILY count
    * series: which behaviors move together day to day. One calendar-grid
    * pivot-free equi-join per pair via self-join on day, the exact
    * integer moment chain, magnitude-only DIV — |types|² output rows,
    * state bounded by the calendar. */
  def q239TypeCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("datediff(date_trunc('day', ts), DATE '1970-01-01')")
          .cast("long").as("dayn"))
      .agg(count(lit(1)).as("x"))
    val joined = daily.select(col("event_type").as("ta"), col("dayn"),
        col("x").as("xa"))
      .join(daily.select(col("event_type").as("tb"), col("dayn"),
        col("x").as("xb")), Seq("dayn"))
      .filter(col("ta") < col("tb"))
    // moment sums/differences in DECIMAL(38,0) to track the oracle's
    // HUGEINT exactly at large daily counts (see q212's comment); the
    // stated residual bound is num²·10⁶ ≤ 10³⁸
    joined.groupBy("ta", "tb")
      .agg(count(lit(1)).as("n"), sum("xa").as("sx"), sum("xb").as("sy"),
        sum(expr("CAST(xa AS DECIMAL(38,0)) * xb")).as("sxy"),
        sum(expr("CAST(xa AS DECIMAL(38,0)) * xa")).as("sxx"),
        sum(expr("CAST(xb AS DECIMAL(38,0)) * xb")).as("syy"))
      .select(col("ta"), col("tb"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy" +
          " - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx" +
          " - CAST(sx AS DECIMAL(38,0)) * sx").as("dxx"),
        expr("CAST(n AS DECIMAL(38,0)) * syy" +
          " - CAST(sy AS DECIMAL(38,0)) * sy").as("dyy"))
      .filter(col("dxx") > 0 && col("dyy") > 0)
      .select(col("ta"), col("tb"), col("n"),
        (expr("CAST(CASE WHEN num < 0 THEN -1L ELSE 1L END AS BIGINT)") *
          expr("CAST((CAST(num AS DECIMAL(38,0)) * num * 1000000)" +
            " DIV (CAST(dxx AS DECIMAL(38,0)) * dyy) AS BIGINT)"))
          .as("r2s6"))
      .orderBy("ta", "tb")
  }

  /** q240: phrase-fingerprint overlap — each source reduced to its
    * top-50 word trigrams (count DESC, shingle ASC tiebreak), then every
    * source pair scored by fingerprint intersection in permille of 50:
    * the cheap stylistic-kinship matrix (two crawls of the same site
    * light up even when their length distributions differ). Trigram
    * counts are a vocab-bounded aggregate, the rank window runs over the
    * per-source (shingle, count) POST-AGGREGATE vocabulary, and the pair
    * join fans over the 50·|sources| fingerprint rows only. */
  def q240FingerprintOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        split(lower(col("text")), " ").as("ws"))
      .select(col("source"), col("doc_id"),
        expr("filter(ws, t -> length(t) > 0)").as("ws"))
      .filter(size(col("ws")) >= 3)
    val tris = toks.select(col("source"),
        explode(expr(
          "transform(sequence(0, size(ws) - 3)," +
            " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("tri"))
      .groupBy("source", "tri").agg(count(lit(1)).as("cnt"))
    val rw = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("tri"))
    val top = tris.withColumn("rn", row_number().over(rw))
      .filter(col("rn") <= 50)
      .select("source", "tri")
    top.select(col("source").as("src_a"), col("tri"))
      .join(top.select(col("source").as("src_b"), col("tri")), Seq("tri"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
      .select(col("src_a"), col("src_b"), col("shared"),
        expr("shared * 1000 div 50").as("overlap_permille"))
      .orderBy("src_a", "src_b")
  }

  /** q241: revenue-weighted median shipping lag — per order priority,
    * the smallest lag (days, order to ship) at which HALF THE REVENUE
    * has shipped: the money-centric SLA number (a thousand cheap late
    * lines matter less than one late big-ticket line). The q169
    * cumulative-histogram median rule with CENTS as the weight instead
    * of row counts — state is the (priority, lag) value histogram. */
  def q241WeightedLag(s: SparkSession, dir: String): DataFrame = {
    val lag = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"),
        date_trunc("day", col("l_shipdate")).as("ship"),
        floor(col("l_extendedprice") * 100d).cast("long").as("cents"))
      .join(Tables.orders(s, dir).select(col("o_orderkey").as("ok"),
        col("o_orderpriority").as("prio"),
        date_trunc("day", col("o_orderdate")).as("placed")), Seq("ok"))
      .select(col("prio"),
        datediff(col("ship"), col("placed")).cast("long").as("lag"),
        col("cents"))
    val hist = lag.groupBy("prio", "lag").agg(sum("cents").as("w"))
    val cw = Window.partitionBy("prio").orderBy("lag")
    hist.withColumn("cumw", sum("w").over(cw))
      .withColumn("totw", sum("w").over(Window.partitionBy("prio")))
      .groupBy("prio")
      .agg(max("totw").as("total_cents"),
        min(when(col("cumw") * 2 >= col("totw"), col("lag")))
          .as("wmedian_lag"))
      .orderBy("prio")
  }

  /** q242: Good–Turing missing mass — per source, the probability mass
    * its next token is one NEVER seen from that source, estimated by the
    * Good–Turing rule P(unseen) ≈ singletons/tokens in exact permille:
    * the "how much of this source's vocabulary have we actually covered"
    * number that prices how much more crawling a source is worth
    * (q230's hapax share answers composition; this answers coverage).
    * Singleton counts here are PER-SOURCE (frequency-1 within the
    * source's own stream) — one vocab-bounded aggregate pass. */
  def q242MissingMass(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("singletons"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("singletons"),
        expr("singletons * 1000 div n_tokens").as("unseen_permille"))
      .orderBy("source")
  }

  /** q243: burstiness (Fano factor) of the daily event series — per
    * type, dispersion/mean of daily counts in exact thousandths:
    * fano3 = (n·Σx² − (Σx)²)·10³ div (n·Σx), where 1000 is Poisson,
    * above is bursty (campaign-driven), below is metronomic (scripted) —
    * the dispersion complement of q212's serial correlation. One
    * calendar-bounded moment aggregate, all operands positive so
    * truncating and flooring engines agree. */
  def q243Burstiness(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("datediff(date_trunc('day', ts), DATE '1970-01-01')")
          .cast("long").as("dayn"))
      .agg(count(lit(1)).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
        sum(expr("x * x")).as("sxx"))
      .filter(col("sx") > 0)
      .select(col("event_type"), col("n_days"), col("sx").as("n_events"),
        expr("(n_days * sxx - sx * sx) * 1000 div (n_days * sx)")
          .as("fano3"))
      .orderBy("event_type")
  }

  /** q244: coverage-gap report — per event type, the hours of the
    * stream's span with NO events, compressed into outage islands by the
    * classic gaps-and-islands rule (island id = hour − row_number over
    * the ordered empty hours): how many dark hours, how many distinct
    * outages, and the longest one. The telemetry-completeness audit
    * (q117 forward-FILLS gaps; this one REPORTS them). The hour spine is
    * one broadcast 1-row bounds aggregate exploded per type
    * (calendar-bounded), the anti-join is keyed, and the island windows
    * run over empty hours only — a calendar-bounded set. */
  def q244CoverageGaps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        expr("(unix_seconds(ts) div 3600)").as("hourn"))
    val bounds = ev.agg(min("hourn").as("lo"), max("hourn").as("hi"))
    val types = ev.select("event_type").distinct()
    val spine = types.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("hourn"))
    val obs = ev.distinct()
    val empty = spine.join(obs, Seq("event_type", "hourn"), "left_anti")
    val iw = Window.partitionBy("event_type").orderBy("hourn")
    val islands = empty
      .withColumn("grp", col("hourn") - row_number().over(iw))
      .groupBy("event_type", "grp")
      .agg(count(lit(1)).as("len"))
    islands.groupBy("event_type")
      .agg(sum("len").as("n_empty_hours"),
        count(lit(1)).as("n_outages"),
        max("len").as("longest_hours"))
      .orderBy("event_type")
  }

  /** Unrolled (min, +) relaxation oracle — the widest-path oracle's
    * semiring swap: seeds at 0, round r takes min(previous, neighbor +
    * edge cost). Monotone integers, engine-at-R equals oracle-at-R. */
  private def cheapestOracleSql(brand: String, rounds: Int): String = {
    val sb = new StringBuilder(
      s"""WITH op AS MATERIALIZED (
         |  SELECT DISTINCT x.l_orderkey AS ok,
         |                  least(x.l_partkey, y.l_partkey) AS a,
         |                  greatest(x.l_partkey, y.l_partkey) AS b
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
         |und AS MATERIALIZED (
         |  SELECT a, b,
         |    greatest(CAST(1 AS BIGINT), 10000 // CAST(count(*) AS BIGINT))
         |      AS w
         |  FROM op GROUP BY a, b),
         |adj AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, w FROM und
         |  UNION ALL SELECT b, a, w FROM und),
         |c0 AS MATERIALIZED (
         |  SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT) AS dist
         |  FROM part WHERE p_brand = '$brand')""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |u$r AS MATERIALIZED (
        |  SELECT adj.dst AS node, c.dist + adj.w AS dist
        |  FROM adj JOIN c${r - 1} c ON adj.src = c.node),
        |c$r AS MATERIALIZED (
        |  SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM c${r - 1} UNION ALL SELECT node, dist FROM u$r)
        |  GROUP BY node)""".stripMargin)
    }
    sb.append(s"""
      |SELECT node AS part, dist AS cost FROM c$rounds""".stripMargin)
    sb.toString
  }

  /** q246: ROLLUP revenue report — order revenue (exact cents) by
    * (nation, segment) with the two super-aggregate levels in ONE pass:
    * Spark's `rollup` plans a single Expand + hash aggregate, the
    * one-shuffle shape that replaces the naive three-query union a
    * dashboard would otherwise run (and exactly what GROUP BY ROLLUP
    * compiles to in the warehouse the reference delegates to).
    * `grouping_id()` disambiguates levels where the grouping key itself
    * is NULL; the customer dim broadcasts. State is |nations|·|segments|
    * — bounded regardless of fact volume.
    *
    * The GROUP BY ROLLUP goes through the SQL surface (temp view +
    * `spark.sql`, the q13/q124 route): in Spark 4.1 the DataFrame-side
    * `Dataset.rollup` trips the self-join ambiguity detector whenever
    * any join sits upstream (the Expand duplicates join-tagged
    * attributes) — even without grouping_id(), even after fresh
    * aliases. Same plan either way: one Expand + hash aggregate. */
  def q246RollupRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"))
    val c = Tables.customer(s, dir).select(col("c_custkey").as("o_custkey"),
      col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"))
    o.join(broadcast(c), "o_custkey")
      .select("nation", "segment", "cents")
      .createOrReplaceTempView("graft_q246_base")
    s.sql("""SELECT nation, segment,
      |  CAST(grouping_id(nation, segment) AS BIGINT) AS gid,
      |  count(*) AS n_orders, sum(cents) AS rev_cents
      |FROM graft_q246_base
      |GROUP BY ROLLUP (nation, segment)
      |ORDER BY gid, nation, segment""".stripMargin)
  }

  /** q247: weekday × event-type PIVOT — the long-to-wide reshape every
    * BI layer wants, as ONE grouped aggregate with an explicit pivot
    * value list (explicit so the output schema is static — Spark would
    * otherwise run an extra distinct-scan job to discover columns, a
    * hidden pass over the full corpus at scale). Weekday is the
    * engine-portable epoch-Monday formula, not dayofweek() (Spark counts
    * Sunday=1, DuckDB Sunday=0). Missing cells are true zeros. */
  def q247PivotWeekday(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(expr("pmod(datediff(date_trunc('day', ts)," +
        " DATE '1970-01-05'), 7)").cast("long").as("weekday"),
        col("event_type"))
      .groupBy("weekday")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("weekday")

  /** q248: benchmark decontamination — the pre-training hygiene pass
    * that finds training documents containing verbatim 8-gram spans of a
    * held-out evaluation set (here the deterministic doc_id ≡ 0 mod 23
    * slice stands in for the benchmark corpus). Per train doc: distinct
    * 8-gram vocabulary, hit count against the eval gram set, taint
    * permille; rolled up per source with tainted / heavily-tainted
    * tallies. The join is an equi-join on the gram string against the
    * SMALL eval side — at 100 TB the eval grams (fixed benchmark suite,
    * millions of grams at most) broadcast or become a bloom filter
    * pushed into the scan; the train side streams. Per-doc state is
    * bounded by doc length; nothing is all-pairs. */
  def q248Decontamination(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        expr("filter(split(lower(text), ' '), t -> length(t) > 0)").as("ws"))
      .filter(size(col("ws")) >= 8)
    def grams(df: DataFrame) = df.select(col("doc_id"), col("source"),
      explode(expr("transform(sequence(0, size(ws) - 8), i -> " +
        "concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3]," +
        " ws[i+4], ws[i+5], ws[i+6], ws[i+7]))")).as("g"))
    val ev = grams(toks.filter(col("doc_id") % 23 === 0))
      .select("g").distinct()
    val tr = grams(toks.filter(col("doc_id") % 23 =!= 0)).distinct()
    val totals = tr.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"))
    val hits = tr.join(ev, "g").groupBy("doc_id")
      .agg(count(lit(1)).as("hit"))
    totals.join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("hit"))
      .select(col("source"),
        expr("hit * 1000 div n_grams").as("taint_permille"),
        col("hit"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hit") > 0, 1L).otherwise(0L)).as("tainted_docs"),
        sum(when(col("taint_permille") >= 500, 1L).otherwise(0L))
          .as("heavy_docs"),
        sum("hit").as("total_hits"))
      .orderBy("source")
  }

  /** q249: modularity decomposition of the co-purchase graph under the
    * brand partition — per brand the exact contribution
    * (4m·e_c − d_c²)·10⁶ / (2m)² to Newman modularity Q (e_c = within-
    * brand edges, d_c = degree mass, m = total edges), the standard
    * "is this partition better than random?" score a community detector
    * (q148 label prop) is judged by. All moments are single keyed
    * aggregates over the distinct edge list; the brand map broadcasts;
    * m arrives as a 1-row broadcast cross join (the deliberate bounded
    * shape the plan guard whitelists by intent). DECIMAL(38,0) keeps
    * 4m·e_c exact at any edge count; the signed contribution divides the
    * magnitude and multiplies the sign back (div/floor portability). */
  def q249Modularity(s: SparkSession, dir: String): DataFrame = {
    val und = graft.sources.CoPurchaseGraph.distinctEdges(s, dir)
    val brand = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    val e = und
      .join(broadcast(brand.select(col("p_partkey").as("pa"),
        col("p_brand").as("ba"))), "pa")
      .join(broadcast(brand.select(col("p_partkey").as("pb"),
        col("p_brand").as("bb"))), "pb")
    val within = e.filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_c"))
    val deg = und.select(col("pa").as("node"))
      .unionAll(und.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val degByBrand = deg
      .join(broadcast(brand.select(col("p_partkey").as("node"),
        col("p_brand").as("brand"))), "node")
      .groupBy("brand").agg(sum("d").as("d_c"))
    val m = und.agg(count(lit(1)).as("m"))
    degByBrand.join(within, Seq("brand"), "left").na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .select(col("brand"), col("e_c"), col("d_c"),
        expr("CAST(4 AS DECIMAL(38,0)) * m * e_c" +
          " - CAST(d_c AS DECIMAL(38,0)) * d_c").as("num"),
        expr("CAST(4 AS DECIMAL(38,0)) * m * m").as("den"))
      .select(col("brand"), col("e_c"), col("d_c"),
        (expr("CAST(CASE WHEN num < 0 THEN -1L ELSE 1L END AS BIGINT)") *
          expr("CAST((abs(num) * 1000000) DIV den AS BIGINT)")).as("q6"))
      .orderBy("brand")
  }

  /** q250: half-year purchaser cohorts via INTERSECT / EXCEPT — the SQL
    * set operators (DISTINCT semantics) completing the §2.8 union
    * family: customers ordering in both calendar halves, only the first,
    * only the second. Spark plans INTERSECT as a left-semi + distinct
    * and EXCEPT as a left-anti + distinct — hash joins on the key, no
    * sort, AQE free to broadcast whichever side collapses first. */
  def q250SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey").as("cust"),
      month(col("o_orderdate")).as("m"))
    val a = o.filter(col("m") <= 6).select("cust")
    val b = o.filter(col("m") > 6).select("cust")
    a.intersect(b).select(lit("both").as("cohort"), col("cust"))
      .unionAll(a.except(b).select(lit("h1_only").as("cohort"), col("cust")))
      .unionAll(b.except(a).select(lit("h2_only").as("cohort"), col("cust")))
      .orderBy("cohort", "cust")
  }

  /** q251: Johnson–Lindenstrauss random-projection audit — project every
    * 64-d embedding to 16-d with a DETERMINISTIC ±1 sign matrix
    * (s(i,j) from an integer mixing formula both engines replay) and
    * measure per-vector norm preservation: ‖p‖²·1000 div (k·‖q‖²) in
    * permille, aggregated per label (count, min, max, integer mean).
    * The projection itself is the scale story: transform/aggregate
    * higher-order expressions evaluate the whole d×k contraction
    * per row — no posexplode fan-out (d·k rows per vector saved), no
    * shuffle until the |labels|-row aggregate, which is how a 100-TB
    * embedding dump gets re-dimensioned in one scan. (Higher-order
    * array expressions are interpreted, not codegen'd — the win here
    * is row-count shape, not instruction count.) Fixed point: q_i =
    * floor(x·10⁶) (exact float→double, one identical rounding), all
    * sums exact BIGINT (|q_i| ≤ 10⁶·64 ⇒ Σp² ≤ 2³⁶·16 ≪ 2⁶³), the
    * final ratio in DECIMAL for the ×1000. */
  def q251RandomProjection(s: SparkSession, dir: String): DataFrame = {
    val sign = "(CASE WHEN ((i * 131 + j + 7) * 2654435761) % 1000003" +
      " < 500002 THEN 1L ELSE -1L END)"
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x ->" +
          " CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("q6"))
      .withColumn("p", expr("transform(sequence(0, 15), j -> " +
        s"aggregate(sequence(0, 63), 0L, (acc, i) -> acc + $sign * q6[i]))"))
      .select(col("label"),
        expr("aggregate(p, 0L, (a, v) -> a + v * v)").as("sum_p2"),
        expr("aggregate(q6, 0L, (a, v) -> a + v * v)").as("sum_q2"))
      .filter(col("sum_q2") > 0)
      .select(col("label"),
        expr("CAST((CAST(sum_p2 AS DECIMAL(38,0)) * 1000)" +
          " DIV (16 * sum_q2) AS BIGINT)").as("permille"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), min("permille").as("min_permille"),
        max("permille").as("max_permille"), sum("permille").as("sp"))
      .select(col("label"), col("n_vecs"), col("min_permille"),
        col("max_permille"), expr("sp div n_vecs").as("avg_permille"))
      .orderBy("label")
  }

  /** q252: batch-perceptron language classifier TRAINED IN-ENGINE — the
    * first iterative model-fit in the library (k-means-lite and BPE
    * train structures; this trains a decision boundary). Features are
    * exact integers a langid-lite filter computes per doc (bias, ascii-
    * letter ratio decile, capped " the " hits, capped mean word length),
    * target y = ±1 on lang='en', and the update is the BATCH perceptron
    * w += Σ_{y·(w·x)≤0} y·x — order-free (a per-row perceptron would be
    * partition-order-dependent and unreproducible on a cluster), so the
    * oracle unrolls the SAME three epochs in CTEs and matches
    * bit-for-bit. Scale: each epoch is ONE narrow scan + a 5-long
    * aggregate; driver state is d+1 weights; epochs are a constant.
    * NOTE non-lazy (q211's pattern): building the frame RUNS the three
    * epoch aggregates (the weights must exist to build the next epoch's
    * filter); the feature frame is localCheckpointed once so the text
    * feature extraction runs once, not per epoch. */
  def q252Perceptron(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val feats = Tables.documents(s, dir).select(
      expr("CASE WHEN lang = 'en' THEN 1L ELSE -1L END").as("y"),
      lit(1L).as("x1"),
      expr("(10 * (length(text) -" +
        " length(regexp_replace(text, '[A-Za-z]', ''))))" +
        " div greatest(1, length(text))").as("x2"),
      expr("least(20L, (length(text) - length(replace(text, ' the ', '')))" +
        " div 5)").as("x3"),
      expr("least(20L, length(text) div greatest(1," +
        " size(split(trim(text), '\\\\s+'))))").as("x4"))
      .sever()
    val w = Array(0L, 0L, 0L, 0L)
    val out = (1 to 3).map { ep =>
      val r = feats
        .filter(expr(s"y * (${w(0)}L * x1 + ${w(1)}L * x2" +
          s" + ${w(2)}L * x3 + ${w(3)}L * x4) <= 0"))
        .agg(count(lit(1)), sum(expr("y * x1")), sum(expr("y * x2")),
          sum(expr("y * x3")), sum(expr("y * x4"))).head()
      val errs = r.getLong(0)
      (0 until 4).foreach(i =>
        w(i) += (if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)))
      Row(ep.toLong, errs, w(0), w(1), w(2), w(3))
    }
    s.createDataFrame(out.asJava, StructType(Seq("epoch", "errors",
      "w_bias", "w_ascii", "w_the", "w_wordlen")
      .map(StructField(_, LongType, nullable = false))))
  }

  /** q253: CUBE over (returnflag, linestatus) — all four grouping-set
    * levels of the classic TPC-H pricing-summary axes in one Expand +
    * hash aggregate, completing the grouping family beside q246's
    * ROLLUP. SQL surface for the same Spark-4.1 reason as q246
    * (`Dataset.cube` sits on the identical codepath). Quantities go
    * through floor() (DuckDB rounds DOUBLE→BIGINT casts where Spark
    * truncates). State: 4 · |flags|·|statuses| rows, fact-volume-free. */
  def q253CubePricing(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        floor(col("l_quantity")).cast("long").as("qty"))
      .createOrReplaceTempView("graft_q253_base")
    s.sql("""SELECT l_returnflag, l_linestatus,
      |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n_lines, sum(qty) AS sum_qty
      |FROM graft_q253_base
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }

  /** q258: data-subject access export (GDPR Art. 15 beside the Art. 17
    * delete in Sinks) — every record held about one subject, flattened
    * to a portable (rec_type, rec_id, attr, value) long format: the
    * customer profile row plus every order, values stringified with
    * engine-portable casts (exact cents; dates via CAST(.. AS DATE)).
    * The subject is the busiest customer (deterministic tiebreak) so
    * the export is non-trivial at any SF. Scale: the subject resolves
    * to one broadcast row, both fact lookups are broadcast equi-joins
    * with the key filter pushed at the scan — a point export that costs
    * two pruned scans however large the tables. `stack` unpivots each
    * row INSIDE the scan projection — no per-attr re-scan.
    * NOTE non-lazy-adjacent: the subject subquery is part of the lazy
    * plan (no driver collect). */
  def q258SubjectExport(s: SparkSession, dir: String): DataFrame = {
    val subject = Tables.orders(s, dir).groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_custkey")).limit(1)
      .select(col("o_custkey").as("subj"))
    val custAttrs = Tables.customer(s, dir)
      .join(broadcast(subject), col("c_custkey") === col("subj"))
      .selectExpr("'customer' AS rec_type", "c_custkey AS rec_id",
        "stack(4, 'name', c_name, 'nationkey', CAST(c_nationkey AS STRING)," +
          " 'mktsegment', c_mktsegment," +
          " 'acctbal_cents', CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2))" +
          " * 100 AS BIGINT) AS STRING)) AS (attr, value)")
    val orderAttrs = Tables.orders(s, dir)
      .join(broadcast(subject), col("o_custkey") === col("subj"))
      .selectExpr("'order' AS rec_type", "o_orderkey AS rec_id",
        "stack(3, 'status', o_orderstatus," +
          " 'total_cents', CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))" +
          " * 100 AS BIGINT) AS STRING)," +
          " 'date', CAST(CAST(o_orderdate AS DATE) AS STRING)) AS (attr, value)")
    custAttrs.unionAll(orderAttrs).orderBy("rec_type", "rec_id", "attr")
  }

  /** q259: ranked-window analytics over the per-(nation, month) revenue
    * grid — percent_rank, cume_dist, the second-best month
    * (nth_value over the FULL frame), and the gap to the nation's best
    * (first_value DESC ordering equivalent via max window). Completes
    * the window-function surface (rank/dense_rank/lag/lead/row_number
    * appear elsewhere). The window input is the POST-AGGREGATE
    * calendar × nation grid — bounded at any fact volume (the q58/q167
    * argument); percent_rank and cume_dist are single IEEE divisions of
    * small exact integers, bit-identical cross-engine. */
  def q259WindowRanks(s: SparkSession, dir: String): DataFrame = {
    // the mod-25 pseudo-nation keeps this single-table (the window
    // shapes are the point here, not a dimension join)
    val g = Tables.orders(s, dir)
      .select((col("o_custkey") % 25).as("nation"),
        date_trunc("month", col("o_orderdate")).as("month"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
      .groupBy("nation", "month").agg(sum("cents").as("rev"))
    val w = Window.partitionBy("nation").orderBy(col("rev"))
    val full = Window.partitionBy("nation").orderBy(col("rev").desc, col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.select(col("nation"), col("month"), col("rev"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("rev"), 2).over(full).as("second_best"),
        (max("rev").over(Window.partitionBy("nation")) - col("rev"))
          .as("gap_to_best"))
      .orderBy("nation", "month")
  }

  /** q260: leakage-safe split — train/val/test assignment at the
    * DUP-CLUSTER level, not the document level: every exact-duplicate
    * cluster (md5 of normalized text) hashes ATOMICALLY to one split,
    * so a duplicated document can never sit in train while its twin
    * sits in eval (the split-leakage failure q248's decontamination
    * would later catch). Split = first 15 md5 hex chars of the CLUSTER
    * KEY mod 10 → 8/1/1; the report is per (split, source) counts plus
    * a straddle audit column that must be zero by construction (and is
    * computed, not asserted — the oracle would catch a rigged zero).
    * Scale: one hash-group for clusters, one broadcast-free hash
    * assignment, |splits|·|sources| output rows. */
  def q260LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      md5(lower(trim(col("text")))).as("ckey"))
    val assigned = docs.withColumn("bucket",
      expr("CAST(conv(substring(md5(ckey), 1, 15), 16, 10) AS BIGINT) % 10"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
    val straddle = assigned.groupBy("ckey")
      .agg(countDistinct("split").as("n_splits"))
      .agg(sum(when(col("n_splits") > 1, 1L).otherwise(0L))
        .as("straddling_clusters"))
    assigned.groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), countDistinct("ckey").as("n_clusters"))
      .crossJoin(broadcast(straddle))
      .orderBy("split", "source")
  }

  /** q261: padding-waste audit for length-bucketed inference batching —
    * with sequences padded to their bucket's upper edge (width-128 token
    * buckets), how many pad tokens does each source burn, absolutely and
    * in permille of its real tokens? The number that decides whether a
    * corpus needs length-sorted batching before GPU time is bought.
    * Token counts are the whitespace tokenizer (q34's), waste =
    * bucket_upper − len per doc — one narrow pass, |sources| rows,
    * exact integers. */
  def q261PaddingWaste(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("len"))
      .withColumn("upper", expr("(((len - 1) div 128) + 1) * 128"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("len").as("real_tokens"),
        sum(expr("upper - len")).as("pad_tokens"))
      .select(col("source"), col("n_docs"), col("real_tokens"),
        col("pad_tokens"),
        expr("pad_tokens * 1000 div greatest(1L, real_tokens)")
          .as("waste_permille"))
      .orderBy("source")

  // ------------------------------------------------------------- registry

  /** q267: the FEATURE-HASHING trick (Weinberger 2009) — every token
    * maps to one of 64 buckets by a portable 60-bit md5 hash, with a
    * hash-derived ±1 sign so collisions cancel in expectation, summed
    * per (doc, bucket): the fixed-width sparse featurization a linear
    * model (q252's perceptron) trains on without a vocabulary pass.
    * Dimensionality is FIXED at any corpus size — no vocab table, no
    * OOV, the property that makes the trick the default featurizer for
    * streaming/distributed training. One explode + one map-side-
    * combined aggregate; ≤64 rows per doc. The oracle replays hash,
    * bucket, and sign bit-for-bit (`md5Long` ≡ DuckDB
    * `('0x' || substring(md5(tok),1,15))::BIGINT`). */
  def q267FeatureHashing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Long
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", md5Long(col("tok")))
    toks.select(col("doc_id"), (col("h") % 64).as("bucket"),
        when(shiftright(col("h"), 6).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L).as("sgn"))
      .groupBy("doc_id", "bucket").agg(sum("sgn").as("val"))
  }

  /** q270: CROSS-SOURCE copy attribution — for every content hash that
    * appears under more than one source, how many duplicate pairs link
    * each source pair (the "who mirrors whom" matrix a curation team
    * reads before assigning source weights; a source that is mostly
    * copies of another should not count twice in the mix). Counted from
    * per-(hash, source) AGGREGATES only — n_a·n_b per shared hash — so
    * no row-pair join ever materializes however large a duplicate
    * cluster gets; the per-hash source fan-out bounds the self-join
    * (≤ |sources| rows per hash). Corpus = documents plus a 'mirror'
    * copy of every 7th doc (the q27 seeding precedent — the fixture
    * corpus has no natural cross-source copies). */
  def q270CopyAttribution(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
    val corpus = d.select("source", "text").unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .select(lit("mirror").as("source"), col("text")))
    val cnt = corpus.groupBy(md5(col("text")).as("ckey"), col("source"))
      .agg(count(lit(1)).as("n"))
    val a = cnt.select(col("ckey"), col("source").as("source_a"), col("n").as("na"))
    val b = cnt.select(col("ckey"), col("source").as("source_b"), col("n").as("nb"))
    a.join(b, "ckey").filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("na") * col("nb")).as("n_dup_pairs"),
        count(lit(1)).as("n_shared_texts"))
  }

  /** q274: K-ANONYMITY release audit — before an events extract leaves
    * the warehouse, every quasi-identifier combination (event_type, day,
    * hour) held by FEWER than k=5 distinct users is a re-identification
    * risk and must be suppressed or generalized. The compliance
    * complement to q258 (GDPR subject export) and q49 (PII redaction):
    * those handle direct identifiers, this catches the combinations
    * that single someone out without any identifier at all. One
    * two-level keyed aggregate (distinct-user count per combo, partials
    * map-side); output is only the risky combos — at 100 TB the result
    * shrinks as data grows (more users per combo), which is exactly the
    * property that makes the audit cheap to act on. */
  def q274KAnonymity(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        hour(col("ts")).as("hr"), col("user_id"))
      .groupBy("event_type", "day", "hr")
      .agg(countDistinct("user_id").as("n_users"))
      .filter(col("n_users") < 5)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q270_copy_attribution" -> (q270CopyAttribution _),
    "q274_k_anonymity" -> (q274KAnonymity _),
    "q267_feature_hashing" -> (q267FeatureHashing _),
    "q173_harmonic_centrality" -> (q173HarmonicCentrality _),
    "q174_dim_health" -> (q174DimHealth _),
    "q175_winsorized" -> (q175Winsorized _),
    "q176_seasonal_anomaly" -> (q176SeasonalAnomaly _),
    "q177_decayed_engagement" -> (q177DecayedEngagement _),
    "q178_quantile_norm" -> (q178QuantileNorm _),
    "q179_ccdf_powers" -> (q179CcdfPowers _),
    "q180_heaps_law" -> (q180HeapsLaw _),
    "q181_event_paths" -> (q181EventPaths _),
    "q183_attribution" -> (q183Attribution _),
    "q184_int8_quant" -> (q184Int8Quant _),
    "q186_hits" -> (q186Hits _),
    "q187_mmr_rerank" -> (q187MmrRerank _),
    "q188_mutual_nn" -> (q188MutualNn _),
    "q189_gini_length" -> (q189GiniLength _),
    "q190_source_diversity" -> (q190SourceDiversity _),
    "q191_quality_dup_calibration" -> (q191QualityDupCalibration _),
    "q192_k_anonymity" -> (q192KAnonymity _),
    "q194_text_lines" -> (q194TextLines _),
    "q195_funnel_latency" -> (q195FunnelLatency _),
    "q196_window_suite" -> (q196WindowSuite _),
    "q197_rendezvous_reshard" -> (q197RendezvousReshard _),
    "q198_semantic_clusters" -> (q198SemanticClusters _),
    "q199_label_centroids" -> (q199LabelCentroids _),
    "q200_hard_negatives" -> (q200HardNegatives _),
    "q201_topic_purity" -> (q201TopicPurity _),
    "q202_source_percentile" -> (q202SourcePercentile _),
    "q203_bot_screen" -> (q203BotScreen _),
    "q204_stock_floor" -> (q204StockFloor _),
    "q205_predictability" -> (q205Predictability _),
    "q206_chi_square" -> (q206ChiSquare _),
    "q207_l_diversity" -> (q207LDiversity _),
    "q208_item_cf" -> (q208ItemCf _),
    "q209_cheapest_path" -> (q209CheapestPath _),
    "q210_ks_drift" -> (q210KsDrift _),
    "q211_abc_classes" -> (q211AbcClasses _),
    "q212_autocorr" -> (q212Autocorr _),
    "q213_rfm_segments" -> (q213RfmSegments _),
    "q214_gap_survival" -> (q214GapSurvival _),
    "q215_assortativity" -> (q215Assortativity _),
    "q216_trailing_spikes" -> (q216TrailingSpikes _),
    "q217_mad_outliers" -> (q217MadOutliers _),
    "q218_theil_sen" -> (q218TheilSen _),
    "q220_t_closeness" -> (q220TCloseness _),
    "q221_rolling_median" -> (q221RollingMedian _),
    "q222_intermittency" -> (q222Intermittency _),
    "q223_cohort_ltv" -> (q223CohortLtv _),
    "q224_readability" -> (q224Readability _),
    "q225_shape_stats" -> (q225ShapeStats _),
    "q226_sla_compliance" -> (q226SlaCompliance _),
    "q227_dup_payments" -> (q227DupPayments _),
    "q228_nation_hhi" -> (q228NationHhi _),
    "q229_day_overlap" -> (q229DayOverlap _),
    "q230_hapax_rate" -> (q230HapaxRate _),
    "q231_type_affinity" -> (q231TypeAffinity _),
    "q232_column_profile" -> (q232ColumnProfile _),
    "q233_diameter_sweep" -> (q233DiameterSweep _),
    "q234_attrib_windows" -> (q234AttribWindows _),
    "q235_wow_growth" -> (q235WowGrowth _),
    "q236_three_step_funnel" -> (q236ThreeStepFunnel _),
    "q237_segment_migration" -> (q237SegmentMigration _),
    "q238_price_integrity" -> (q238PriceIntegrity _),
    "q239_type_corr_matrix" -> (q239TypeCorrMatrix _),
    "q240_fingerprint_overlap" -> (q240FingerprintOverlap _),
    "q241_weighted_lag" -> (q241WeightedLag _),
    "q242_missing_mass" -> (q242MissingMass _),
    "q243_burstiness" -> (q243Burstiness _),
    "q244_coverage_gaps" -> (q244CoverageGaps _),
    "q246_rollup_revenue" -> (q246RollupRevenue _),
    "q247_pivot_weekday" -> (q247PivotWeekday _),
    "q248_decontamination" -> (q248Decontamination _),
    "q249_modularity" -> (q249Modularity _),
    "q250_set_ops" -> (q250SetOps _),
    "q251_random_projection" -> (q251RandomProjection _),
    "q252_perceptron" -> (q252Perceptron _),
    "q253_cube_pricing" -> (q253CubePricing _),
    "q258_subject_export" -> (q258SubjectExport _),
    "q259_window_ranks" -> (q259WindowRanks _),
    "q260_leakage_safe_split" -> (q260LeakageSafeSplit _),
    "q261_padding_waste" -> (q261PaddingWaste _))

  // ------------------------------------------------------------- oracles

  val oracles: Map[String, String] = Map(
    "q274_k_anonymity" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(hour(ts) AS INTEGER) AS hr,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1, 2, 3
        |HAVING count(DISTINCT user_id) < 5""".stripMargin,
    "q270_copy_attribution" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 7 = 0),
        |cnt AS (
        |  SELECT md5(text) AS ckey, source, CAST(count(*) AS BIGINT) AS n
        |  FROM corpus GROUP BY 1, 2)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(sum(a.n * b.n) AS BIGINT) AS n_dup_pairs,
        |  CAST(count(*) AS BIGINT) AS n_shared_texts
        |FROM cnt a JOIN cnt b ON a.ckey = b.ckey AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "q267_feature_hashing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents))
        |SELECT doc_id, h % 64 AS bucket,
        |  CAST(sum(CASE WHEN ((h >> 6) & 1) = 1 THEN 1 ELSE -1 END)
        |    AS BIGINT) AS val
        |FROM t GROUP BY doc_id, h % 64""".stripMargin,
    "q260_leakage_safe_split" ->
      """WITH docs AS (
        |  SELECT doc_id, source, md5(lower(trim(text))) AS ckey
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, source, ckey,
        |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT *,
        |    ('0x' || substring(md5(ckey), 1, 15))::BIGINT % 10 AS b
        |    FROM docs)),
        |st AS (
        |  SELECT CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS straddling_clusters
        |  FROM (SELECT ckey, count(DISTINCT split) AS n_splits
        |        FROM a GROUP BY ckey))
        |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT ckey) AS BIGINT) AS n_clusters,
        |  st.straddling_clusters
        |FROM a, st GROUP BY split, source, st.straddling_clusters
        |ORDER BY split, source""".stripMargin,
    "q261_padding_waste" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS len
        |  FROM documents),
        |w AS (
        |  SELECT source, len, (((len - 1) // 128) + 1) * 128 AS upper
        |  FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len) AS BIGINT) AS real_tokens,
        |  CAST(sum(upper - len) AS BIGINT) AS pad_tokens,
        |  CAST(sum(upper - len) * 1000 // greatest(1, sum(len)) AS BIGINT)
        |    AS waste_permille
        |FROM w GROUP BY source ORDER BY source""".stripMargin,
    "q258_subject_export" ->
      """WITH subj AS (
        |  SELECT o_custkey AS s FROM orders GROUP BY 1
        |  ORDER BY count(*) DESC, o_custkey LIMIT 1),
        |c AS (SELECT * FROM customer, subj WHERE c_custkey = s),
        |o AS (SELECT * FROM orders, subj WHERE o_custkey = s)
        |SELECT * FROM (
        |  SELECT 'customer' AS rec_type, c_custkey AS rec_id,
        |    'name' AS attr, c_name AS value FROM c
        |  UNION ALL
        |  SELECT 'customer', c_custkey, 'nationkey',
        |    CAST(c_nationkey AS VARCHAR) FROM c
        |  UNION ALL
        |  SELECT 'customer', c_custkey, 'mktsegment', c_mktsegment FROM c
        |  UNION ALL
        |  SELECT 'customer', c_custkey, 'acctbal_cents',
        |    CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         AS VARCHAR) FROM c
        |  UNION ALL
        |  SELECT 'order', o_orderkey, 'status', o_orderstatus FROM o
        |  UNION ALL
        |  SELECT 'order', o_orderkey, 'total_cents',
        |    CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         AS VARCHAR) FROM o
        |  UNION ALL
        |  SELECT 'order', o_orderkey, 'date',
        |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM o)
        |ORDER BY rec_type, rec_id, attr""".stripMargin,
    "q259_window_ranks" ->
      """WITH g AS (
        |  SELECT o_custkey % 25 AS nation,
        |    date_trunc('month', o_orderdate) AS month,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT nation, month, rev,
        |  percent_rank() OVER (PARTITION BY nation ORDER BY rev) AS pr,
        |  cume_dist() OVER (PARTITION BY nation ORDER BY rev) AS cd,
        |  nth_value(rev, 2) OVER (PARTITION BY nation
        |    ORDER BY rev DESC, month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_best,
        |  CAST(max(rev) OVER (PARTITION BY nation) - rev AS BIGINT)
        |    AS gap_to_best
        |FROM g ORDER BY nation, month""".stripMargin,
    "q252_perceptron" -> {
      // the SAME three batch epochs unrolled: epoch CTEs carry (errors,
      // Σ y·x) over the misclassified set under the PREVIOUS weights
      val feat =
        """SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
          |    CAST(1 AS BIGINT) AS x1,
          |    CAST((10 * (length(text) -
          |        length(regexp_replace(text, '[A-Za-z]', '', 'g'))))
          |      // greatest(1, length(text)) AS BIGINT) AS x2,
          |    CAST(least(20, (length(text) -
          |        length(replace(text, ' the ', ''))) // 5) AS BIGINT) AS x3,
          |    CAST(least(20, length(text) // greatest(1,
          |        len(regexp_split_to_array(trim(text), '\s+')))) AS BIGINT)
          |      AS x4
          |  FROM documents""".stripMargin
      def epoch(n: Int, pw: String): String =
        s"""e$n AS MATERIALIZED (
           |  SELECT CAST(count(*) AS BIGINT) AS errs,
           |    CAST(coalesce(sum(y * x1), 0) AS BIGINT) AS d1,
           |    CAST(coalesce(sum(y * x2), 0) AS BIGINT) AS d2,
           |    CAST(coalesce(sum(y * x3), 0) AS BIGINT) AS d3,
           |    CAST(coalesce(sum(y * x4), 0) AS BIGINT) AS d4
           |  FROM f, $pw
           |  WHERE y * (w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4) <= 0),
           |w$n AS MATERIALIZED (
           |  SELECT p.w1 + e.d1 AS w1, p.w2 + e.d2 AS w2,
           |    p.w3 + e.d3 AS w3, p.w4 + e.d4 AS w4
           |  FROM $pw p, e$n e)""".stripMargin
      s"""WITH f AS MATERIALIZED (
         |  $feat),
         |w0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
         |       CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4),
         |${epoch(1, "w0")},
         |${epoch(2, "w1")},
         |${epoch(3, "w2")}
         |SELECT CAST(1 AS BIGINT) AS epoch, e1.errs AS errors,
         |  w1.w1 AS w_bias, w1.w2 AS w_ascii, w1.w3 AS w_the,
         |  w1.w4 AS w_wordlen FROM e1, w1
         |UNION ALL
         |SELECT 2, e2.errs, w2.w1, w2.w2, w2.w3, w2.w4 FROM e2, w2
         |UNION ALL
         |SELECT 3, e3.errs, w3.w1, w3.w2, w3.w3, w3.w4 FROM e3, w3
         |ORDER BY epoch""".stripMargin
    },
    "q253_cube_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q246_rollup_revenue" ->
      """WITH o AS (
        |  SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders JOIN customer c ON o_custkey = c.c_custkey)
        |SELECT nation, segment,
        |  CAST(GROUPING(nation, segment) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM o GROUP BY ROLLUP (nation, segment)
        |ORDER BY gid, nation, segment""".stripMargin,
    "q247_pivot_weekday" ->
      """SELECT weekday,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS view
        |FROM (
        |  SELECT CAST(date_diff('day', DATE '1970-01-05',
        |           CAST(date_trunc('day', ts) AS DATE)) % 7 AS BIGINT)
        |      AS weekday, event_type
        |  FROM events)
        |GROUP BY weekday ORDER BY weekday""".stripMargin,
    "q248_decontamination" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '),
        |                t -> length(t) > 0) AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    concat_ws(' ', ws[i+1], ws[i+2], ws[i+3], ws[i+4],
        |              ws[i+5], ws[i+6], ws[i+7], ws[i+8]) AS g
        |  FROM toks, LATERAL unnest(generate_series(0, len(ws) - 8)) t(i)
        |  WHERE len(ws) >= 8),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 23 = 0),
        |tr AS (SELECT DISTINCT doc_id, source, g FROM g
        |       WHERE doc_id % 23 <> 0),
        |tot AS (
        |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM tr GROUP BY 1, 2),
        |hits AS (
        |  SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS hit
        |  FROM tr JOIN ev USING (g) GROUP BY 1),
        |per AS (
        |  SELECT tot.source, coalesce(hits.hit, 0) AS hit,
        |    coalesce(hits.hit, 0) * 1000 // tot.n_grams AS taint_permille
        |  FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS tainted_docs,
        |  CAST(sum(CASE WHEN taint_permille >= 500 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS heavy_docs,
        |  CAST(sum(hit) AS BIGINT) AS total_hits
        |FROM per GROUP BY source ORDER BY source""".stripMargin,
    "q249_modularity" ->
      """WITH op AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS pa,
        |                  greatest(x.l_partkey, y.l_partkey) AS pb
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
        |e AS (
        |  SELECT ba.p_brand AS ba, bb.p_brand AS bb
        |  FROM op JOIN part ba ON op.pa = ba.p_partkey
        |          JOIN part bb ON op.pb = bb.p_partkey),
        |w AS (
        |  SELECT ba AS brand, CAST(count(*) AS BIGINT) AS e_c
        |  FROM e WHERE ba = bb GROUP BY 1),
        |adj AS (SELECT pa AS node FROM op UNION ALL SELECT pb FROM op),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |db AS (
        |  SELECT p.p_brand AS brand, CAST(sum(deg.d) AS BIGINT) AS d_c
        |  FROM deg JOIN part p ON deg.node = p.p_partkey GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM op),
        |c AS (
        |  SELECT db.brand, coalesce(w.e_c, 0) AS e_c, db.d_c,
        |    4 * m.m * coalesce(w.e_c, 0)
        |      - CAST(db.d_c AS HUGEINT) * db.d_c AS num,
        |    4 * m.m * m.m AS den
        |  FROM db LEFT JOIN w ON db.brand = w.brand CROSS JOIN m)
        |SELECT brand, CAST(e_c AS BIGINT) AS e_c, d_c,
        |  CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END AS BIGINT)
        |    * CAST((abs(num) * 1000000) // den AS BIGINT) AS q6
        |FROM c ORDER BY brand""".stripMargin,
    "q250_set_ops" ->
      """WITH a AS (SELECT o_custkey AS cust FROM orders
        |           WHERE month(o_orderdate) <= 6),
        |b AS (SELECT o_custkey AS cust FROM orders
        |      WHERE month(o_orderdate) > 6)
        |SELECT 'both' AS cohort, cust
        |FROM (SELECT cust FROM a INTERSECT SELECT cust FROM b)
        |UNION ALL
        |SELECT 'h1_only', cust
        |FROM (SELECT cust FROM a EXCEPT SELECT cust FROM b)
        |UNION ALL
        |SELECT 'h2_only', cust
        |FROM (SELECT cust FROM b EXCEPT SELECT cust FROM a)
        |ORDER BY cohort, cust""".stripMargin,
    "q251_random_projection" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |     FOR x IN embedding] AS q6
        |  FROM embeddings),
        |pj AS (
        |  SELECT vec_id, label, j,
        |    CAST(sum((CASE WHEN ((i * 131 + j + 7) * 2654435761)
        |                        % 1000003 < 500002
        |              THEN 1 ELSE -1 END) * q6[i + 1]) AS BIGINT) AS p
        |  FROM q,
        |    LATERAL unnest(generate_series(0, 15)) tj(j),
        |    LATERAL unnest(generate_series(0, 63)) ti(i)
        |  GROUP BY 1, 2, 3),
        |per AS (
        |  SELECT vec_id, label, CAST(sum(p * p) AS BIGINT) AS sum_p2
        |  FROM pj GROUP BY 1, 2),
        |qq AS (
        |  SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS sum_q2
        |  FROM (SELECT vec_id, unnest(q6) AS v FROM q) GROUP BY 1),
        |r AS (
        |  SELECT per.label,
        |    CAST((CAST(sum_p2 AS HUGEINT) * 1000) // (16 * sum_q2)
        |         AS BIGINT) AS permille
        |  FROM per JOIN qq USING (vec_id) WHERE sum_q2 > 0)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  min(permille) AS min_permille, max(permille) AS max_permille,
        |  CAST(sum(permille) // count(*) AS BIGINT) AS avg_permille
        |FROM r GROUP BY label ORDER BY label""".stripMargin,
    "q209_cheapest_path" -> cheapestOracleSql(brand = "Brand#12", rounds = 2),
    "q244_coverage_gaps" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) // 3600
        |      AS hourn
        |  FROM events),
        |b AS (SELECT min(hourn) AS lo, max(hourn) AS hi FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |spine AS (
        |  SELECT t.event_type, g.hourn
        |  FROM types t CROSS JOIN b,
        |    LATERAL unnest(generate_series(b.lo, b.hi)) AS g(hourn)),
        |obs AS (SELECT DISTINCT event_type, hourn FROM ev),
        |empty AS (
        |  SELECT s.event_type, s.hourn
        |  FROM spine s LEFT JOIN obs o
        |    ON o.event_type = s.event_type AND o.hourn = s.hourn
        |  WHERE o.hourn IS NULL),
        |islands AS (
        |  SELECT event_type,
        |    hourn - row_number() OVER (PARTITION BY event_type
        |                               ORDER BY hourn) AS grp,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM empty),
        |agg AS (
        |  SELECT event_type, grp, CAST(count(*) AS BIGINT) AS len
        |  FROM islands GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(len) AS BIGINT) AS n_empty_hours,
        |  CAST(count(*) AS BIGINT) AS n_outages,
        |  CAST(max(len) AS BIGINT) AS longest_hours
        |FROM agg GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q242_missing_mass" ->
      """WITH toks AS (
        |  SELECT source, t.tok
        |  FROM documents,
        |    LATERAL unnest(string_split(lower(text), ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |f AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS singletons,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000 // sum(c)
        |       AS BIGINT) AS unseen_permille
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q243_burstiness" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', ts) AS DATE)) AS dayn,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY event_type)
        |SELECT event_type, n_days, sx AS n_events,
        |  (n_days * sxx - sx * sx) * 1000 // (n_days * sx) AS fano3
        |FROM m WHERE sx > 0 ORDER BY event_type""".stripMargin,
    "q240_fingerprint_overlap" ->
      """WITH toks AS (
        |  SELECT source, doc_id,
        |    list_filter(string_split(lower(text), ' '),
        |                t -> length(t) > 0) AS ws
        |  FROM documents),
        |tris AS (
        |  SELECT source,
        |    concat_ws(' ', ws[i + 1], ws[i + 2], ws[i + 3]) AS tri
        |  FROM toks,
        |    LATERAL unnest(generate_series(0, len(ws) - 3)) AS g(i)
        |  WHERE len(ws) >= 3),
        |cnts AS (
        |  SELECT source, tri, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tris GROUP BY 1, 2),
        |top AS (
        |  SELECT source, tri FROM cnts
        |  QUALIFY row_number() OVER (PARTITION BY source
        |                             ORDER BY cnt DESC, tri) <= 50)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared,
        |  CAST(count(*) * 1000 // 50 AS BIGINT) AS overlap_permille
        |FROM top a JOIN top b
        |  ON a.tri = b.tri AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    "q241_weighted_lag" ->
      """WITH lag AS (
        |  SELECT o.o_orderpriority AS prio,
        |    date_diff('day', CAST(date_trunc('day', o.o_orderdate) AS DATE),
        |              CAST(date_trunc('day', l.l_shipdate) AS DATE)) AS lag,
        |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |h AS (
        |  SELECT prio, lag, CAST(sum(cents) AS BIGINT) AS w
        |  FROM lag GROUP BY 1, 2),
        |c AS (
        |  SELECT prio, lag,
        |    CAST(sum(w) OVER (PARTITION BY prio ORDER BY lag
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
        |    CAST(sum(w) OVER (PARTITION BY prio) AS BIGINT) AS totw
        |  FROM h)
        |SELECT prio, max(totw) AS total_cents,
        |  CAST(min(CASE WHEN cumw * 2 >= totw THEN lag END) AS BIGINT)
        |    AS wmedian_lag
        |FROM c GROUP BY prio ORDER BY prio""".stripMargin,
    "q237_segment_migration" -> {
      def tierCte(h: Int) =
        s"""h$h AS (
           |  SELECT cust, CAST(sum(cents) // 100 AS BIGINT) AS usd
           |  FROM o WHERE half = $h GROUP BY cust),
           |b$h AS (
           |  SELECT min(CASE WHEN cum * 3 >= n THEN usd END) AS b1,
           |         min(CASE WHEN cum * 3 >= n * 2 THEN usd END) AS b2
           |  FROM (
           |    SELECT usd,
           |      CAST(sum(c) OVER (ORDER BY usd
           |                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
           |        AS cum,
           |      CAST(sum(c) OVER () AS BIGINT) AS n
           |    FROM (SELECT usd, CAST(count(*) AS BIGINT) AS c
           |          FROM h$h GROUP BY usd))),
           |t$h AS (
           |  SELECT cust,
           |    CAST(1 + (CASE WHEN usd > b1 THEN 1 ELSE 0 END)
           |           + (CASE WHEN usd > b2 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS tier_h$h
           |  FROM h$h CROSS JOIN b$h)""".stripMargin
      s"""WITH o0 AS (
         |  SELECT o_custkey AS cust,
         |    date_diff('day', DATE '1970-01-01',
         |              CAST(date_trunc('day', o_orderdate) AS DATE)) AS dayn,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |m AS (SELECT (min(dayn) + max(dayn)) // 2 AS mid FROM o0),
         |o AS (
         |  SELECT cust, cents,
         |    CASE WHEN dayn <= mid THEN 1 ELSE 2 END AS half
         |  FROM o0 CROSS JOIN m),
         |${tierCte(1)},
         |${tierCte(2)}
         |SELECT coalesce(t1.tier_h1, 0) AS tier_h1,
         |  coalesce(t2.tier_h2, 0) AS tier_h2,
         |  CAST(count(*) AS BIGINT) AS customers
         |FROM t1 FULL OUTER JOIN t2 ON t1.cust = t2.cust
         |GROUP BY 1, 2 ORDER BY tier_h1, tier_h2""".stripMargin
    },
    "q238_price_integrity" ->
      """WITH up AS (
        |  SELECT l_partkey AS part,
        |    CAST(floor(l_extendedprice * 100 / l_quantity) AS BIGINT)
        |      AS unit_cents
        |  FROM lineitem),
        |per AS (
        |  SELECT part, CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(count(DISTINCT unit_cents) AS BIGINT) AS n_prices,
        |    min(unit_cents) AS min_cents, max(unit_cents) AS max_cents
        |  FROM up GROUP BY part)
        |SELECT part, n_lines, n_prices, min_cents, max_cents,
        |  (max_cents - min_cents) * 1000 // min_cents AS spread_permille
        |FROM per WHERE n_prices > 1
        |ORDER BY spread_permille DESC, part LIMIT 50""".stripMargin,
    "q239_type_corr_matrix" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', ts) AS DATE)) AS dayn,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.x) AS BIGINT) AS sy,
        |    CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
        |    CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
        |    CAST(sum(b.x * b.x) AS BIGINT) AS syy
        |  FROM daily a JOIN daily b
        |    ON a.dayn = b.dayn AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT ta, tb, n,
        |    n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy
        |  FROM m)
        |SELECT ta, tb, n,
        |  CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END AS BIGINT)
        |    * CAST((CAST(abs(num) AS HUGEINT) * abs(num) * 1000000)
        |           // (CAST(dxx AS HUGEINT) * dyy) AS BIGINT) AS r2s6
        |FROM d WHERE dxx > 0 AND dyy > 0
        |ORDER BY ta, tb""".stripMargin,
    "q234_attrib_windows" -> Seq(1L, 6L, 24L, 72L).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS t_hours,
         |  CAST(count(*) AS BIGINT) AS n_purchases,
         |  CAST(sum(CASE WHEN gap_hours IS NOT NULL AND gap_hours < $t
         |               THEN 1 ELSE 0 END) AS BIGINT) AS attributed,
         |  CAST(sum(CASE WHEN gap_hours IS NOT NULL AND gap_hours < $t
         |               THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         |    AS attr_permille
         |FROM (
         |  SELECT (sec - last_view) // 3600 AS gap_hours
         |  FROM (
         |    SELECT event_type, sec,
         |      max(CASE WHEN event_type = 'view' THEN sec END)
         |        OVER (PARTITION BY user_id ORDER BY sec, event_id
         |              ROWS UNBOUNDED PRECEDING) AS last_view
         |    FROM (
         |      SELECT user_id, event_id, event_type,
         |        date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
         |          AS sec
         |      FROM events WHERE event_type IN ('view', 'purchase')))
         |  WHERE event_type = 'purchase')""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY t_hours"),
    "q235_wow_growth" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', ts) AS DATE)) AS dayn,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT c.event_type, c.dayn, c.cnt, p.cnt AS prev,
        |  c.cnt * 1000 // p.cnt AS wow_permille,
        |  (c.cnt * 5 >= p.cnt * 6 OR c.cnt * 6 <= p.cnt * 5) AS mover
        |FROM daily c JOIN daily p
        |  ON p.event_type = c.event_type AND p.dayn = c.dayn - 7
        |ORDER BY c.event_type, c.dayn""".stripMargin,
    "q236_three_step_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS sec
        |  FROM events),
        |v AS (
        |  SELECT user_id, min(sec) AS t_view
        |  FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.sec) AS t_click
        |  FROM ev e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.sec >= v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.sec) AS t_purchase
        |  FROM ev e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.sec >= c.t_click
        |  GROUP BY e.user_id),
        |f AS (
        |  SELECT v.user_id, c.t_click, p.t_purchase
        |  FROM v LEFT JOIN c ON v.user_id = c.user_id
        |         LEFT JOIN p ON v.user_id = p.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS viewed,
        |  CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS clicked,
        |  CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS purchased,
        |  CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) * 1000
        |       // count(*) AS BIGINT) AS click_permille,
        |  CAST(CASE WHEN sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0
        |                     END) > 0
        |       THEN sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0
        |                 END) * 1000
        |            // sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
        |       ELSE 0 END AS BIGINT) AS purchase_permille
        |FROM f""".stripMargin,
    "q233_diameter_sweep" -> {
      def sweep(p: String, seedCte: String) =
        s"""${p}v0 AS MATERIALIZED (
           |  SELECT seed AS node, CAST(0 AS BIGINT) AS dist FROM $seedCte),
           |${p}f0 AS MATERIALIZED (SELECT node FROM ${p}v0),
           |${p}n1 AS MATERIALIZED (
           |  SELECT DISTINCT adj.dst AS node
           |  FROM adj JOIN ${p}f0 f ON adj.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM ${p}v0 v WHERE v.node = adj.dst)),
           |${p}v1 AS MATERIALIZED (
           |  SELECT node, dist FROM ${p}v0
           |  UNION ALL SELECT node, CAST(1 AS BIGINT) FROM ${p}n1),
           |${p}n2 AS MATERIALIZED (
           |  SELECT DISTINCT adj.dst AS node
           |  FROM adj JOIN ${p}n1 f ON adj.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM ${p}v1 v WHERE v.node = adj.dst)),
           |${p}v2 AS MATERIALIZED (
           |  SELECT node, dist FROM ${p}v1
           |  UNION ALL SELECT node, CAST(2 AS BIGINT) FROM ${p}n2),
           |${p}n3 AS MATERIALIZED (
           |  SELECT DISTINCT adj.dst AS node
           |  FROM adj JOIN ${p}n2 f ON adj.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM ${p}v2 v WHERE v.node = adj.dst)),
           |${p}v3 AS MATERIALIZED (
           |  SELECT node, dist FROM ${p}v2
           |  UNION ALL SELECT node, CAST(3 AS BIGINT) FROM ${p}n3)""".stripMargin
      s"""WITH op AS MATERIALIZED (
         |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
         |                  greatest(x.l_partkey, y.l_partkey) AS b
         |  FROM lineitem x JOIN lineitem y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
         |adj AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM op UNION ALL SELECT b, a FROM op),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
         |        FROM adj GROUP BY src),
         |s1 AS MATERIALIZED (
         |  SELECT src AS seed FROM deg ORDER BY d DESC, src LIMIT 1),
         |${sweep("a_", "s1")},
         |pick2 AS MATERIALIZED (
         |  SELECT node AS seed, dist AS ecc1 FROM a_v3
         |  ORDER BY dist DESC, node LIMIT 1),
         |${sweep("b_", "pick2")}
         |SELECT s1.seed AS hub, p.ecc1 AS ecc_hub, p.seed AS far_node,
         |  (SELECT max(dist) FROM b_v3) AS ecc_far,
         |  greatest(p.ecc1, (SELECT max(dist) FROM b_v3)) AS diameter_lb
         |FROM s1 CROSS JOIN pick2 p""".stripMargin
    },
    "q230_hapax_rate" ->
      """WITH toks AS (
        |  SELECT source, t.tok
        |  FROM documents,
        |    LATERAL unnest(string_split(lower(text), ' ')) AS t(tok)
        |  WHERE length(t.tok) > 0),
        |vocab AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS gc
        |  FROM toks GROUP BY tok),
        |ps AS (SELECT DISTINCT source, tok FROM toks)
        |SELECT ps.source, CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN v.gc = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(sum(CASE WHEN v.gc = 1 THEN 1 ELSE 0 END) * 1000 // count(*)
        |       AS BIGINT) AS hapax_permille
        |FROM ps JOIN vocab v USING (tok)
        |GROUP BY ps.source ORDER BY ps.source""".stripMargin,
    "q231_type_affinity" ->
      """WITH cells AS (
        |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr, event_type
        |  FROM events),
        |nc AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_cells
        |  FROM (SELECT DISTINCT user_id, hr FROM cells)),
        |singles AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM cells GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb,
        |    CAST(count(*) AS BIGINT) AS co
        |  FROM cells a JOIN cells b
        |    ON a.user_id = b.user_id AND a.hr = b.hr
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.ta, p.tb, p.co,
        |  p.co * nc.n_cells * 1000 // (sa.c * sb.c) AS lift3
        |FROM pairs p
        |JOIN singles sa ON sa.event_type = p.ta
        |JOIN singles sb ON sb.event_type = p.tb
        |CROSS JOIN nc
        |ORDER BY ta, tb""".stripMargin,
    "q232_column_profile" -> Seq(
      ("quantity", "CAST(floor(l_quantity) AS BIGINT)"),
      ("price_cents", "CAST(floor(l_extendedprice * 100) AS BIGINT)"),
      ("discount_permille", "CAST(floor(l_discount * 1000) AS BIGINT)"))
      .map { case (name, ex) =>
        s"""SELECT '$name' AS "column", d.decile, min(h.v) AS boundary
           |FROM (
           |  SELECT v,
           |    CAST(sum(c) OVER (ORDER BY v
           |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           |    CAST(sum(c) OVER () AS BIGINT) AS n
           |  FROM (SELECT $ex AS v, CAST(count(*) AS BIGINT) AS c
           |        FROM lineitem GROUP BY 1)) h
           |CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS decile) d
           |WHERE h.cum * 10 >= h.n * d.decile
           |GROUP BY d.decile""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\", decile"),
    "q226_sla_compliance" ->
      """SELECT o_orderpriority AS prio,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN lag <= 7 THEN 1 ELSE 0 END) * 1000 // count(*)
        |       AS BIGINT) AS in7_permille,
        |  CAST(sum(CASE WHEN lag <= 14 THEN 1 ELSE 0 END) * 1000 // count(*)
        |       AS BIGINT) AS in14_permille,
        |  CAST(sum(CASE WHEN lag <= 30 THEN 1 ELSE 0 END) * 1000 // count(*)
        |       AS BIGINT) AS in30_permille,
        |  CAST(max(lag) AS BIGINT) AS worst_lag
        |FROM (
        |  SELECT o.o_orderpriority,
        |    date_diff('day', CAST(date_trunc('day', o.o_orderdate) AS DATE),
        |              CAST(date_trunc('day', l.l_shipdate) AS DATE)) AS lag
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |GROUP BY prio ORDER BY prio""".stripMargin,
    "q227_dup_payments" ->
      """WITH e AS (
        |  SELECT user_id AS u, CAST(floor(value) AS BIGINT) AS amount,
        |    event_id,
        |    date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
        |      AS sec
        |  FROM events WHERE event_type = 'purchase')
        |SELECT a.u, a.amount, a.event_id AS id_a, b.event_id AS id_b,
        |  CAST(abs(a.sec - b.sec) AS BIGINT) AS secs_apart
        |FROM e a JOIN e b
        |  ON a.u = b.u AND a.amount = b.amount AND a.event_id < b.event_id
        | AND abs(a.sec - b.sec) <= 86400
        |ORDER BY a.u, id_a, id_b""".stripMargin,
    "q228_nation_hhi" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supp,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |n AS (
        |  SELECT s.s_nationkey AS nation,
        |    CAST(count(*) AS BIGINT) AS n_suppliers,
        |    CAST(sum(rev) AS BIGINT) AS rev_total,
        |    CAST(sum(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS rev_sq
        |  FROM rev r JOIN supplier s ON r.supp = s.s_suppkey
        |  GROUP BY 1)
        |SELECT CAST(nation AS BIGINT) AS nation, n_suppliers, rev_total,
        |  CAST((rev_sq * 100000000)
        |       // (CAST(rev_total AS HUGEINT) * rev_total) AS BIGINT)
        |    AS hhi_bp,
        |  10000000000 // greatest(CAST(1 AS BIGINT),
        |    CAST((rev_sq * 100000000)
        |         // (CAST(rev_total AS HUGEINT) * rev_total) AS BIGINT))
        |    AS eff_suppliers_x100
        |FROM n ORDER BY nation""".stripMargin,
    "q229_day_overlap" ->
      """WITH du AS (
        |  SELECT DISTINCT
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', ts) AS DATE)) AS dayn,
        |    user_id
        |  FROM events),
        |sizes AS (
        |  SELECT dayn, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY dayn),
        |inter AS (
        |  SELECT a.dayn, CAST(count(*) AS BIGINT) AS n_both
        |  FROM du a JOIN du b
        |    ON a.user_id = b.user_id AND b.dayn = a.dayn + 1
        |  GROUP BY a.dayn)
        |SELECT t.dayn, t.n AS n_today, x.n AS n_next,
        |  coalesce(i.n_both, 0) AS n_both,
        |  coalesce(i.n_both, 0) * 1000
        |    // (t.n + x.n - coalesce(i.n_both, 0)) AS jac_permille,
        |  t.n - coalesce(i.n_both, 0) AS churned,
        |  x.n - coalesce(i.n_both, 0) AS new_users
        |FROM sizes t JOIN sizes x ON x.dayn = t.dayn + 1
        |LEFT JOIN inter i ON i.dayn = t.dayn
        |ORDER BY t.dayn""".stripMargin,
    "q223_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', ts) AS DATE)) AS dayn,
        |    event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |birth AS (
        |  SELECT user_id, min(dayn) // 7 AS cohort_week
        |  FROM ev GROUP BY user_id),
        |csize AS (
        |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
        |  FROM birth GROUP BY cohort_week),
        |cells AS (
        |  SELECT b.cohort_week, e.dayn // 7 - b.cohort_week AS widx,
        |    CAST(sum(e.cents) AS BIGINT) AS rev_cents
        |  FROM ev e JOIN birth b ON e.user_id = b.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_week, widx,
        |    CAST(sum(rev_cents) OVER (PARTITION BY cohort_week ORDER BY widx
        |                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_cents
        |  FROM cells)
        |SELECT c.cohort_week, c.widx, s.cohort_users, c.cum_cents,
        |  c.cum_cents // s.cohort_users AS ltv_cents_per_user
        |FROM cum c JOIN csize s USING (cohort_week)
        |ORDER BY cohort_week, widx""".stripMargin,
    "q224_readability" ->
      """WITH scored AS (
        |  SELECT source,
        |    greatest(1, CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |                     AS BIGINT)) AS words,
        |    greatest(1, CAST(length(text)
        |      - length(replace(replace(replace(text, '.', ''), '!', ''),
        |                       '?', '')) AS BIGINT)) AS sentences,
        |    greatest(1, CAST(
        |      length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
        |      - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
        |      AS BIGINT)) AS syll
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    206835 - 1015 * words // sentences - 84600 * syll // words
        |      AS fre_m
        |  FROM scored)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(CASE WHEN sum(fre_m) < 0 THEN -1 ELSE 1 END AS BIGINT)
        |    * CAST(abs(sum(fre_m)) // count(*) AS BIGINT) AS avg_fre_m,
        |  CAST(sum(CASE WHEN fre_m < 30000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hard_docs
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q225_shape_stats" ->
      """WITH m AS (
        |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(n_chars) AS HUGEINT) AS s1,
        |    CAST(sum(n_chars * n_chars) AS HUGEINT) AS s2,
        |    CAST(sum(n_chars * n_chars * n_chars) AS HUGEINT) AS s3,
        |    CAST(sum(CAST(n_chars AS HUGEINT) * n_chars * n_chars * n_chars)
        |         AS HUGEINT) AS s4
        |  FROM documents GROUP BY source),
        |c AS (
        |  SELECT source, n,
        |    n * s2 - s1 * s1 AS m2,
        |    n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3,
        |    n * n * n * s4 - 4 * n * n * s1 * s3
        |      + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS m4
        |  FROM m),
        |q AS (
        |  SELECT source, n, m2, m3, m4,
        |    (abs(m3) * 1000) // m2 AS q1
        |  FROM c WHERE m2 > 0)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN m3 < 0 THEN -1 ELSE 1 END AS BIGINT)
        |    * CAST((q1 * abs(m3) * 1000) // (m2 * m2) AS BIGINT) AS skew2s6,
        |  CAST((n * m4 * 1000) // (m2 * m2) AS BIGINT) AS kurt3
        |FROM q ORDER BY source""".stripMargin,
    "q220_t_closeness" ->
      """WITH cust AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    c_mktsegment AS segment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS kb
        |  FROM customer),
        |spine AS (SELECT DISTINCT kb FROM cust),
        |groups AS (SELECT DISTINCT nation, segment FROM cust),
        |ghist AS (
        |  SELECT nation, segment, kb, CAST(count(*) AS BIGINT) AS c
        |  FROM cust GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT g.nation, g.segment, v.kb, coalesce(h.c, 0) AS c
        |  FROM spine v CROSS JOIN groups g
        |  LEFT JOIN ghist h ON h.nation = g.nation
        |    AND h.segment = g.segment AND h.kb = v.kb),
        |gcum AS (
        |  SELECT nation, segment, kb,
        |    CAST(sum(c) OVER (PARTITION BY nation, segment ORDER BY kb
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g,
        |    CAST(sum(c) OVER (PARTITION BY nation, segment) AS BIGINT) AS n_g
        |  FROM grid),
        |gpop AS (
        |  SELECT kb,
        |    CAST(sum(gc) OVER (ORDER BY kb
        |                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(gc) OVER () AS BIGINT) AS n,
        |    greatest(CAST(1 AS BIGINT),
        |             CAST(count(*) OVER () AS BIGINT) - 1) AS span
        |  FROM (SELECT kb, CAST(count(*) AS BIGINT) AS gc
        |        FROM cust GROUP BY kb))
        |SELECT g.nation, g.segment, max(g.n_g) AS k,
        |  CAST((CAST(sum(abs(g.cum_g * o.n - o.cum * g.n_g)) AS HUGEINT)
        |        * 1000000)
        |       // (CAST(max(g.n_g) AS HUGEINT) * max(o.n) * max(o.span))
        |       AS BIGINT) AS emd6
        |FROM gcum g JOIN gpop o ON g.kb = o.kb
        |GROUP BY g.nation, g.segment ORDER BY g.nation, g.segment""".stripMargin,
    "q221_rolling_median" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(count(*) AS BIGINT) AS x,
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', ts) AS DATE)) AS dayn
        |  FROM events GROUP BY 1, 2),
        |nb AS (
        |  SELECT c.event_type, c.dayn AS cn, c.day AS cday, c.x AS cx,
        |    n.x AS nx
        |  FROM daily c JOIN daily n
        |    ON n.event_type = c.event_type
        |   AND n.dayn BETWEEN c.dayn - 3 AND c.dayn + 3),
        |h AS (
        |  SELECT event_type, cn, cday, cx, nx,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM nb GROUP BY 1, 2, 3, 4, 5),
        |hc AS (
        |  SELECT event_type, cn, cday, cx, nx,
        |    CAST(sum(c) OVER (PARTITION BY event_type, cn ORDER BY nx
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type, cn) AS BIGINT) AS n
        |  FROM h),
        |med AS (
        |  SELECT event_type, cn, cday, cx,
        |    min(CASE WHEN cum * 2 >= n + (n % 2) THEN nx END) AS local_med
        |  FROM hc GROUP BY 1, 2, 3, 4)
        |SELECT event_type, cday AS day, cx AS x, local_med
        |FROM med
        |WHERE cx * 4 >= local_med * 5 OR cx * 5 <= local_med * 4
        |ORDER BY event_type, day""".stripMargin,
    "q222_intermittency" ->
      """WITH dd AS (
        |  SELECT l_partkey AS part, date_trunc('day', l_shipdate) AS day,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q,
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', l_shipdate) AS DATE)) AS dayn
        |  FROM lineitem GROUP BY 1, 2),
        |per AS (
        |  SELECT part, CAST(count(*) AS BIGINT) AS nd,
        |    min(dayn) AS d0, max(dayn) AS d1,
        |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq
        |  FROM dd GROUP BY part),
        |cls AS (
        |  SELECT part, sq,
        |    (d1 - d0 + 1) * 1000 // nd AS adi3,
        |    (nd * sqq - sq * sq) * 1000 // (sq * sq) AS cv2_3
        |  FROM per)
        |SELECT CASE WHEN adi3 < 1320 AND cv2_3 < 490 THEN 'smooth'
        |            WHEN adi3 < 1320 THEN 'erratic'
        |            WHEN cv2_3 < 490 THEN 'intermittent'
        |            ELSE 'lumpy' END AS klass,
        |  CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(sq) AS BIGINT) AS units
        |FROM cls GROUP BY 1 ORDER BY klass""".stripMargin,
    "q216_trailing_spikes" ->
      """WITH daily AS (
        |  SELECT l_suppkey AS supp, date_trunc('day', l_shipdate) AS day,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS cents,
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', l_shipdate) AS DATE)) AS dayn
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (
        |  SELECT supp, day, cents,
        |    CAST(sum(cents) OVER (PARTITION BY supp ORDER BY dayn
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS trail7,
        |    CAST(coalesce(sum(cents) OVER (PARTITION BY supp ORDER BY dayn
        |      RANGE BETWEEN 13 PRECEDING AND 7 PRECEDING), 0) AS BIGINT)
        |      AS prev7
        |  FROM daily)
        |SELECT supp, day, cents, trail7, prev7 FROM t
        |WHERE prev7 > 0 AND trail7 > prev7 * 2
        |ORDER BY supp, day""".stripMargin,
    "q217_mad_outliers" ->
      """WITH h AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |hc AS (
        |  SELECT source, n_chars,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM h),
        |med AS (
        |  SELECT source,
        |    min(CASE WHEN cum * 2 >= n + (n % 2) THEN n_chars END) AS med
        |  FROM hc GROUP BY source),
        |devs AS (
        |  SELECT d.source, abs(d.n_chars - m.med) AS dev, m.med
        |  FROM documents d JOIN med m ON d.source = m.source),
        |dh AS (
        |  SELECT source, dev, CAST(count(*) AS BIGINT) AS c
        |  FROM devs GROUP BY 1, 2),
        |dhc AS (
        |  SELECT source, dev,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY dev
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM dh),
        |mad AS (
        |  SELECT source,
        |    min(CASE WHEN cum * 2 >= n + (n % 2) THEN dev END) AS mad
        |  FROM dhc GROUP BY source)
        |SELECT v.source, max(v.med) AS med, max(a.mad) AS mad,
        |  CAST(sum(CASE WHEN v.dev > a.mad * 3 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_outliers
        |FROM devs v JOIN mad a ON v.source = a.source
        |GROUP BY v.source ORDER BY v.source""".stripMargin,
    "q218_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01',
        |              CAST(date_trunc('day', ts) AS DATE)) AS dayn,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.event_type,
        |    CAST(CASE WHEN b.x < a.x THEN -1 ELSE 1 END AS BIGINT)
        |      * (abs(b.x - a.x) * 1000000 // (b.dayn - a.dayn)) AS slope6
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.dayn < b.dayn),
        |sh AS (
        |  SELECT event_type, slope6, CAST(count(*) AS BIGINT) AS c
        |  FROM slopes GROUP BY 1, 2),
        |shc AS (
        |  SELECT event_type, slope6,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY slope6
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM sh)
        |SELECT event_type, max(n) AS n_pairs,
        |  min(CASE WHEN cum * 2 >= n + (n % 2) THEN slope6 END) AS ts_slope6
        |FROM shc GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q213_rfm_segments" -> {
      def boundsCte(metric: String, src: String, pfx: String) =
        s"""${pfx}h AS (
           |  SELECT $metric AS v, CAST(count(*) AS BIGINT) AS c
           |  FROM $src GROUP BY 1),
           |${pfx}c AS (
           |  SELECT v, CAST(sum(c) OVER (ORDER BY v
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           |    CAST(sum(c) OVER () AS BIGINT) AS n
           |  FROM ${pfx}h),
           |${pfx}b AS (
           |  SELECT min(CASE WHEN cum * 5 >= n THEN v END) AS ${pfx}1,
           |         min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS ${pfx}2,
           |         min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS ${pfx}3,
           |         min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS ${pfx}4
           |  FROM ${pfx}c)""".stripMargin
      def above(metric: String, pfx: String) =
        (1 to 4).map(k =>
          s"CASE WHEN $metric > $pfx$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH o AS (
         |  SELECT o_custkey AS cust, date_trunc('day', o_orderdate) AS day,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |anchor AS (SELECT max(day) AS max_day FROM o),
         |rfm AS (
         |  SELECT cust,
         |    CAST(min(date_diff('day', day, max_day)) AS BIGINT) AS r_days,
         |    CAST(count(*) AS BIGINT) AS f,
         |    CAST(sum(cents) AS BIGINT) AS m_cents,
         |    CAST(sum(cents) AS BIGINT) // 100 AS m_usd
         |  FROM o CROSS JOIN anchor GROUP BY cust, max_day),
         |${boundsCte("r_days", "rfm", "rb")},
         |${boundsCte("f", "rfm", "fb")},
         |${boundsCte("m_usd", "rfm", "mb")}
         |SELECT cust, r_days, f, m_cents,
         |  CAST(5 - (${above("r_days", "rb")}) AS BIGINT) AS r_score,
         |  CAST(1 + (${above("f", "fb")}) AS BIGINT) AS f_score,
         |  CAST(1 + (${above("m_usd", "mb")}) AS BIGINT) AS m_score
         |FROM rfm CROSS JOIN rbb CROSS JOIN fbb CROSS JOIN mbb
         |ORDER BY cust""".stripMargin
    },
    "q214_gap_survival" -> Seq(1L, 6L, 24L, 72L, 168L).map { t =>
      s"""SELECT event_type, CAST($t AS BIGINT) AS t_hours,
         |  CAST(count(*) AS BIGINT) AS n_gaps,
         |  CAST(sum(CASE WHEN gap_hours > $t THEN 1 ELSE 0 END) * 1000
         |       // count(*) AS BIGINT) AS surv_permille
         |FROM (
         |  SELECT event_type,
         |    date_diff('second', ts, lead(ts) OVER (
         |      PARTITION BY user_id, event_type
         |      ORDER BY ts, event_id)) // 3600 AS gap_hours
         |  FROM events)
         |WHERE gap_hours IS NOT NULL GROUP BY event_type""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY event_type, t_hours"),
    "q215_assortativity" ->
      """WITH op AS (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |                  greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
        |adj AS (
        |  SELECT a AS src, b AS dst FROM op UNION ALL SELECT b, a FROM op),
        |deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY src),
        |pairs AS (
        |  SELECT dx.d AS dx, dy.d AS dy
        |  FROM adj JOIN deg dx ON adj.src = dx.src
        |           JOIN deg dy ON adj.dst = dy.src),
        |m AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
        |    CAST(sum(dx * dy) AS HUGEINT) AS sxy,
        |    CAST(sum(dx * dx) AS HUGEINT) AS sxx,
        |    CAST(sum(dy * dy) AS HUGEINT) AS syy
        |  FROM pairs),
        |d AS (
        |  SELECT CAST(n AS BIGINT) AS n_edges,
        |    n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS dxx, n * syy - sy * sy AS dyy
        |  FROM m)
        |SELECT n_edges,
        |  CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END AS BIGINT)
        |    * CAST((((abs(num) * abs(num) * 1000) // dxx) * 1000) // dyy
        |           AS BIGINT) AS r2s6
        |FROM d WHERE dxx > 0 AND dyy > 0""".stripMargin,
    "q210_ks_drift" ->
      """WITH hist AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |spine AS (SELECT DISTINCT n_chars FROM documents),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |grid AS (
        |  SELECT s.source, v.n_chars, coalesce(h.cnt, 0) AS cnt
        |  FROM spine v CROSS JOIN srcs s
        |  LEFT JOIN hist h ON h.source = s.source AND h.n_chars = v.n_chars),
        |cum AS (
        |  SELECT source, n_chars,
        |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM grid),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.n_chars,
        |    abs(a.cum * b.n - b.cum * a.n) AS d, a.n AS n_a, b.n AS n_b
        |  FROM cum a JOIN cum b
        |    ON a.n_chars = b.n_chars AND a.source < b.source),
        |m0 AS (
        |  SELECT src_a, src_b, max(n_a) AS n_a, max(n_b) AS n_b,
        |    max(d) AS dmax
        |  FROM pairs GROUP BY src_a, src_b),
        |m AS (
        |  SELECT m0.src_a, m0.src_b, m0.n_a, m0.n_b, m0.dmax,
        |    min(p.n_chars) AS at_chars
        |  FROM m0 JOIN pairs p
        |    ON p.src_a = m0.src_a AND p.src_b = m0.src_b AND p.d = m0.dmax
        |  GROUP BY m0.src_a, m0.src_b, m0.n_a, m0.n_b, m0.dmax)
        |SELECT src_a, src_b,
        |  CAST((CAST(dmax AS HUGEINT) * 1000000)
        |       // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks6,
        |  at_chars
        |FROM m ORDER BY src_a, src_b""".stripMargin,
    "q211_abc_classes" ->
      """WITH rev AS (
        |  SELECT l_partkey AS part,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT part, rev,
        |    CAST(sum(rev) OVER (ORDER BY rev DESC, part
        |                        ROWS UNBOUNDED PRECEDING) - rev
        |         AS BIGINT) AS rev_above,
        |    CAST(sum(rev) OVER () AS BIGINT) AS total
        |  FROM rev)
        |SELECT part, rev,
        |  CASE WHEN rev_above * 5 < total * 4 THEN 'A'
        |       WHEN rev_above * 20 < total * 19 THEN 'B'
        |       ELSE 'C' END AS abc
        |FROM c ORDER BY part""".stripMargin,
    "q212_autocorr" -> Seq(1, 7).map { lag =>
      s"""SELECT event_type, CAST($lag AS BIGINT) AS lag, n,
         |  CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END AS BIGINT)
         |    * CAST((CAST(num AS HUGEINT) * num * 1000000)
         |           // (CAST(dxx AS HUGEINT) * dyy) AS BIGINT) AS r2s6
         |FROM (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) * sum(x * y) - sum(x) * sum(y) AS num,
         |    CAST(count(*) AS BIGINT) * sum(x * x) - sum(x) * sum(x) AS dxx,
         |    CAST(count(*) AS BIGINT) * sum(y * y) - sum(y) * sum(y) AS dyy
         |  FROM (
         |    SELECT event_type, x,
         |      lead(x, $lag) OVER (PARTITION BY event_type ORDER BY day) AS y
         |    FROM (
         |      SELECT event_type, date_trunc('day', ts) AS day,
         |        CAST(count(*) AS BIGINT) AS x
         |      FROM events GROUP BY 1, 2))
         |  WHERE y IS NOT NULL GROUP BY event_type)
         |WHERE dxx > 0 AND dyy > 0""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY event_type, lag"),
    "q206_chi_square" ->
      """WITH h AS (
        |  SELECT n_chars, CAST(count(*) AS BIGINT) AS c FROM documents
        |  GROUP BY n_chars),
        |cum AS (
        |  SELECT n_chars, c,
        |    CAST(sum(c) OVER (ORDER BY n_chars
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM h),
        |b AS (
        |  SELECT min(CASE WHEN cum * 4 >= n THEN n_chars END) AS b1,
        |         min(CASE WHEN cum * 4 >= n * 2 THEN n_chars END) AS b2,
        |         min(CASE WHEN cum * 4 >= n * 3 THEN n_chars END) AS b3
        |  FROM cum),
        |cells AS (
        |  SELECT source,
        |    CAST(CASE WHEN n_chars > b1 THEN 1 ELSE 0 END
        |       + CASE WHEN n_chars > b2 THEN 1 ELSE 0 END
        |       + CASE WHEN n_chars > b3 THEN 1 ELSE 0 END AS BIGINT)
        |      AS bucket,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM documents CROSS JOIN b GROUP BY 1, 2),
        |t AS (
        |  SELECT source, bucket, o,
        |    CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS r,
        |    CAST(sum(o) OVER (PARTITION BY bucket) AS BIGINT) AS c,
        |    CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM cells)
        |SELECT source, bucket, o,
        |  CAST((CAST(o * n - r * c AS HUGEINT) * (o * n - r * c) * 1000000)
        |       // (CAST(n AS HUGEINT) * r * c) AS BIGINT) AS contrib6
        |FROM t ORDER BY source, bucket""".stripMargin,
    "q207_l_diversity" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  c_mktsegment AS segment,
        |  CAST(count(*) AS BIGINT) AS k,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
        |       AS BIGINT) AS l,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) < 3
        |    AS risky
        |FROM customer GROUP BY 1, 2 ORDER BY nation, segment""".stripMargin,
    "q208_item_cf" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
        |  FROM lineitem),
        |support AS (
        |  SELECT part, CAST(count(*) AS BIGINT) AS ca FROM op GROUP BY part),
        |pairs AS (
        |  SELECT x.part AS pa, y.part AS pb, CAST(count(*) AS BIGINT) AS cab
        |  FROM op x JOIN op y ON x.ok = y.ok AND x.part < y.part
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |directed AS (
        |  SELECT pa AS item, pb AS rec, cab FROM pairs
        |  UNION ALL SELECT pb, pa, cab FROM pairs),
        |scored AS (
        |  SELECT d.item, d.rec, d.cab,
        |    d.cab * d.cab * 1000000 // (sa.ca * sb.ca) AS score6
        |  FROM directed d
        |  JOIN support sa ON sa.part = d.item AND sa.ca >= 5
        |  JOIN support sb ON sb.part = d.rec),
        |r AS (
        |  SELECT item, rec, cab, score6,
        |    CAST(row_number() OVER (PARTITION BY item
        |                            ORDER BY score6 DESC, rec) AS INTEGER)
        |      AS rank
        |  FROM scored)
        |SELECT item, rec, cab, score6, rank FROM r
        |WHERE rank <= 3 ORDER BY item, rank""".stripMargin,
    "q173_harmonic_centrality" -> harmonicOracleSql(hops = 2),
    "q186_hits" -> hitsOracleSql(rounds = 2),
    "q187_mmr_rerank" -> mmrOracleSql(k = 10),
    // q32's in-cell argmax CTE, self-joined on the reversed pair
    "q188_mutual_nn" ->
      s"""WITH c AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${LlmQueries.cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id),
         |nn AS (
         |  SELECT vec_id, nn_id FROM c
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY cos DESC, nn_id) = 1)
         |SELECT x.vec_id AS va, x.nn_id AS vb
         |FROM nn x JOIN nn y
         |  ON x.nn_id = y.vec_id AND y.nn_id = x.vec_id
         | AND x.vec_id < y.vec_id""".stripMargin,
    "q174_dim_health" ->
      """WITH ex AS (
        |  SELECT unnest(generate_series(1, len(embedding))) AS i, embedding
        |  FROM embeddings),
        |x AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS x6
        |  FROM ex)
        |SELECT dim, count(*) AS n,
        |  CAST(sum(x6) AS BIGINT) AS sum6,
        |  CAST(sum(x6 * x6) AS BIGINT) AS sumsq6,
        |  CAST(sum(CASE WHEN abs(x6) < 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS near_zero
        |FROM x GROUP BY dim""".stripMargin,
    "q175_winsorized" ->
      """WITH h AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT source, n_chars, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM h),
        |b AS (
        |  SELECT source, max(n) AS n_docs,
        |    min(CASE WHEN cum * 20 >= n THEN n_chars END) AS p05,
        |    min(CASE WHEN cum * 20 >= n * 19 THEN n_chars END) AS p95
        |  FROM c GROUP BY source)
        |SELECT d.source, max(b.n_docs) AS n_docs, max(b.p05) AS p05,
        |  max(b.p95) AS p95,
        |  CAST(sum(greatest(b.p05, least(b.p95, d.n_chars))) * 1000
        |       // count(*) AS BIGINT) AS wins_mean_x1000
        |FROM documents d JOIN b ON d.source = b.source
        |GROUP BY d.source""".stripMargin,
    "q176_seasonal_anomaly" ->
      """WITH cells AS (
        |  SELECT date_trunc('day', ts)::TIMESTAMP AS day,
        |    CAST(hour(ts) AS INT) AS hour, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT day, hour, cnt, dayofweek(day) AS dow FROM cells),
        |r AS (
        |  SELECT dow, hour, cnt,
        |    row_number() OVER (PARTITION BY dow, hour ORDER BY cnt) AS rn,
        |    count(*) OVER (PARTITION BY dow, hour) AS n
        |  FROM d),
        |med AS (
        |  SELECT dow, hour, cnt AS med FROM r
        |  WHERE rn * 2 = n + (n % 2))
        |SELECT d.day, d.hour, d.cnt, m.med,
        |  d.cnt >= m.med * 2 AS spike, d.cnt * 2 <= m.med AS drop
        |FROM d JOIN med m ON d.dow = m.dow AND d.hour = m.hour""".stripMargin,
    "q177_decayed_engagement" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS day FROM events),
        |a AS (SELECT max(day) AS max_day FROM e),
        |w AS (
        |  SELECT user_id,
        |    1000000 // (CAST(1 AS BIGINT) << least(
        |      CAST(date_diff('day', day, (SELECT max_day FROM a)) AS BIGINT) // 7,
        |      20)) AS w
        |  FROM e)
        |SELECT user_id, CAST(sum(w) AS BIGINT) AS score,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY user_id
        |ORDER BY score DESC, user_id LIMIT 25""".stripMargin,
    "q179_ccdf_powers" ->
      """WITH ks AS (
        |  SELECT unnest(generate_series(4,
        |    least(14, CAST(length(bin(n_chars)) AS INT) - 1))) AS k
        |  FROM documents WHERE n_chars >= 16),
        |c AS (SELECT CAST(k AS INT) AS k, CAST(count(*) AS BIGINT) AS cnt
        |      FROM ks GROUP BY 1)
        |SELECT k, CAST(1 AS BIGINT) << k AS threshold, cnt,
        |  cnt * 1000 // lag(cnt) OVER (ORDER BY k) AS ratio_permille
        |FROM c""".stripMargin,
    "q178_quantile_norm" ->
      """WITH sh AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |sc AS (
        |  SELECT source, n_chars,
        |    (CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT)
        |       - cnt) * 1000
        |      // CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS permille
        |  FROM sh),
        |gh AS (
        |  SELECT n_chars, CAST(count(*) AS BIGINT) AS gcnt
        |  FROM documents GROUP BY 1),
        |gc AS (
        |  SELECT n_chars, gcnt,
        |    CAST(sum(gcnt) OVER (ORDER BY n_chars) AS BIGINT) AS gcum,
        |    CAST(sum(gcnt) OVER () AS BIGINT) AS nn
        |  FROM gh),
        |gm AS (
        |  SELECT unnest(generate_series(
        |      ((gcum - gcnt) * 1000 + nn - 1) // nn,
        |      (gcum * 1000 + nn - 1) // nn - 1)) AS permille,
        |    n_chars AS norm_chars
        |  FROM gc
        |  WHERE ((gcum - gcnt) * 1000 + nn - 1) // nn
        |     <= (gcum * 1000 + nn - 1) // nn - 1)
        |SELECT d.doc_id, d.source, d.n_chars, s.permille, g.norm_chars
        |FROM documents d
        |JOIN sc s ON d.source = s.source AND d.n_chars = s.n_chars
        |JOIN gm g ON g.permille = s.permille""".stripMargin,
    "q180_heaps_law" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tri
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
        |first AS (SELECT tri, min(doc_id) AS first_doc FROM g GROUP BY tri),
        |s AS (SELECT first_doc // 50 AS slab, CAST(count(*) AS BIGINT) AS new_terms
        |      FROM first GROUP BY 1)
        |SELECT slab, new_terms,
        |  CAST(sum(new_terms) OVER (ORDER BY slab) AS BIGINT) AS cum_terms
        |FROM s""".stripMargin,
    "q183_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS p_id, ts AS p_ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS value_micros
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id AS v_id, ts AS v_ts
        |  FROM events WHERE event_type = 'view'),
        |t AS (
        |  SELECT p.user_id, p.p_id, p.value_micros, v.v_id, v.v_ts
        |  FROM p JOIN v ON p.user_id = v.user_id
        |   AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 7 DAY),
        |c AS (
        |  SELECT user_id,
        |    value_micros // (count(*) OVER (PARTITION BY p_id))
        |      + CASE WHEN row_number() OVER (PARTITION BY p_id ORDER BY v_ts, v_id) = 1
        |             THEN value_micros % (count(*) OVER (PARTITION BY p_id))
        |             ELSE 0 END AS credit
        |  FROM t)
        |SELECT user_id, CAST(sum(credit) AS BIGINT) AS credit_micros,
        |  CAST(count(*) AS BIGINT) AS n_touches
        |FROM c GROUP BY user_id
        |ORDER BY credit_micros DESC, user_id LIMIT 50""".stripMargin,
    "q184_int8_quant" ->
      """WITH ex AS (
        |  SELECT unnest(generate_series(1, len(embedding))) AS i, embedding
        |  FROM embeddings),
        |x AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS x6
        |  FROM ex),
        |st AS (
        |  SELECT dim, min(x6) AS mn, max(x6) AS mx, max(x6) - min(x6) AS span
        |  FROM x GROUP BY dim),
        |qn AS (
        |  SELECT x.dim, st.mn, st.mx,
        |    CASE WHEN st.span = 0 THEN 0
        |         ELSE (x.x6 - st.mn) * 255 // st.span END AS q,
        |    x.x6, st.span
        |  FROM x JOIN st ON x.dim = st.dim)
        |SELECT dim, max(mn) AS mn, max(mx) AS mx,
        |  CAST(sum(abs(x6 - (mn + q * span // 255))) AS BIGINT) AS total_err,
        |  CAST(max(abs(x6 - (mn + q * span // 255))) AS BIGINT) AS max_err
        |FROM qn GROUP BY dim""".stripMargin,
    "q189_gini_length" ->
      """WITH h AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cm AS (
        |  SELECT source, n_chars, c,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) - c
        |      AS prev,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM h),
        |m AS (
        |  SELECT source, max(n) AS n_docs,
        |    CAST(sum(n_chars * c) AS BIGINT) AS sum_chars,
        |    CAST(sum(n_chars * (2 * (prev * c + c * (c + 1) // 2)
        |                        - c * (n + 1))) AS BIGINT) AS num
        |  FROM cm GROUP BY source)
        |SELECT source, n_docs,
        |  1000 * num // (n_docs * sum_chars) AS gini_permille
        |FROM m""".stripMargin,
    "q190_source_diversity" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS ns
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(sum(ns) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(1000 * sum(ns) * sum(ns) // sum(ns * ns) AS BIGINT)
        |    AS eff_sources_x1000
        |FROM g GROUP BY lang""".stripMargin,
    "q191_quality_dup_calibration" ->
      """WITH t AS (
        |  SELECT doc_id, md5(text) AS fp,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS score
        |  FROM documents),
        |h AS (SELECT score, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        |cm AS (
        |  SELECT score, c,
        |    CAST(sum(c) OVER (ORDER BY score) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM h),
        |d AS (SELECT score, (10 * (cum - c)) // n AS decile FROM cm),
        |f AS (SELECT fp, count(*) AS m FROM t GROUP BY fp)
        |SELECT d.decile, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(1000 * sum(CASE WHEN f.m > 1 THEN 1 ELSE 0 END) // count(*)
        |       AS BIGINT) AS dup_permille
        |FROM t JOIN d USING (score) JOIN f USING (fp)
        |GROUP BY d.decile""".stripMargin,
    "q205_predictability" ->
      """WITH t AS (
        |  SELECT user_id, event_type AS e1,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS e2
        |  FROM events),
        |c AS (SELECT user_id, e1, e2, CAST(count(*) AS BIGINT) AS c
        |      FROM t WHERE e2 IS NOT NULL GROUP BY 1, 2, 3),
        |u AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_trans,
        |    CAST(sum(c * c) AS BIGINT) AS sq
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n_trans,
        |  1000 * n_trans * n_trans // sq AS eff_trans_x1000
        |FROM u WHERE n_trans >= 20
        |ORDER BY eff_trans_x1000, user_id LIMIT 25""".stripMargin,
    "q204_stock_floor" ->
      """WITH d AS (
        |  SELECT l_suppkey AS supp, date_trunc('day', l_shipdate) AS day,
        |    CAST(l_quantity AS BIGINT) AS d
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_suppkey, date_trunc('day', o_orderdate),
        |    -CAST(l_quantity AS BIGINT)
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |dd AS (SELECT supp, day, CAST(sum(d) AS BIGINT) AS delta
        |       FROM d GROUP BY 1, 2),
        |b1 AS (
        |  SELECT supp, day,
        |    CAST(sum(delta) OVER (PARTITION BY supp ORDER BY day
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        |  FROM dd),
        |b AS (
        |  SELECT supp, day, p,
        |    least(CAST(0 AS BIGINT),
        |          CAST(min(p) OVER (PARTITION BY supp ORDER BY day
        |                            ROWS UNBOUNDED PRECEDING) AS BIGINT))
        |      AS floor_neg
        |  FROM b1),
        |f AS (
        |  SELECT supp, p - floor_neg AS balance,
        |    row_number() OVER (PARTITION BY supp ORDER BY day DESC) AS rn
        |  FROM b)
        |SELECT supp, balance AS final_balance FROM f WHERE rn = 1
        |ORDER BY final_balance DESC, supp LIMIT 30""".stripMargin,
    "q201_topic_purity" -> {
      val ivf = LlmQueries.ivfAssignCtesK(4, "embeddings")
      s"""WITH $ivf,
         |lc AS (
         |  SELECT a.j AS cell, e.label, CAST(count(*) AS BIGINT) AS nl
         |  FROM assign a JOIN embeddings e USING (vec_id)
         |  GROUP BY 1, 2)
         |SELECT cell, CAST(sum(nl) AS BIGINT) AS n_vecs,
         |  CAST(count(*) AS BIGINT) AS n_labels,
         |  CAST(1000 * max(nl) // sum(nl) AS BIGINT) AS purity_permille,
         |  CAST(1000 * sum(nl) * sum(nl) // sum(nl * nl) AS BIGINT)
         |    AS eff_labels_x1000
         |FROM lc GROUP BY cell""".stripMargin
    },
    "q202_source_percentile" ->
      """WITH h AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |cm AS (
        |  SELECT source, n_chars, c,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT)
        |      AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM h),
        |med AS (
        |  SELECT source,
        |    min(CASE WHEN cum * 2 >= n + (n % 2) THEN n_chars END)
        |      AS median_chars
        |  FROM cm GROUP BY source),
        |g AS (
        |  SELECT n_chars, CAST(count(*) AS BIGINT) AS gc FROM documents
        |  GROUP BY 1),
        |gb AS (
        |  SELECT n_chars,
        |    CAST(sum(gc) OVER (ORDER BY n_chars) AS BIGINT) - gc AS gbelow,
        |    CAST(sum(gc) OVER () AS BIGINT) AS n
        |  FROM g)
        |SELECT m.source, m.median_chars, gb.gbelow * 1000 // gb.n
        |  AS global_permille
        |FROM med m JOIN gb ON gb.n_chars = m.median_chars""".stripMargin,
    "q203_bot_screen" ->
      """WITH fp AS (
        |  SELECT user_id,
        |    md5(string_agg(s, ',' ORDER BY s)) AS fp
        |  FROM (SELECT user_id,
        |          event_type || ':' || length(bin(count(*))) AS s
        |        FROM events GROUP BY user_id, event_type)
        |  GROUP BY user_id),
        |sh AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_users
        |       FROM fp GROUP BY fp HAVING count(*) >= 2)
        |SELECT f.fp, f.user_id, s.n_users
        |FROM fp f JOIN sh s USING (fp)""".stripMargin,
    // q188's mutual-pair CTEs + the q74 recursive-reachability labeling
    "q198_semantic_clusters" ->
      s"""WITH RECURSIVE c AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${LlmQueries.cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id),
         |nn AS (
         |  SELECT vec_id, nn_id FROM c
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY cos DESC, nn_id) = 1),
         |mp AS (
         |  SELECT x.vec_id AS id_a, x.nn_id AS id_b
         |  FROM nn x JOIN nn y
         |    ON x.nn_id = y.vec_id AND y.nn_id = x.vec_id
         |   AND x.vec_id < y.vec_id),
         |e AS (SELECT id_a AS src, id_b AS dst FROM mp
         |      UNION ALL SELECT id_b, id_a FROM mp),
         |reach(src, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.src),
         |lab AS (SELECT src AS vec_id, min(lbl) AS cluster_id
         |        FROM reach GROUP BY src)
         |SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
         |FROM lab""".stripMargin,
    "q199_label_centroids" ->
      """WITH ex AS (
        |  SELECT label, unnest(generate_series(1, len(embedding))) AS i,
        |    embedding
        |  FROM embeddings),
        |x AS (
        |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS x6
        |  FROM ex),
        |cent AS (
        |  SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x6) AS BIGINT) AS s6
        |  FROM x GROUP BY 1, 2),
        |c2 AS (
        |  SELECT label, dim, n,
        |    CASE WHEN s6 < 0 THEN -((-s6) // n) ELSE s6 // n END AS c6
        |  FROM cent),
        |nm AS (
        |  SELECT label, max(n) AS n_vecs,
        |    CAST(sum(c6 * c6) AS BIGINT) AS centroid_sq_norm
        |  FROM c2 GROUP BY label),
        |dv AS (
        |  SELECT x.label,
        |    CAST(sum((x.x6 - c.c6) * (x.x6 - c.c6)) AS BIGINT) AS tot
        |  FROM x JOIN c2 c ON x.label = c.label AND x.dim = c.dim
        |  GROUP BY x.label)
        |SELECT nm.label, nm.n_vecs, nm.centroid_sq_norm,
        |  dv.tot // (nm.n_vecs * 64) AS avg_sq_dev
        |FROM nm JOIN dv ON nm.label = dv.label""".stripMargin,
    "q200_hard_negatives" -> {
      val ivf = LlmQueries.ivfAssignCtesK(4, "embeddings")
      s"""WITH $ivf,
         |lab AS (
         |  SELECT a.vec_id, a.j, e.label, a.embedding
         |  FROM assign a JOIN embeddings e USING (vec_id)),
         |p AS (
         |  SELECT a.vec_id, a.label, b.vec_id AS cand_id,
         |    b.label AS cand_label,
         |    ${LlmQueries.cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM lab a JOIN lab b ON a.j = b.j AND a.vec_id <> b.vec_id),
         |base AS (SELECT DISTINCT vec_id, label FROM p),
         |hn AS (
         |  SELECT vec_id, cand_id AS hard_neg_id, cos AS hard_neg_cos
         |  FROM p WHERE cand_label <> label
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY cos DESC, cand_id) = 1),
         |pp AS (
         |  SELECT vec_id, cand_id AS pos_id, cos AS pos_cos
         |  FROM p WHERE cand_label = label
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY cos DESC, cand_id) = 1)
         |SELECT b.vec_id, b.label, hn.hard_neg_id, hn.hard_neg_cos,
         |  pp.pos_id, pp.pos_cos
         |FROM base b
         |LEFT JOIN hn USING (vec_id) LEFT JOIN pp USING (vec_id)""".stripMargin
    },
    "q196_window_suite" ->
      """SELECT user_id, event_id,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(floor(percent_rank() OVER w * 1000) AS BIGINT) AS pr_permille,
        |  CAST(floor(cume_dist() OVER w * 1000) AS BIGINT) AS cd_permille
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin,
    "q197_rendezvous_reshard" ->
      """WITH sh AS (
        |  SELECT doc_id, CAST(s.shard AS INT) AS shard,
        |    ('0x' || substring(md5(doc_id || ':' || s.shard), 1, 15))::BIGINT AS w
        |  FROM documents, LATERAL unnest(generate_series(0, 16)) AS s(shard)),
        |oldp AS (
        |  SELECT doc_id, shard AS old_shard FROM sh WHERE shard < 16
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |                             ORDER BY w DESC, shard DESC) = 1),
        |newp AS (
        |  SELECT doc_id, shard AS new_shard FROM sh
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |                             ORDER BY w DESC, shard DESC) = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN o.old_shard <> n.new_shard THEN 1 ELSE 0 END)
        |       AS BIGINT) AS hrw_moved,
        |  CAST(sum(CASE WHEN o.doc_id % 16 <> o.doc_id % 17 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS mod_moved
        |FROM oldp o JOIN newp n USING (doc_id)""".stripMargin,
    "q194_text_lines" ->
      s"""SELECT md5(line) AS fp, CAST(length(line) AS BIGINT) AS n_chars
        |FROM read_csv('${Tables.fixtureDir}/journey.csv',
        |  columns={'line': 'VARCHAR'}, delim='', quote='', header=false)"""
        .stripMargin,
    "q192_k_anonymity" ->
      """SELECT event_type, CAST(hour(ts) AS INT) AS hour,
        |  CAST(length(bin(CAST(floor(value) AS BIGINT))) - 1 AS INT) AS vbucket,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  count(*) < 5 AS at_risk
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q195_funnel_latency" ->
      """WITH fv AS (
        |  SELECT user_id, min(epoch_us(ts)) AS v_us
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |d AS (
        |  SELECT e.user_id,
        |    min(epoch_us(e.ts) - fv.v_us) // 60000000 AS d_min
        |  FROM events e JOIN fv USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.v_us
        |  GROUP BY e.user_id),
        |h AS (SELECT d_min, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        |cm AS (
        |  SELECT d_min, c,
        |    CAST(sum(c) OVER (ORDER BY d_min) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM h)
        |SELECT max(n) AS n_conversions,
        |  min(CASE WHEN cum * 2 >= n THEN d_min END) AS p50_min,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN d_min END) AS p90_min
        |FROM cm""".stripMargin,
    "q181_event_paths" ->
      """WITH t AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS cnt
        |FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY e1, e2, e3
        |ORDER BY cnt DESC, e1, e2, e3 LIMIT 25""".stripMargin)
}
