package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Analytics operators beyond the warehouse/LLM families: multi-criteria
  * skyline, graph link prediction, sweep-line concurrency, digit-law data
  * quality, exact distributional outliers, and Markov transition matrices.
  * Every query keeps the oracle-portability discipline: integer / decimal
  * arithmetic end to end, deterministic tiebreaks on every ordering. */
object AnalyticsQueries {

  /** Price in exact integer cents: double → DECIMAL(18,2) → ×100 → BIGINT.
    * The test data carries ≤2 decimals, so the decimal cast is exact and
    * both engines land on the same integer. */
  private def cents(c: Column): Column =
    c.cast("decimal(18,2)").multiply(100).cast("long")

  /** Distinct undirected co-purchase edges (pa < pb), read from the
    * SHARED written table ([[graft.sources.CoPurchaseGraph]]). */
  private def coPurchaseDistinct(s: SparkSession, dir: String): DataFrame =
    graft.sources.CoPurchaseGraph.distinctEdges(s, dir)

  // ------------------------------------------------------------- queries

  /** q152: the part catalog's Pareto frontier — parts where no other part
    * both sells more (total quantity) and sells cheaper (minimum price).
    * [[graft.operators.Skyline.skyline2D]]: two-phase sort-scan, no
    * shuffle, no window, no quadratic join; the oracle pays the quadratic
    * NOT EXISTS price the operator exists to avoid. Metrics are exact
    * integers (unit quantities; prices in cents). */
  def q152Skyline(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        min(cents(col("l_extendedprice"))).as("min_cents"))
    graft.operators.Skyline.skyline2D(m, "l_partkey", "sum_qty", "min_cents")
      .select(col("l_partkey").as("part"), col("sum_qty"), col("min_cents"))
  }

  /** q153: link prediction over the distinct co-purchase graph — the
    * resource-allocation index (Zhou/Lü/Zhang 2009: Σ_z 1/deg(z) over
    * common neighbors z, the degree-discounted cousin of Adamic-Adar that
    * needs no logarithm) in exact fixed point (10^12 // deg). The scale
    * shape — hub cap BEFORE the two-hop join, per-pair aggregation BEFORE
    * the existing-edge anti-join, no persists (ReuseExchange serves both
    * self-join sides from one shuffle) — lives in
    * [[graft.operators.LinkPredict]]; top 50 by (score, pa, pb) is a
    * deterministic TakeOrderedAndProject. */
  def q153LinkPredict(s: SparkSession, dir: String): DataFrame =
    graft.operators.LinkPredict.topPredictions(
      coPurchaseDistinct(s, dir), hubCap = 200, k = 50)

  /** q154: peak supplier backlog by sweep line — each lineitem is "open"
    * from its order date to its ship date; exploding intervals into
    * +1/−1 deltas and running a RANGE-framed cumulative sum per supplier
    * gives the concurrency at every instant (the frame is the orderBy
    * DEFAULT — RANGE UNBOUNDED PRECEDING — so tied timestamps all land in
    * the same sum and the result is order-deterministic; ship-date deltas
    * count at their own instant, i.e. end-exclusive intervals). Suppliers
    * and lineitems both scale with SF, so per-supplier timelines stay
    * ~constant-size — the same per-key-bounded window justification as
    * sessionize. */
  def q154BacklogPeak(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("supp"), col("o_orderdate").as("od"),
        col("l_shipdate").as("sd"))
    val deltas = li.select(col("supp"), col("od").as("ts"), lit(1L).as("delta"))
      .union(li.select(col("supp"), col("sd").as("ts"), lit(-1L).as("delta")))
    val w = Window.partitionBy("supp").orderBy("ts")
    deltas.withColumn("conc", sum("delta").over(w))
      .groupBy("supp").agg(max("conc").as("peak"))
      .select(col("supp").as("supplier"), col("peak"))
  }

  /** q155: Benford-style first-digit profile of the price column — the
    * classic fabricated-data screen, as a data-quality operator. Exact:
    * the leading digit comes from the DECIMAL integer part as a string,
    * the share is integer permille. The total flows through a window over
    * the 9 POST-AGGREGATE digit rows (bounded, like the mix queries). */
  def q155Benford(s: SparkSession, dir: String): DataFrame = {
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(s, dir)
      .select(substring(floor(col("l_extendedprice").cast("decimal(18,2)"))
        .cast("long").cast("string"), 1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum("cnt").over(all))
      .withColumn("permille", expr("CAST((1000 * cnt) DIV total AS BIGINT)"))
      .select("digit", "cnt", "permille")
  }

  /** q156: exact 2σ outliers without a single float — a document is an
    * outlier iff |x − μ| > 2σ over its source, tested as the equivalent
    * integer inequality (n·x − S)² > 4·(n·Q − S²) where S=Σx, Q=Σx²
    * (both sides exact BIGINTs at bench scale; at warehouse scale the
    * same test lifts to DECIMAL(38,0) unchanged). One aggregate pass
    * builds the per-source moment table (bounded by #sources →
    * broadcast); one scan flags. Zero IEEE rounding, so the oracle
    * agrees bit for bit — which no sqrt-based z-score can promise. */
  def q156CharOutliers(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val moments = docs.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("n_chars")).as("s1"),
      sum(col("n_chars") * col("n_chars")).as("s2"))
    docs.join(broadcast(moments), "source")
      .filter((col("n") * col("n_chars") - col("s1")) *
        (col("n") * col("n_chars") - col("s1")) >
        lit(4L) * (col("n") * col("s2") - col("s1") * col("s1")))
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** q157: first-order Markov transition matrix over user event streams —
    * next-event via `lead` on the per-user timeline (total order: ts then
    * the unique event_id, so ties cannot reorder), transition counts
    * grouped globally, probabilities as integer permille over a window
    * partitioned by the POST-AGGREGATE from-state (bounded by the event
    * vocabulary). Per-user windows are per-key-bounded, as sessionize. */
  def q157Markov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(Window.partitionBy("from_type")))
      .withColumn("permille", expr("CAST((1000 * n) DIV total AS BIGINT)"))
      .select("from_type", "to_type", "n", "permille")
  }

  /** q158: top principal component of the embedding cloud — exact
    * distributed moments (DECIMAL fixed point, O(d²·partitions) shuffle)
    * + a bounded d×d integer power iteration on the driver
    * ([[graft.operators.Pca.topComponent]]); the oracle recomputes the
    * moments and unrolls the same 3 rounds in HUGEINT CTEs. */
  def q158PcaTop(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.topComponent(
      Tables.embeddings(s, dir), "embedding", rounds = 3)

  /** q159: drift extremes along the top principal axis — the 10 most-
    * positive and 10 most-negative vectors by principal score, the 1-D
    * projection a curation pipeline reads to see WHAT the dominant
    * variance direction is made of. The loadings come from
    * [[graft.operators.Pca.topComponent]] (bounded d-row collect) and
    * fold into the scan as a literal array; the score is the native
    * left-fold dot ([[graft.expressions.ArrayDotProduct]] — the same
    * bit-exactness contract as the cosine queries), so the plan is
    * scan → project → two TakeOrderedAndProject heads, no shuffle of
    * the corpus. */
  def q159PcaExtremes(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val l = graft.operators.Pca.topComponent(emb, "embedding", rounds = 3)
      .orderBy("dim").collect().map(_.getLong(1))
    val lv = array(l.map(x => lit(x.toDouble)): _*)
    val scored = emb.select(col("vec_id"),
      graft.expressions.GraftFunctions.dotNative(col("embedding"), lv).as("score"))
    val hi = scored.orderBy(col("score").desc, col("vec_id")).limit(10)
      .select(lit("hi").as("side"), col("vec_id"), col("score"))
    val lo = scored.orderBy(col("score").asc, col("vec_id")).limit(10)
      .select(lit("lo").as("side"), col("vec_id"), col("score"))
    hi.unionAll(lo)
  }

  /** q162: market-basket association rules (the Apriori 2-itemset surface):
    * for every directed part pair a→b, support (baskets containing both),
    * confidence (share of a-baskets that also hold b) and lift
    * (confidence over b's base rate) — the cross-sell/aisle-placement
    * classic, and the basket cousin of q160's word-pair PMI (lift IS
    * exp(PMI) over baskets).
    *
    * Exactness: conf_permille = c_ab·1000 DIV c_a and lift_x1000 =
    * c_ab·N·1000 DIV (c_a·c_b), all integer (DECIMAL(38,0) products so
    * the arithmetic survives warehouse-scale counts; DuckDB replays in
    * HUGEINT). Top 50 by (lift, conf, ante, cons) is deterministic.
    *
    * Scale shape: baskets are per-order DISTINCT part sets (bounded by
    * order size, the coPurchase justification); pair counts come from the
    * set-explode with pa<pb — never an unbounded self-join; item supports
    * are a parts-sized equi-join (AQE broadcasts); N is one scalar
    * crossJoin; min-support c_ab ≥ 3 prunes the rule stream before the
    * joins. TakeOrderedAndProject caps the output. */
  def q162AssocRules(s: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey").distinct()
    val nb = baskets.agg(countDistinct("l_orderkey").as("nb"))
    val itemSup = baskets.groupBy("l_partkey").agg(count(lit(1)).as("c"))
    // per-pair distinct-order support IS the shared table's norders
    val pairSup = graft.sources.CoPurchaseGraph.weighted(s, dir)
      .select(col("pa"), col("pb"), col("norders").as("cab"))
      .filter(col("cab") >= 3)
    val rules = pairSup.select(col("pa").as("ante"), col("pb").as("cons"), col("cab"))
      .unionAll(pairSup.select(col("pb").as("ante"), col("pa").as("cons"), col("cab")))
    rules
      .join(itemSup.select(col("l_partkey").as("ante"), col("c").as("ca")), "ante")
      .join(itemSup.select(col("l_partkey").as("cons"), col("c").as("cb")), "cons")
      .crossJoin(broadcast(nb))
      .withColumn("conf_permille",
        expr("CAST((CAST(cab AS DECIMAL(38,0)) * 1000) DIV ca AS BIGINT)"))
      .withColumn("lift_x1000", expr(
        "CAST((CAST(cab AS DECIMAL(38,0)) * nb * 1000) DIV (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"))
      .orderBy(col("lift_x1000").desc, col("conf_permille").desc,
        col("ante"), col("cons"))
      .limit(50)
      .select("ante", "cons", "cab", "conf_permille", "lift_x1000")
  }

  /** q167: CUSUM change-point detection over the daily event volume — the
    * drift screen a pipeline runs before trusting "this week looks like
    * last week": the cumulative deviation from the global mean peaks at
    * the day the level shifted. Division-free exact form: D_t = n·P_t −
    * t·S (P_t prefix sum through day t, S total, n days) is |n·Σ(x−μ)|
    * scaled by n — same argmax, pure BIGINTs.
    *
    * Scale shape: ONE map-side-combined aggregate collapses the corpus to
    * the per-day series (calendar-bounded at any corpus size); the
    * windows (prefix sum, row index, total, max) all run over that
    * post-aggregate calendar grid — the q58/q155 bounded-global-window
    * justification. */
  def q167CusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val byDay = Window.orderBy("day")
    val all = Window.orderBy("day").rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("p", sum("cnt").over(byDay))
      .withColumn("t", row_number().over(byDay).cast("long"))
      .withColumn("s", sum("cnt").over(all))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("dt", col("n") * col("p") - col("t") * col("s"))
      .withColumn("dev", abs(col("dt")))
      .withColumn("is_peak", col("dev") === max(col("dev")).over(all))
      .select(col("day"), col("cnt"), col("dt"), col("is_peak"))
  }

  /** q169: exact per-source median document length — no sketch, no
    * global sort: the corpus collapses to a (source, n_chars) VALUE
    * histogram in one map-side-combined aggregate, and the median reads
    * off the histogram's running count. The per-source windows run over
    * the post-aggregate histogram — bounded by the length-value domain
    * (a few thousand distinct lengths under any doc-length cap), never
    * by corpus rows, which is what makes an exact median scale where a
    * `percentile_cont` sort cannot. Lower-median convention: the
    * ⌈n/2⌉-th smallest value, deterministic for even n. */
  def q169ExactMedian(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(s, dir)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy("source").orderBy("n_chars")
    val all = Window.partitionBy("source")
    h.withColumn("cum", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over(all))
      .groupBy(col("source"), col("n").as("n_docs"))
      .agg(min(when(col("cum") * 2 >= col("n") + 1, col("n_chars")))
        .as("median_chars"))
      .select("source", "n_docs", "median_chars")
  }

  /** q170: engagement growth curves — per event type, the new and
    * cumulative count of users reaching that interaction for the first
    * time each day ("is acquisition/adoption saturating, per funnel
    * stage"). Exact distributed shape: first-interaction day per
    * (user, type) is ONE map-side-combined min-aggregate (the only
    * corpus-scale pass), new-per-day collapses it to the (type, day)
    * calendar grid, and the cumulative sum runs over that bounded
    * post-aggregate grid (q117's bounded-keyed-window justification) —
    * never a distinct-count over a growing prefix, which would rescan
    * the corpus per day. */
  def q170GrowthCurve(s: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables.events(s, dir)
      .groupBy("user_id", "event_type")
      .agg(min(date_trunc("day", col("ts"))).as("day"))
    val perDay = firstSeen.groupBy("event_type", "day")
      .agg(count(lit(1)).as("new_users"))
    perDay
      .withColumn("cum_users",
        sum("new_users").over(Window.partitionBy("event_type").orderBy("day")))
      .select("event_type", "day", "new_users", "cum_users")
  }

  /** q268: grouped exact OLS — per source, the least-squares fit of
    * token count against character count (the chars-per-token trend a
    * tokenizer-budget planner reads per corpus slice), in closed form
    * with ZERO floating point: slope = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²)
    * and intercept = (Sy·den − num·Sx)/(n·den) as sign·(|·|·10⁶ div ·)
    * fixed-point quotients over DECIMAL(38,0) moments (n ≤ 10⁸ rows and
    * chars ≤ 10⁴ keep every product under 10³⁸). One map-side-combined
    * aggregate per source — five moments, no second pass, the same
    * single-shuffle shape however many rows a source holds. Degenerate
    * sources (constant x) are filtered by den > 0. */
  def q268GroupedOls(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("source"),
      col("n_chars").cast("decimal(38,0)").as("x"),
      size(split(lower(col("text")), " ")).cast("decimal(38,0)").as("y"))
    d.groupBy("source")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .filter(col("den") > 0)
      .withColumn("icpt_num", col("sy") * col("den") - col("num") * col("sx"))
      .withColumn("icpt_den", col("n") * col("den"))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        (when(col("num") < 0, -1L).otherwise(1L) *
          expr("CAST((abs(num) * 1000000) DIV den AS BIGINT)")).as("slope_x1e6"),
        (when(col("icpt_num") < 0, -1L).otherwise(1L) *
          expr("CAST((abs(icpt_num) * 1000000) DIV icpt_den AS BIGINT)"))
          .as("icpt_x1e6"))
      .orderBy("source")
  }

  /** q272: ZIPF SPECTRUM slope — does a source's token-frequency
    * distribution follow a power law, and how steep? Fitted on the
    * FREQUENCY SPECTRUM (count of tokens per log2-frequency bucket),
    * not per-token ranks: the rank formulation needs a full
    * frequency-desc sort per source (a scale-key window this repo's
    * plan guard bans), while the spectrum is two keyed aggregates and
    * ≤ 64 points per source at ANY corpus size. Log-log fit with ZERO
    * floats: ilog2(x) = length(bin(x)) − 1 — a deterministic string
    * length in both engines — and the q268 closed-form OLS over
    * DECIMAL(38,0) moments. A Zipfian source shows slope ≈ −(1 + 1/s);
    * a flat spectrum (synthetic/templated text) shows up immediately —
    * the corpus-health read this query exists for. */
  def q272ZipfSpectrum(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
    val freq = toks.groupBy("source", "tok").agg(count(lit(1)).as("f"))
    val pts = freq.groupBy(col("source"),
        (length(bin(col("f"))) - 1).cast("decimal(38,0)").as("x"))
      .agg(count(lit(1)).as("nt"))
      .select(col("source"), col("x"),
        (length(bin(col("nt"))) - 1).cast("decimal(38,0)").as("y"))
    pts.groupBy("source")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .filter(col("den") > 0)
      .select(col("source"), col("n").cast("long").as("n_buckets"),
        (when(col("num") < 0, -1L).otherwise(1L) *
          expr("CAST((abs(num) * 1000000) DIV den AS BIGINT)")).as("slope_x1e6"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q268_grouped_ols" -> (q268GroupedOls _),
    "q272_zipf_spectrum" -> (q272ZipfSpectrum _),
    "q152_skyline" -> (q152Skyline _),
    "q162_assoc_rules" -> (q162AssocRules _),
    "q167_cusum_changepoint" -> (q167CusumChangepoint _),
    "q169_exact_median" -> (q169ExactMedian _),
    "q170_growth_curve" -> (q170GrowthCurve _),
    "q153_link_predict" -> (q153LinkPredict _),
    "q154_backlog_peak" -> (q154BacklogPeak _),
    "q155_benford" -> (q155Benford _),
    "q156_char_outliers" -> (q156CharOutliers _),
    "q157_markov" -> (q157Markov _),
    "q158_pca_top" -> (q158PcaTop _),
    "q159_pca_extremes" -> (q159PcaExtremes _))

  // ------------------------------------------------------------- oracles

  val oracles: Map[String, String] = Map(
    "q272_zipf_spectrum" ->
      """WITH f AS (
        |  SELECT source, tok, count(*) AS f
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |pts AS (
        |  SELECT source, CAST(length(bin(f)) - 1 AS HUGEINT) AS x,
        |    CAST(length(bin(count(*))) - 1 AS HUGEINT) AS y
        |  FROM f GROUP BY 1, 2),
        |m AS (
        |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x*y) AS sxy, sum(x*x) AS sxx
        |  FROM pts GROUP BY source),
        |g AS (
        |  SELECT source, n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den
        |  FROM m WHERE n*sxx - sx*sx > 0)
        |SELECT source, CAST(n AS BIGINT) AS n_buckets,
        |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |    * ((abs(num) * 1000000) // den) AS BIGINT) AS slope_x1e6
        |FROM g ORDER BY source""".stripMargin,
    "q268_grouped_ols" ->
      """WITH m AS (
        |  SELECT source,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(n_chars) AS HUGEINT) AS sx,
        |    CAST(sum(len(string_split(lower(text), ' '))) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(n_chars AS HUGEINT)
        |      * len(string_split(lower(text), ' '))) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS sxx
        |  FROM documents GROUP BY source),
        |f AS (
        |  SELECT source, n, sx, sy,
        |    n*sxy - sx*sy AS num, n*sxx - sx*sx AS den
        |  FROM m WHERE n*sxx - sx*sx > 0)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |    * ((abs(num) * 1000000) // den) AS BIGINT) AS slope_x1e6,
        |  CAST((CASE WHEN sy*den - num*sx < 0 THEN -1 ELSE 1 END)
        |    * ((abs(sy*den - num*sx) * 1000000) // (n*den)) AS BIGINT)
        |    AS icpt_x1e6
        |FROM f ORDER BY source""".stripMargin,
    // The oracle pays the quadratic NOT-EXISTS dominance price the
    // operator's two-phase sort-scan avoids.
    "q152_skyline" ->
      """WITH m AS MATERIALIZED (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS min_cents
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT m.l_partkey AS part, m.sum_qty, m.min_cents
        |FROM m
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m o
        |  WHERE o.sum_qty >= m.sum_qty AND o.min_cents <= m.min_cents
        |    AND (o.sum_qty > m.sum_qty OR o.min_cents < m.min_cents))""".stripMargin,
    "q153_link_predict" ->
      """WITH op AS MATERIALIZED (
        |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
        |                  greatest(x.l_partkey, y.l_partkey) AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
        |adj AS MATERIALIZED (
        |  SELECT a AS src, b AS dst FROM op UNION ALL SELECT b, a FROM op),
        |deg AS MATERIALIZED (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY src),
        |viaz AS MATERIALIZED (
        |  SELECT adj.src AS z, adj.dst, 1000000000000 // deg.deg AS w
        |  FROM adj JOIN deg ON adj.src = deg.src WHERE deg.deg <= 200),
        |cand AS MATERIALIZED (
        |  SELECT z1.dst AS a, z2.dst AS b, z1.w
        |  FROM viaz z1 JOIN viaz z2 ON z1.z = z2.z AND z1.dst < z2.dst),
        |nc AS MATERIALIZED (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS common,
        |         CAST(sum(w) AS BIGINT) AS score
        |  FROM cand
        |  WHERE NOT EXISTS (SELECT 1 FROM op WHERE op.a = cand.a AND op.b = cand.b)
        |  GROUP BY a, b)
        |SELECT a AS pa, b AS pb, common, score FROM nc
        |ORDER BY score DESC, a, b LIMIT 50""".stripMargin,
    // Identical RANGE-default window frame on both engines: tied
    // timestamps share one cumulative value, so the sweep is
    // order-deterministic.
    "q154_backlog_peak" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_suppkey AS supp, o_orderdate AS od, l_shipdate AS sd
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |d AS MATERIALIZED (
        |  SELECT supp, od AS ts, CAST(1 AS BIGINT) AS delta FROM li
        |  UNION ALL
        |  SELECT supp, sd, CAST(-1 AS BIGINT) FROM li),
        |c AS (SELECT supp,
        |        CAST(sum(delta) OVER (PARTITION BY supp ORDER BY ts) AS BIGINT) AS conc
        |      FROM d)
        |SELECT supp AS supplier, max(conc) AS peak FROM c GROUP BY supp""".stripMargin,
    "q155_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)))
        |           AS BIGINT) AS VARCHAR), 1, 1) AS digit
        |  FROM lineitem),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT digit, cnt, (1000 * cnt) // total AS permille FROM c, t""".stripMargin,
    "q156_char_outliers" ->
      """WITH m AS MATERIALIZED (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS s1,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN m ON d.source = m.source
        |WHERE (m.n * d.n_chars - m.s1) * (m.n * d.n_chars - m.s1)
        |    > 4 * (m.n * m.s2 - m.s1 * m.s1)""".stripMargin,
    "q169_exact_median" ->
      """WITH h AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT source, n_chars, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM h)
        |SELECT source, n AS n_docs,
        |  min(CASE WHEN cum * 2 >= n + 1 THEN n_chars END) AS median_chars
        |FROM c GROUP BY source, n""".stripMargin,
    "q170_growth_curve" ->
      """WITH fs AS (
        |  SELECT user_id, event_type,
        |    min(date_trunc('day', ts))::TIMESTAMP AS day
        |  FROM events GROUP BY user_id, event_type),
        |pd AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS new_users
        |       FROM fs GROUP BY event_type, day)
        |SELECT event_type, day, new_users,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day)
        |       AS BIGINT) AS cum_users
        |FROM pd""".stripMargin,
    "q167_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts)::TIMESTAMP AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT day, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY day) AS BIGINT) AS p,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS s,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM daily),
        |d AS (SELECT day, cnt, n * p - t * s AS dt FROM c)
        |SELECT day, cnt, dt, abs(dt) = (SELECT max(abs(dt)) FROM d) AS is_peak
        |FROM d""".stripMargin,
    "q162_assoc_rules" ->
      """WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nb FROM baskets),
        |item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
        |         FROM baskets GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS cab
        |  FROM baskets a JOIN baskets b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 3),
        |rules AS (
        |  SELECT pa AS ante, pb AS cons, cab FROM pairs
        |  UNION ALL
        |  SELECT pb AS ante, pa AS cons, cab FROM pairs)
        |SELECT ante, cons, cab,
        |  CAST((cab::HUGEINT * 1000) // ia.c AS BIGINT) AS conf_permille,
        |  CAST((cab::HUGEINT * nb * 1000) // (ia.c::HUGEINT * ic.c) AS BIGINT)
        |    AS lift_x1000
        |FROM rules
        |CROSS JOIN nb
        |JOIN item ia ON ia.l_partkey = ante
        |JOIN item ic ON ic.l_partkey = cons
        |ORDER BY lift_x1000 DESC, conf_permille DESC, ante, cons
        |LIMIT 50""".stripMargin,
    "q157_markov" ->
      """WITH nxt AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM nxt WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS total
        |      FROM c GROUP BY from_type)
        |SELECT c.from_type, c.to_type, c.n, (1000 * c.n) // t.total AS permille
        |FROM c JOIN t ON c.from_type = t.from_type""".stripMargin,
    "q158_pca_top" ->
      s"""WITH ${pcaCtes(rounds = 3)}
         |SELECT i - 1 AS dim, CAST(v AS BIGINT) AS loading FROM v3
         |ORDER BY dim""".stripMargin,
    // same loadings CTE chain; the projection mirrors the engine's
    // left-fold double dot exactly (dotSql's list_reduce order)
    "q159_pca_extremes" ->
      s"""WITH ${pcaCtes(rounds = 3)},
         |lds AS (SELECT LIST(CAST(v AS DOUBLE) ORDER BY i) AS lv FROM v3),
         |sc AS (
         |  SELECT vec_id,
         |    list_reduce(list_transform(generate_series(1, len(embedding)),
         |      k -> embedding[k]::DOUBLE * lv[k]), (x,y) -> x + y) AS score
         |  FROM embeddings, lds),
         |hi AS (SELECT 'hi' AS side, vec_id, score FROM sc
         |       ORDER BY score DESC, vec_id LIMIT 10),
         |lo AS (SELECT 'lo' AS side, vec_id, score FROM sc
         |       ORDER BY score ASC, vec_id LIMIT 10)
         |SELECT * FROM hi UNION ALL SELECT * FROM lo""".stripMargin)

  /** DuckDB mirror of [[graft.operators.Pca.topComponent]] as a CTE
    * chain ending in `v<rounds>` (i 1-based, v HUGEINT loading) — shared
    * by the q158 (loadings) and q159 (projection) oracles so the
    * component definition cannot drift between them. Exact DECIMAL(18,6)
    * moments over per-row double products, scaled covariance
    * D = n·S·10⁶ − s·sᵀ in HUGEINT (int128 — |D·v| peaks ~10²⁹, well
    * inside), and `rounds` unrolled power-iteration CTEs. The rescale
    * divides NON-NEGATIVE operands and carries the sign in a CASE,
    * because DuckDB `//` and Spark `DIV`/BigInt division only agree on
    * truncation for non-negative values. DuckDB arrays are 1-based;
    * consumers re-base `dim` to 0. */
  private def pcaCtes(rounds: Int): String = {
    def round(r: Int): String = {
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""w$r AS (
         |  SELECT d.i AS i, SUM(d.dij * v.v) AS w
         |  FROM dmat d JOIN $prev v ON v.i = d.j GROUP BY d.i),
         |m$r AS (SELECT MAX(ABS(w)) AS m FROM w$r),
         |v$r AS (
         |  SELECT i, CASE WHEN w < 0 THEN CAST(-1 AS HUGEINT)
         |                 ELSE CAST(1 AS HUGEINT) END
         |    * ((ABS(w) * 1000000) // (SELECT m FROM m$r)) AS v FROM w$r)"""
        .stripMargin
    }
    s"""ex AS (
       |  SELECT vec_id, UNNEST(generate_series(1, len(embedding))) AS i,
       |         embedding
       |  FROM embeddings),
       |ex2 AS (SELECT vec_id, i, embedding[i]::DOUBLE AS xi, embedding FROM ex),
       |fm AS (
       |  SELECT i, SUM(CAST(xi AS DECIMAL(18,6))) AS s, COUNT(*) AS n
       |  FROM ex2 GROUP BY i),
       |pp AS (
       |  SELECT vec_id, i, xi,
       |         UNNEST(generate_series(i, len(embedding))) AS j, embedding
       |  FROM ex2),
       |sm AS (
       |  SELECT i, j, SUM(CAST(xi * embedding[j]::DOUBLE AS DECIMAL(18,6))) AS sp
       |  FROM pp GROUP BY i, j),
       |nn AS (SELECT MAX(n) AS n FROM fm),
       |bb AS (SELECT i, CAST(s * 1000000 AS HUGEINT) AS b FROM fm),
       |aa AS (SELECT i, j, CAST(sp * 1000000 AS HUGEINT) AS a FROM sm),
       |du AS (
       |  SELECT a.i AS i, a.j AS j,
       |    CAST((SELECT n FROM nn) AS HUGEINT) * a.a * 1000000
       |      - b1.b * b2.b AS dij
       |  FROM aa a JOIN bb b1 ON b1.i = a.i JOIN bb b2 ON b2.i = a.j),
       |dmat AS (
       |  SELECT i, j, dij FROM du
       |  UNION ALL SELECT j AS i, i AS j, dij FROM du WHERE i <> j),
       |v0 AS (
       |  SELECT UNNEST(generate_series(1, (SELECT MAX(i) FROM fm))) AS i,
       |         CAST(1000000 AS HUGEINT) AS v),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }
}
