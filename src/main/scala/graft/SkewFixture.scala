package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic zipf-style SKEW fixture generator — the stress input the
  * uniform sf tables cannot provide (BENCH catches regressions in work
  * done, not in work DISTRIBUTION; a salted join and a plain join time
  * identically on uniform keys).
  *
  * Derived from a source sf dir, amplified and skewed, all hash-driven (no
  * RNG, no timestamps — byte-identical on every run):
  *
  *  - `documents` ×`DocReplicas`: one HOT source carries ~50% of all rows
  *    (stresses the source-keyed mixing paths: PrefixSum, TopKByScore,
  *    GlobalOrder), and the hot half's texts share a fixed 6-token prefix —
  *    ONE shingle posting list holding half the corpus, the worst case for
  *    the q42 prefix-filtered index join (its df-ordering must exile those
  *    shingles from the index) and for MinHash/SimHash banding. Replicas
  *    salt every 8th token with the replica id, so cross-replica Jaccard
  *    lands ~0.4 — far below the 0.8 dedup threshold — and pair outputs
  *    stay corpus-proportional, not quadratic.
  *  - `events` ×`EventReplicas`: one HOT user owns ~50% of all events
  *    (stresses the salted join/count-distinct paths and honestly exposes
  *    the per-key-sequential operators like sessionize).
  *  - `embeddings` ×`EmbReplicas`: one HOT semantic cluster holds ~50% of
  *    all vectors — the hot half is rewritten to a common dominant
  *    direction (10·e₀ + 0.15·original), giving pairwise hot cosine
  *    ~0.97-0.99: tight enough that a coarse quantizer MUST split the
  *    cluster across cells or leave a quadratic in-cell pair volume
  *    (the SemDeDup candidate gate in BenchSkew), while staying below the
  *    0.999 dup threshold so outputs stay corpus-proportional.
  *
  * Layout matches the testdata dirs (`<out>/documents.parquet`,
  * `<out>/events.parquet`, `<out>/embeddings.parquet`), so any
  * `SparkEntry` query over those tables runs on it unchanged.
  */
object SkewFixture {

  val DocReplicas = 20
  val EventReplicas = 10
  val EmbReplicas = 10
  val HotPrefix = "zq0 zq1 zq2 zq3 zq4 zq5" // 6 tokens no real doc contains

  /** 50/50 deterministic coin from any column (md5-derived, engine-stable). */
  private def coin(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long") % 2 === 0

  def generate(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val docs = graft.sources.Tables.load(spark, srcDir, "documents")
    val reps = spark.range(DocReplicas).select(col("id").cast("int").as("__r"))
    val amplified = docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("__r").cast("long") * 10000000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"), col("__r"))
    // salt every 8th token with the replica id: replicas of one base doc
    // keep ~7/8 of tokens but lose ~3/8 of 3-shingles -> Jaccard ~0.4
    val salted = amplified.withColumn("text",
      concat_ws(" ", transform(split(col("text"), " "),
        (t, i) => when(i % 8 === col("__r") % 8, concat(t, lit("_"), col("__r")))
          .otherwise(t))))
    val skewed = salted
      .withColumn("__hot", coin(col("doc_id")))
      .withColumn("source", when(col("__hot"), lit("hotsrc")).otherwise(col("source")))
      .withColumn("text",
        when(col("__hot"), concat(lit(HotPrefix + " "), col("text")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    graft.sources.Sinks.overwriteSwap(skewed, s"$outDir/documents.parquet")

    val events = graft.sources.Tables.load(spark, srcDir, "events")
    val ereps = spark.range(EventReplicas).select(col("id").cast("int").as("__r"))
    val eAmplified = events.crossJoin(broadcast(ereps))
      .select(
        (col("event_id") + col("__r").cast("long") * 100000000L).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"), col("props"),
        col("__r"))
    val eSkewed = eAmplified
      .withColumn("user_id",
        when(coin(col("event_id")), lit(1L))
          .otherwise(col("user_id") + col("__r").cast("long") * 1000L))
      .drop("__r")
    graft.sources.Sinks.overwriteSwap(eSkewed, s"$outDir/events.parquet")

    val emb = graft.sources.Tables.load(spark, srcDir, "embeddings")
    val vreps = spark.range(EmbReplicas).select(col("id").cast("int").as("__r"))
    val vAmplified = emb.crossJoin(broadcast(vreps))
      .select(
        (col("vec_id") + col("__r").cast("long") * 10000000L).as("vec_id"),
        col("embedding"), col("label"))
    // hot half: dominant shared direction + a 0.15-scaled copy of the
    // original as angular spread — pairwise hot cosine ~0.97-0.99 (one
    // tight semantic cluster at half the corpus mass, nothing at the
    // 0.999 dup threshold); cosine is scale-invariant so the 0.15 only
    // sets the spread relative to the 10.0 spike
    val vSkewed = vAmplified
      .withColumn("embedding",
        when(coin(col("vec_id")),
          transform(col("embedding"), (x, i) =>
            (when(i === 0, x.cast("double") * 0.15 + 10.0)
              .otherwise(x.cast("double") * 0.15)).cast("float")))
          .otherwise(col("embedding")))
    graft.sources.Sinks.overwriteSwap(vSkewed, s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "fixtures/skew"
    val spark = Harness.session()
    generate(spark, srcDir, outDir)
    println(s"skew fixture written to $outDir")
    spark.stop()
  }
}
