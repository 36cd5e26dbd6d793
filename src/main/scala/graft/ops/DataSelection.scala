package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Data Selection via Importance Resampling — DSIR (Xie et al.,
  * NeurIPS 2023): pick raw-corpus documents that look like a small
  * high-quality TARGET corpus by importance weighting in a hashed
  * n-gram feature space, then resampling by weight.
  *
  * The pipeline is three bounded steps, each scale-shaped:
  *   1. FEATURES — every word unigram and bigram hashes into one of
  *      `nBuckets` buckets (the paper's "hashed n-gram" trick: the
  *      model stays `nBuckets`-sized no matter the corpus). One
  *      corpus pass, map-side projection; nothing doc-sized shuffles.
  *   2. MODEL — bag-of-buckets unigram distributions for target and
  *      raw with add-1 smoothing; the per-bucket importance
  *      log-weight λ_b = ln p_target(b) − ln p_raw(b) lands as an
  *      exact BIGINT in micro-units. The model is `nBuckets` rows —
  *      broadcast-capped like the perplexity models (CorpusStats).
  *   3. WEIGHTS + RESAMPLE — per-doc log w = Σ c_b·λ_b via a
  *      broadcast model join and one doc-keyed partial-aggregated
  *      sum; the Gumbel-top-k trick (adding Gumbel noise to log
  *      weights and taking the top k is EXACTLY sampling without
  *      replacement ∝ w — Vieira 2014) makes "resample k docs" a
  *      deterministic global top-k, which Spark plans as
  *      TakeOrderedAndProject — no full sort, no driver data.
  *
  * The "noise" is the engine-portable 48-bit md5 draw (domain
  * `dsirg|`, the Mixture family's construction), so selection is a
  * pure function of doc_id: append-stable, replayable, and
  * oracle-checkable to the bit. All ln arithmetic is written in ONE
  * canonical order on both engines and floored to integer micro-units
  * before any comparison.
  *
  * Reference behavior: the migration suite has no data-selection
  * stage; this extends the corpus-refinery family (SURVEY.md LLM
  * section) with the published method itself.
  */
object DataSelection {
  import Fixtures._

  /** Fixture knobs — the oracle replicates all three. Production
    * callers pass their own (the paper uses 10k buckets). */
  private[graft] val fixtureBuckets = 64
  private val fixtureK = 100
  private[graft] val targetPred = "lang = 'en'"

  private val drawDenom = "281474976710656.0" // 2^48 as a double literal

  /** 48-bit md5 draw in the `dsirg|` domain (Gumbel noise seed). */
  private def gumbelDraw(id: Column): Column =
    conv(substring(md5(concat(lit("dsirg|"), id.cast("string")).cast("binary")), 1, 12), 16, 10)
      .cast("long")

  /** Hashed unigram+bigram feature occurrences: (doc_id, _t, bucket),
    * one row per n-gram occurrence, the target flag riding the
    * map-side expansion (NOT a join-back — the corpus never shuffles
    * for its own flag). Bucket = md5-48(`dsir|` ++ gram) mod nBuckets
    * — the engine-portable hash family of MinHash and the mixture
    * draws, domain-separated. Same ≥n-words guard as
    * [[Dedup.shinglesN]].
    */
  def hashedFeatures(docs: DataFrame, targetFlag: Column, nBuckets: Int): DataFrame = {
    val base = docs.select(col("doc_id"), targetFlag.as("_t"), split(col("text"), " ").as("w"))
    def grams(n: Int) = {
      val gram = (0 until n).map(j => s"w[i + $j]").mkString("concat_ws(' ', ", ", ", ")")
      base.select(
        col("doc_id"),
        col("_t"),
        explode(
          when(
            size(col("w")) >= n,
            expr(s"transform(sequence(0, size(w) - $n), i -> $gram)")
          ).otherwise(array())
        ).as("gram")
      )
    }
    grams(1)
      .unionByName(grams(2))
      .select(
        col("doc_id"),
        col("_t"),
        (conv(substring(md5(concat(lit("dsir|"), col("gram")).cast("binary")), 1, 12), 16, 10)
          .cast("long") % nBuckets).as("bucket")
      )
  }

  /** The nBuckets-row importance model: per bucket, raw and target
    * occurrence counts and the smoothed log-ratio in micro-units.
    * `targetFlag` marks the target-corpus rows of `docs` (the paper's
    * separate target corpus arrives as a union with the flag set).
    * One corpus feature pass feeds both distributions.
    */
  def importanceModel(docs: DataFrame, targetFlag: Column, nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = hashedFeatures(docs, targetFlag, nBuckets)
      .groupBy("bucket")
      .agg(
        count(lit(1)).cast("bigint").as("cr"),
        sum(when(col("_t"), 1L).otherwise(0L)).cast("bigint").as("ct")
      )
    // totals via a window over the nBuckets-row model — no driver trip
    val w = Window.partitionBy(lit(1))
    counts
      .withColumn("tr", sum(col("cr")).over(w))
      .withColumn("tt", sum(col("ct")).over(w))
      .withColumn(
        "lambda_micro",
        expr(
          s"""CAST(floor((ln(CAST(ct + 1 AS DOUBLE)) - ln(CAST(tt + $nBuckets AS DOUBLE))
             |          - ln(CAST(cr + 1 AS DOUBLE)) + ln(CAST(tr + $nBuckets AS DOUBLE))) * 1000000) AS BIGINT)""".stripMargin
        )
      )
      .select(col("bucket"), col("cr"), col("ct"), col("lambda_micro"))
  }

  /** Per-doc importance log-weight: Σ over feature occurrences of
    * λ(bucket) — broadcast model join + doc-keyed sum with map-side
    * partials. Output is every doc with its feature count and exact
    * integer log-weight.
    */
  def importanceWeights(docs: DataFrame, targetFlag: Column, nBuckets: Int): DataFrame =
    weightsAgainstModel(docs, importanceModel(docs, targetFlag, nBuckets), nBuckets)

  /** Score any doc frame against a PREPARED importance model — the
    * serving half of the artifact lifecycle (the unigram-model
    * precedent): per-doc weights are a pure function of (doc, model),
    * which is what lets the streaming route share the batch oracle.
    * The model is nBuckets rows at any corpus size, so it broadcasts
    * unconditionally.
    */
  def weightsAgainstModel(docs: DataFrame, model: DataFrame, nBuckets: Int): DataFrame =
    hashedFeatures(docs, lit(false), nBuckets)
      .join(broadcast(model.select(col("bucket"), col("lambda_micro"))), "bucket")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_feats"),
        sum(col("lambda_micro")).cast("bigint").as("logw_micro")
      )

  /** Gumbel-top-k resample: rank docs by logw + Gumbel(doc_id) and
    * keep the top k — sampling-without-replacement ∝ exp(logw) as a
    * deterministic top-k (TakeOrderedAndProject; the rank window runs
    * over the k survivors only, never the corpus).
    */
  def gumbelResample(weights: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gumbel = expr(
      s"CAST(floor(-ln(-ln((CAST(draw AS DOUBLE) + 0.5) / $drawDenom)) * 1000000) AS BIGINT)"
    )
    val scored = weights
      .withColumn("draw", gumbelDraw(col("doc_id")))
      .withColumn("gumbel_micro", gumbel)
      .withColumn("score_micro", col("logw_micro") + col("gumbel_micro"))
      .orderBy(desc("score_micro"), asc("doc_id"))
      .limit(k)
    scored
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(desc("score_micro"), asc("doc_id"))).cast("bigint")
      )
      .select(col("rank"), col("doc_id"), col("n_feats"), col("logw_micro"), col("gumbel_micro"), col("score_micro"))
  }

  val dsirWeights: Q = (s, d) =>
    importanceWeights(documents(s, d), expr(targetPred), fixtureBuckets).orderBy("doc_id")

  val dsirResample: Q = (s, d) =>
    gumbelResample(
      importanceWeights(documents(s, d), expr(targetPred), fixtureBuckets),
      fixtureK
    ).orderBy("rank")

  // ---- DuckDB oracles ------------------------------------------------

  private def bucketSql =
    s"CAST(${Dedup.hex12ValSql("md5('dsir|' || gram)", 1)} AS BIGINT) % $fixtureBuckets"

  private val weightsSqlBase =
    s"""WITH w AS (SELECT doc_id, ($targetPred) AS is_t, string_split(text, ' ') AS w FROM documents),
       |uni AS (SELECT doc_id, is_t, unnest(w) AS gram FROM w),
       |bi AS (
       |  SELECT doc_id, is_t, w[i] || ' ' || w[i + 1] AS gram
       |  FROM (SELECT doc_id, is_t, w, unnest(generate_series(1, len(w) - 1)) AS i FROM w)),
       |g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
       |f AS (SELECT doc_id, is_t, $bucketSql AS bucket FROM g),
       |m AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS cr,
       |    CAST(count(*) FILTER (is_t) AS BIGINT) AS ct
       |  FROM f GROUP BY bucket),
       |tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM m),
       |lam AS (
       |  SELECT bucket,
       |    CAST(floor((ln(CAST(ct + 1 AS DOUBLE)) - ln(CAST((SELECT tt FROM tot) + $fixtureBuckets AS DOUBLE))
       |              - ln(CAST(cr + 1 AS DOUBLE)) + ln(CAST((SELECT tr FROM tot) + $fixtureBuckets AS DOUBLE))) * 1000000) AS BIGINT) AS lambda_micro
       |  FROM m),
       |dw AS (
       |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |    CAST(sum(lambda_micro) AS BIGINT) AS logw_micro
       |  FROM f JOIN lam USING (bucket) GROUP BY f.doc_id)""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("dsir_weights", dsirWeights,
      s"""$weightsSqlBase
         |SELECT doc_id, n_feats, logw_micro FROM dw ORDER BY doc_id""".stripMargin),
    Query("dsir_resample", dsirResample,
      s"""$weightsSqlBase,
         |scored AS (
         |  SELECT doc_id, n_feats, logw_micro,
         |    CAST(floor(-ln(-ln((CAST(CAST(${Dedup.hex12ValSql("md5('dsirg|' || CAST(doc_id AS VARCHAR))", 1)} AS BIGINT) AS DOUBLE) + 0.5) / $drawDenom)) * 1000000) AS BIGINT) AS gumbel_micro
         |  FROM dw),
         |ranked AS (
         |  SELECT *, logw_micro + gumbel_micro AS score_micro,
         |    row_number() OVER (ORDER BY logw_micro + gumbel_micro DESC, doc_id ASC) AS rank
         |  FROM scored)
         |SELECT CAST(rank AS BIGINT) AS rank, doc_id, n_feats, logw_micro, gumbel_micro, score_micro
         |FROM ranked WHERE rank <= $fixtureK ORDER BY rank""".stripMargin)
  )
}
