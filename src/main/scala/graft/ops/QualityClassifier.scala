package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** The supervised QUALITY-CLASSIFIER loop of the GPT-3 / CCNet
  * pipelines: train a linear classifier on a labeled seed (curated =
  * positive, random crawl = negative), score the whole corpus, keep
  * what scores well — here as multinomial Naive Bayes over a CAPPED
  * vocabulary, which is fastText's linear core without the embedding
  * layer and is exactly integer-pinnable:
  *
  *   - The MODEL is (top-V train tokens by frequency, token-asc
  *     tie) × per-class add-1-smoothed log-likelihood ratios in
  *     BIGINT micro-units (the 4-ln canonical ordering shared with
  *     [[DataSelection]]), plus a 1-row doc-count prior. ≤ V rows +
  *     one scalar broadcast at ANY corpus size — the
  *     [[CorpusStats.docUnigramNllCapped]] bound.
  *   - SCORING is one explode + broadcast join + doc-keyed sum:
  *     log-odds(doc) = prior + Σ c_w·λ_w over in-vocab tokens (closed
  *     vocabulary, the cap convention); a doc with no vocab token
  *     scores the prior alone. Map-side partials; nothing doc-sized
  *     shuffles.
  *   - EVALUATION on a held-out split emits the confusion matrix and
  *     integer-micro precision/recall — the numbers that pick the
  *     keep threshold before the filter goes corpus-wide.
  *
  * Fixture stand-ins: positive = `lang = 'en'` (the "curated" class),
  * train on even doc_ids, evaluate on odd — all replicated exactly by
  * the oracle.
  */
object QualityClassifier {
  import Fixtures._

  private[graft] val fixtureVocab = 128
  private[graft] val positivePred = "lang = 'en'"
  private[graft] val trainPred = "doc_id % 2 = 0"

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))

  /** (token, lambda_micro) × top-V vocabulary + (npos, nneg,
    * prior_micro) — both broadcast-bounded.
    */
  def trainModel(train: DataFrame, positive: Column, vocabCap: Int): (DataFrame, DataFrame) = {
    // the class flag rides the map-side explode — never a join-back
    val tok = train.select(positive.as("_pos"), explode(split(col("text"), " ")).as("token"))
    val counts = tok
      .groupBy("token")
      .agg(
        count(lit(1)).cast("bigint").as("c"),
        sum(when(col("_pos"), 1L).otherwise(0L)).cast("bigint").as("cpos")
      )
      .withColumn("cneg", col("c") - col("cpos"))
    val vocab = counts.orderBy(col("c").desc, col("token").asc).limit(vocabCap)
    val totals = vocab.agg(
      sum(col("cpos")).cast("bigint").as("tpos"),
      sum(col("cneg")).cast("bigint").as("tneg")
    )
    val model = vocab
      .crossJoin(broadcast(totals))
      .withColumn(
        "lambda_micro",
        expr(
          s"""CAST(floor((ln(CAST(cpos + 1 AS DOUBLE)) - ln(CAST(tpos + $vocabCap AS DOUBLE))
             |          - ln(CAST(cneg + 1 AS DOUBLE)) + ln(CAST(tneg + $vocabCap AS DOUBLE))) * 1000000) AS BIGINT)""".stripMargin
        )
      )
      .select(col("token"), col("cpos"), col("cneg"), col("lambda_micro"))
    val priors = train
      .agg(
        sum(when(positive, 1L).otherwise(0L)).cast("bigint").as("npos"),
        sum(when(positive, 0L).otherwise(1L)).cast("bigint").as("nneg")
      )
      .withColumn(
        "prior_micro",
        expr("CAST(floor((ln(CAST(npos AS DOUBLE)) - ln(CAST(nneg AS DOUBLE))) * 1000000) AS BIGINT)")
      )
    (model, priors)
  }

  /** Every doc of `docs` scored: log-odds in micro-units + the >0
    * decision. OOV-only docs keep the prior (left join + coalesce).
    */
  def score(docs: DataFrame, model: DataFrame, priors: DataFrame): DataFrame = {
    // LEFT broadcast join keeps OOV tokens (zero contribution), so
    // every doc survives the doc-keyed aggregation — split() yields at
    // least [""] even for empty text — and no corpus-sized join-back
    // is ever needed
    docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .join(broadcast(model.select(col("token"), col("lambda_micro"))), Seq("token"), "left")
      .groupBy("doc_id", "lang")
      .agg(
        sum(when(col("lambda_micro").isNotNull, 1L).otherwise(0L)).cast("bigint").as("n_vocab_tokens"),
        sum(coalesce(col("lambda_micro"), lit(0L))).cast("bigint").as("ll_micro")
      )
      .crossJoin(broadcast(priors.select(col("prior_micro"))))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_vocab_tokens"),
        (col("ll_micro") + col("prior_micro")).as("logodds_micro")
      )
      .withColumn("predicted", (col("logodds_micro") > 0).cast("int").cast("bigint"))
  }

  private def evalScored(scored: DataFrame): DataFrame =
    scored
      .withColumn("actual", expr(s"CAST(($positivePred) AS INT)").cast("bigint"))
      .agg(
        sum(when(col("actual") === 1 && col("predicted") === 1, 1L).otherwise(0L)).cast("bigint").as("tp"),
        sum(when(col("actual") === 0 && col("predicted") === 1, 1L).otherwise(0L)).cast("bigint").as("fp"),
        sum(when(col("actual") === 1 && col("predicted") === 0, 1L).otherwise(0L)).cast("bigint").as("fn"),
        sum(when(col("actual") === 0 && col("predicted") === 0, 1L).otherwise(0L)).cast("bigint").as("tn")
      )
      .withColumn("precision_micro", expr("CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 div (tp + fp) END"))
      .withColumn("recall_micro", expr("CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 div (tp + fn) END"))

  private def scoredEval(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val (model, priors) = trainModel(docs.filter(trainPred), expr(positivePred), fixtureVocab)
    score(docs.filter(s"NOT ($trainPred)"), model, priors)
  }

  val nbScores: Q = (s, d) => scoredEval(s, d).orderBy("doc_id")

  val nbEval: Q = (s, d) => evalScored(scoredEval(s, d))

  /** CALIBRATION curve — the eval view between raw scores and the
    * confusion matrix: holdout docs bucketed by predicted log-odds
    * (1-nat fixed-width bins clamped to ±8) against their ACTUAL
    * positive rate per bin. A well-calibrated filter shows rates
    * rising monotonically through the bins; a cliff at 0 with flat
    * tails says the threshold is all that matters. Map-side bucketing
    * (no windows, no quantiles) + a bins-sized aggregate.
    *
    * Bucket arithmetic: Spark's `div` truncates while DuckDB's `//`
    * floors — they disagree on negatives, so the log-odds are shifted
    * by 10¹² (far above any reachable magnitude) before dividing,
    * making both divisions floor-equivalent on positives.
    */
  val nbCalibration: Q = (s, d) =>
    scoredEval(s, d)
      .withColumn("actual", expr(s"CAST(($positivePred) AS INT)").cast("bigint"))
      .withColumn(
        "bucket",
        expr("greatest(-8L, least(8L, (logodds_micro + 1000000000000) div 1000000 - 1000000))")
          .cast("bigint")
      )
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("actual")).cast("bigint").as("n_positive")
      )
      .withColumn("pos_rate_micro", expr("n_positive * 1000000 div n_docs"))
      .orderBy("bucket")

  private val scoredSqlBase =
    s"""WITH train AS (SELECT * FROM documents WHERE $trainPred),
       |ev AS (SELECT * FROM documents WHERE NOT ($trainPred)),
       |ttok AS (
       |  SELECT doc_id, ($positivePred) AS is_pos, unnest(string_split(text, ' ')) AS token
       |  FROM train),
       |counts AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c,
       |    CAST(count(*) FILTER (is_pos) AS BIGINT) AS cpos
       |  FROM ttok GROUP BY token),
       |vocab AS (
       |  SELECT token, c, cpos, c - cpos AS cneg FROM counts
       |  ORDER BY c DESC, token ASC LIMIT $fixtureVocab),
       |tot AS (SELECT sum(cpos) AS tpos, sum(cneg) AS tneg FROM vocab),
       |model AS (
       |  SELECT token,
       |    CAST(floor((ln(CAST(cpos + 1 AS DOUBLE)) - ln(CAST((SELECT tpos FROM tot) + $fixtureVocab AS DOUBLE))
       |              - ln(CAST(cneg + 1 AS DOUBLE)) + ln(CAST((SELECT tneg FROM tot) + $fixtureVocab AS DOUBLE))) * 1000000) AS BIGINT) AS lambda_micro
       |  FROM vocab),
       |pr AS (
       |  SELECT CAST(floor((ln(CAST(count(*) FILTER ($positivePred) AS DOUBLE))
       |                   - ln(CAST(count(*) FILTER (NOT ($positivePred)) AS DOUBLE))) * 1000000) AS BIGINT) AS prior_micro
       |  FROM train),
       |etok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM ev),
       |sums AS (
       |  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_vocab_tokens,
       |    CAST(sum(lambda_micro) AS BIGINT) AS ll_micro
       |  FROM etok e JOIN model m USING (token) GROUP BY e.doc_id),
       |scored AS (
       |  SELECT ev.doc_id, ev.lang,
       |    coalesce(s.n_vocab_tokens, 0) AS n_vocab_tokens,
       |    coalesce(s.ll_micro, 0) + (SELECT prior_micro FROM pr) AS logodds_micro
       |  FROM ev LEFT JOIN sums s USING (doc_id))""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("nb_classifier_scores", nbScores,
      s"""$scoredSqlBase
         |SELECT doc_id, lang, n_vocab_tokens, logodds_micro,
         |  CAST(CASE WHEN logodds_micro > 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted
         |FROM scored ORDER BY doc_id""".stripMargin),
    Query("nb_classifier_eval", nbEval,
      s"""$scoredSqlBase,
         |lab AS (
         |  SELECT CAST(CASE WHEN $positivePred THEN 1 ELSE 0 END AS BIGINT) AS actual,
         |    CAST(CASE WHEN logodds_micro > 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted
         |  FROM scored),
         |cm AS (
         |  SELECT
         |    CAST(count(*) FILTER (actual = 1 AND predicted = 1) AS BIGINT) AS tp,
         |    CAST(count(*) FILTER (actual = 0 AND predicted = 1) AS BIGINT) AS fp,
         |    CAST(count(*) FILTER (actual = 1 AND predicted = 0) AS BIGINT) AS fn,
         |    CAST(count(*) FILTER (actual = 0 AND predicted = 0) AS BIGINT) AS tn
         |  FROM lab)
         |SELECT tp, fp, fn, tn,
         |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS BIGINT) AS precision_micro,
         |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS BIGINT) AS recall_micro
         |FROM cm""".stripMargin),
    Query("nb_calibration", nbCalibration,
      s"""$scoredSqlBase,
         |lab AS (
         |  SELECT CAST(CASE WHEN $positivePred THEN 1 ELSE 0 END AS BIGINT) AS actual,
         |    greatest(-8, least(8, (logodds_micro + 1000000000000) // 1000000 - 1000000)) AS bucket
         |  FROM scored)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(actual) AS BIGINT) AS n_positive,
         |  CAST(sum(actual) * 1000000 // count(*) AS BIGINT) AS pos_rate_micro
         |FROM lab GROUP BY bucket ORDER BY bucket""".stripMargin)
  )
}
