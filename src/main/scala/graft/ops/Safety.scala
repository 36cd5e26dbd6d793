package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Corpus-governance operators a training-data pipeline runs before
  * anything ships: PII signal scanning/redaction and source-level
  * blocklist filtering (the C4/RefinedWeb "bad URL list" stage, keyed
  * here by the documents table's `source` column).
  *
  * Scale shape: both are STATELESS single-pass scans — per-row
  * codegen'd regexes and a broadcast blocklist membership test; no
  * shuffle except the accounting aggregates, which are
  * (source|lang)-cardinality-sized. That is the whole design: safety
  * filters run over every byte of a 100 TB corpus, so anything beyond
  * a map-side pass is disqualified.
  */
object Safety {
  import Fixtures._

  /** The scan patterns — deliberately simple expressions that mean the
    * same thing to Java regex (Spark codegen) and RE2 (DuckDB oracle):
    * character classes, bounded repetition, no lookaround.
    */
  val emailPattern = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
  val ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val phonePattern = "555-[0-9]{4}"

  /** Per-document PII signals + redacted text: match counts per
    * pattern family, a has_pii flag, and the text with every match
    * replaced by a typed placeholder. One projection, fully codegen'd
    * (regexp_count/regexp_replace are native expressions, no UDF).
    */
  def piiSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(col(textCol), lit(emailPattern)).cast("bigint"))
      .withColumn("n_ips", regexp_count(col(textCol), lit(ipv4Pattern)).cast("bigint"))
      .withColumn("n_phones", regexp_count(col(textCol), lit(phonePattern)).cast("bigint"))
      .withColumn(
        "redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), emailPattern, "<EMAIL>"),
            ipv4Pattern,
            "<IP>"
          ),
          phonePattern,
          "<PHONE>"
        )
      )
      .select(
        col(idCol).as("doc_id"),
        col("n_emails"),
        col("n_ips"),
        col("n_phones"),
        (col("n_emails") + col("n_ips") + col("n_phones") > 0).cast("int").cast("bigint")
          .as("has_pii"),
        col("redacted")
      )

  /** The fixture corpus is digit-free word salad, so the gated query
    * plants deterministic PII into a doc_id-keyed subset FIRST (the
    * oracle replays the identical construction — the decontamination
    * parity-split pattern): every 7th doc gains an email, every 11th
    * an IP, every 13th a phone number; moduli overlap so some docs
    * carry several.
    */
  private def plantedPii(textCol: Column, idCol: Column): Column =
    concat(
      textCol,
      when(idCol % 7 === 0, concat(lit(" contact user"), idCol.cast("string"), lit("@example.com for details")))
        .otherwise(lit("")),
      when(idCol % 11 === 0, concat(lit(" server 10."), (idCol % 256).cast("string"), lit(".0.1 port")))
        .otherwise(lit("")),
      when(idCol % 13 === 0, lit(" call 555-0142 now")).otherwise(lit(""))
    )

  val piiSignalsQ: Q = (s, d) => {
    val planted = documents(s, d)
      .select(col("doc_id"), plantedPii(col("text"), col("doc_id")).as("text"))
    piiSignals(planted, "doc_id", "text").orderBy("doc_id")
  }

  /** Source blocklist filter + accounting: docs from blocked sources
    * are dropped; the report says per source how much was blocked and
    * how many tokens survived. The blocklist is a literal membership
    * test (an `isin` over a broadcastable list — a real UT1-sized list
    * of ~4M domains would broadcast-join a one-column relation
    * instead, same shape).
    */
  def sourceBlocklist(docs: DataFrame, sourceCol: String, blocked: Seq[String]): DataFrame =
    docs.withColumn("blocked", col(sourceCol).isin(blocked: _*))

  private[ops] val demoBlocklist = Seq("src4", "src13", "src17")

  val sourceBlocklistQ: Q = (s, d) =>
    sourceBlocklist(documents(s, d), "source", demoBlocklist)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("blocked"), 1L).otherwise(0L)).cast("bigint").as("n_blocked"),
        sum(when(!col("blocked"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        sum(when(!col("blocked"), col("n_tokens")).otherwise(0L)).cast("bigint")
          .as("tokens_kept")
      )
      .orderBy("source")

  /** AUTO-DERIVED blocklist — the step that produces the list
    * [[sourceBlocklist]] consumes (C4/RefinedWeb curate their bad-URL
    * lists from exactly this kind of aggregate signal): per source,
    * the mean composite quality score ([[Pipeline.qualityScores]], the
    * same expressions as the quality_features gate) and the
    * block/keep verdict at a threshold. The report is
    * source-cardinality-sized (thousands of rows at web scale) —
    * corpus text reduces map-side into per-source partial sums; the
    * integer mean (`sum div count`) keeps the verdict exact.
    */
  def sourceQualityReport(scored: DataFrame, sourceCol: String, minAvgScore: Long): DataFrame =
    scored
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("score_micro")).cast("bigint").as("sum_score")
      )
      .withColumn("avg_score_micro", expr("sum_score div n_docs"))
      .withColumn("blocked", (col("avg_score_micro") < minAvgScore).cast("int").cast("bigint"))
      .select(col(sourceCol), col("n_docs"), col("avg_score_micro"), col("blocked"))

  /** Fixture threshold: sf0.01 per-source means span ≈2.51M–2.83M;
    * 2.6M blocks the bottom band. The oracle replicates it. */
  private val autoBlockThreshold = 2600000L

  val sourceAutoBlocklistQ: Q = (s, d) =>
    sourceQualityReport(
      Pipeline.qualityScores(documents(s, d), keepCols = Seq("source")),
      "source",
      autoBlockThreshold
    ).orderBy("source")

  lazy val registry: Seq[Query] = Seq(
    Query("source_auto_blocklist", sourceAutoBlocklistQ,
      s"""${Pipeline.featuresSql},
         |src AS (
         |  SELECT d.source, f.score_micro
         |  FROM features f JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(score_micro) AS BIGINT) AS sum_score
         |  FROM src GROUP BY source)
         |SELECT source, n_docs,
         |  CAST(sum_score // n_docs AS BIGINT) AS avg_score_micro,
         |  CAST(CASE WHEN sum_score // n_docs < $autoBlockThreshold THEN 1 ELSE 0 END AS BIGINT) AS blocked
         |FROM r ORDER BY source""".stripMargin),
    Query("pii_signals", piiSignalsQ,
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text
         |      || CASE WHEN doc_id % 7 = 0
         |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com for details'
         |              ELSE '' END
         |      || CASE WHEN doc_id % 11 = 0
         |              THEN ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 port'
         |              ELSE '' END
         |      || CASE WHEN doc_id % 13 = 0 THEN ' call 555-0142 now' ELSE '' END AS text
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$emailPattern')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(text, '$ipv4Pattern')) AS BIGINT) AS n_ips,
         |    CAST(len(regexp_extract_all(text, '$phonePattern')) AS BIGINT) AS n_phones,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$emailPattern', '<EMAIL>', 'g'),
         |      '$ipv4Pattern', '<IP>', 'g'),
         |      '$phonePattern', '<PHONE>', 'g') AS redacted
         |  FROM planted)
         |SELECT doc_id, n_emails, n_ips, n_phones,
         |  CAST(CASE WHEN n_emails + n_ips + n_phones > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_pii,
         |  redacted
         |FROM sig ORDER BY doc_id""".stripMargin),
    Query("source_blocklist", sourceBlocklistQ,
      s"""SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN source IN (${demoBlocklist.map("'" + _ + "'").mkString(",")})
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
         |  CAST(sum(CASE WHEN source IN (${demoBlocklist.map("'" + _ + "'").mkString(",")})
         |           THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN source IN (${demoBlocklist.map("'" + _ + "'").mkString(",")})
         |           THEN 0 ELSE len(string_split(text, ' ')) END) AS BIGINT) AS tokens_kept
         |FROM documents GROUP BY source ORDER BY source""".stripMargin)
  )
}
