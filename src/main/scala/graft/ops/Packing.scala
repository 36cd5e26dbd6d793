package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Sequence packing: lay documents end to end into fixed token-budget
  * training sequences — the tokenizer-feed step between curation and
  * batching. Contiguous packing (concatenate in order, cut every
  * `budget` tokens) is what production pretraining pipelines do; a
  * document's sequence id is just the prefix-sum of token counts
  * before it, divided by the budget.
  *
  * Scale shape: the prefix sum runs per STRATUM (here language; in
  * production a shard/file), so each window partition is one stratum's
  * stream and strata pack in parallel — there is no global order and
  * no single-partition window. A corpus-wide global pack would need
  * the two-phase prefix sum (per-partition totals broadcast as
  * offsets); deliberately not implemented — global order across a
  * 100 TB corpus is a serialization point with no training benefit,
  * which is why real pipelines pack per shard.
  */
object Packing {
  import Fixtures._

  /** Per-doc packing map: (doc, stratum) -> sequence id + offset of
    * the doc's first token within that stratum's concatenated stream.
    * Docs longer than the residual budget straddle a boundary (exactly
    * like training-data concatenation; `spans_boundary` marks them).
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      strataCol: String,
      tokensExpr: org.apache.spark.sql.Column,
      budget: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("stratum")).orderBy(col("doc_id"))
    docs
      .select(col(idCol).as("doc_id"), col(strataCol).as("stratum"), tokensExpr.as("n_tokens"))
      .withColumn("end_offset", sum(col("n_tokens")).over(w))
      .withColumn("start_offset", (col("end_offset") - col("n_tokens")).cast("bigint"))
      .withColumn("seq_id", floor(col("start_offset") / budget).cast("bigint"))
      .withColumn(
        "spans_boundary",
        when(floor((col("end_offset") - 1) / budget) > col("seq_id"), 1L).otherwise(0L)
      )
      .select(
        col("doc_id"),
        col("stratum"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        col("start_offset"),
        col("seq_id"),
        col("spans_boundary")
      )
  }

  private val budget = 512

  val packSequencesQ: Q = (s, d) =>
    packSequences(
      documents(s, d),
      "doc_id",
      "lang",
      size(split(col("text"), " ")).cast("bigint"),
      budget
    ).orderBy("doc_id")

  /** Deterministic corpus SHARDING — the delivery step after mixture
    * and packing: route each document to one of `nShards` training
    * shards by a 48-bit md5 draw on its id (domain-separated from the
    * mixture draw, so sampling survival and shard routing stay
    * independent). The assignment is a pure map-side projection —
    * engine-portable, append-stable, zero shuffle; the physical write
    * is `partitionBy(shard)`, the cluster-map layout discipline.
    * Balance is binomial over documents.
    */
  def shardAssign(docs: DataFrame, idCol: String, nShards: Int): DataFrame =
    docs.withColumn(
      "shard",
      pmod(
        conv(
          substring(md5(concat(lit("shard|"), col(idCol).cast("string")).cast("binary")), 1, 12),
          16,
          10
        ).cast("long"),
        lit(nShards.toLong)
      )
    )

  private val nShards = 8

  /** Per-shard manifest: doc/token counts plus a bit_xor membership
    * digest of the doc ids — the xor pins the EXACT assignment (any
    * single reroute flips it) without materializing the row-level map
    * in the gate.
    */
  val shardManifestQ: Q = (s, d) =>
    shardAssign(documents(s, d), "doc_id", nShards)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("tokens"),
        expr("bit_xor(doc_id)").as("doc_xor")
      )
      .orderBy("shard")

  /** Deterministic GLOBAL SHUFFLE order — the last delivery step: a
    * training run wants every epoch's data order random w.r.t.
    * content but reproducible and resumable. The order key is a
    * 48-bit md5 draw on the doc id (domain-separated: `shuf|` — a
    * doc's position is independent of its mixture/shard/holdout
    * draws, and appending documents never moves existing ones
    * relative to each other). The global ORDER BY rides Spark's
    * range-partitioned sort — sampled boundaries, then per-partition
    * sorts — the scalable global sort, never a single-point merge;
    * at delivery the writer emits files in partition order and a
    * reader streams them sequentially for a fully shuffled epoch.
    */
  def corpusShuffle(docs: DataFrame, idCol: String): DataFrame =
    docs
      .select(
        col(idCol).as("doc_id"),
        conv(
          substring(md5(concat(lit("shuf|"), col(idCol).cast("string")).cast("binary")), 1, 12),
          16,
          10
        ).cast("long").as("draw")
      )
      .orderBy("draw", "doc_id")

  val corpusShuffleQ: Q = (s, d) => corpusShuffle(documents(s, d), "doc_id")

  /** LENGTH-BUCKETED BATCH manifest — the dynamic-batching layout for
    * variable-length training (padded batching wastes compute padding
    * every sequence to the batch max; bucketing by length first keeps
    * batch members similar-sized, the standard fix). Each (stratum,
    * length-bucket) packs independently: every member is costed at the
    * bucket's max token count (`bucket_pad` — exactly what padded
    * batching pays), the batch holds `max(1, maxBatchTokens div
    * bucket_pad)` docs, and the manifest reports per batch the real
    * token mass, the padded mass, and the padding-waste fraction in
    * integer micro-units — the number that justifies the bucketing.
    *
    * Scale shape: like [[packSequences]], the windows partition by
    * (stratum, bucket) — strata are shards in production, so no
    * corpus-wide window exists and buckets pack in parallel per shard.
    * Deterministic end to end (doc_id order), so append-stable per
    * closed batch and hash-oracle-safe.
    */
  def lengthBucketBatches(
      docs: DataFrame,
      idCol: String,
      strataCol: String,
      tokensExpr: org.apache.spark.sql.Column,
      bucketWidth: Int,
      maxBucket: Int,
      maxBatchTokens: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(col("stratum"), col("bucket"))
    docs
      .select(col(idCol).as("doc_id"), col(strataCol).as("stratum"), tokensExpr.as("n_tokens"))
      .withColumn(
        "bucket",
        least(floor(col("n_tokens") / bucketWidth), lit(maxBucket.toLong)).cast("bigint")
      )
      .withColumn("bucket_pad", max(col("n_tokens")).over(part).cast("bigint"))
      .withColumn("rn", row_number().over(part.orderBy(col("doc_id"))))
      .withColumn("cap", greatest(lit(1L), expr(s"$maxBatchTokens div bucket_pad")))
      .withColumn("batch_idx", expr("(rn - 1) div cap").cast("bigint"))
      .groupBy(col("stratum"), col("bucket"), col("batch_idx"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
        first(col("bucket_pad")).cast("bigint").as("bucket_pad")
      )
      .withColumn("padded_tokens", (col("n_docs") * col("bucket_pad")).cast("bigint"))
      .withColumn(
        "waste_micro",
        expr("(padded_tokens - sum_tokens) * 1000000 div padded_tokens")
      )
  }

  private val bucketWidth = 32
  private val maxBucketIdx = 15
  private val maxBatchTokens = 2048

  val lengthBucketBatchesQ: Q = (s, d) =>
    lengthBucketBatches(
      documents(s, d),
      "doc_id",
      "lang",
      size(split(col("text"), " ")).cast("bigint"),
      bucketWidth,
      maxBucketIdx,
      maxBatchTokens
    ).orderBy("stratum", "bucket", "batch_idx")

  lazy val registry: Seq[Query] = Seq(
    Query("pack_sequences", packSequencesQ,
      s"""WITH t AS (
         |  SELECT doc_id, lang AS stratum,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, stratum, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY stratum ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_offset
         |  FROM t)
         |SELECT doc_id, stratum, n_tokens, start_offset,
         |  CAST(floor(start_offset / $budget.0) AS BIGINT) AS seq_id,
         |  CAST(CASE WHEN floor((start_offset + n_tokens - 1) / $budget.0)
         |                  > floor(start_offset / $budget.0)
         |       THEN 1 ELSE 0 END AS BIGINT) AS spans_boundary
         |FROM p ORDER BY doc_id""".stripMargin),
    Query("shard_manifest", shardManifestQ, {
      val draw = "CAST(" + Dedup.hex12ValSql("md5('shard|' || CAST(doc_id AS VARCHAR))", 1) + " AS BIGINT)"
      s"""WITH a AS (
         |  SELECT doc_id, $draw % $nShards AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  CAST(bit_xor(doc_id) AS BIGINT) AS doc_xor
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin
    }),
    Query("corpus_shuffle", corpusShuffleQ, {
      val draw = "CAST(" + Dedup.hex12ValSql("md5('shuf|' || CAST(doc_id AS VARCHAR))", 1) + " AS BIGINT)"
      s"SELECT doc_id, $draw AS draw FROM documents ORDER BY draw, doc_id"
    }),
    Query("length_bucket_batches", lengthBucketBatchesQ,
      s"""WITH t AS (
         |  SELECT doc_id, lang AS stratum,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (
         |  SELECT *, CAST(least(n_tokens // $bucketWidth, $maxBucketIdx) AS BIGINT) AS bucket
         |  FROM t),
         |p AS (
         |  SELECT *,
         |    CAST(max(n_tokens) OVER (PARTITION BY stratum, bucket) AS BIGINT) AS bucket_pad,
         |    row_number() OVER (PARTITION BY stratum, bucket ORDER BY doc_id) AS rn
         |  FROM b),
         |a AS (
         |  SELECT *, greatest(1, $maxBatchTokens // bucket_pad) AS cap,
         |    CAST((rn - 1) // greatest(1, $maxBatchTokens // bucket_pad) AS BIGINT) AS batch_idx
         |  FROM p),
         |g AS (
         |  SELECT stratum, bucket, batch_idx,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |    CAST(min(bucket_pad) AS BIGINT) AS bucket_pad
         |  FROM a GROUP BY stratum, bucket, batch_idx)
         |SELECT stratum, bucket, batch_idx, n_docs, sum_tokens, bucket_pad,
         |  CAST(n_docs * bucket_pad AS BIGINT) AS padded_tokens,
         |  CAST((n_docs * bucket_pad - sum_tokens) * 1000000 // (n_docs * bucket_pad) AS BIGINT)
         |    AS waste_micro
         |FROM g ORDER BY stratum, bucket, batch_idx""".stripMargin)
  )
}
