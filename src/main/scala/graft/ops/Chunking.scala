package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Token-window document chunking — the context-window prep step of a
  * retrieval / training pipeline: every document is cut into
  * fixed-size whitespace-token windows with a stride (overlap keeps
  * boundary sentences retrievable from both sides), each chunk
  * carrying full provenance (doc_id, chunk ordinal, token offset) and
  * a content fingerprint so downstream chunk-level dedup and index
  * builds never need the chunk text to identify a chunk.
  *
  * Reference scope: the reference pipelines move whole rows
  * (database-migration semantics); chunking is part of the
  * training-data extension surface the brief asks for — the retrieval
  * analogue of [[Packing.packSequences]]'s training-side windows.
  *
  * Scale design (100 TB): one scan, one generator — the chunk rows
  * are produced by `explode(sequence(...))` + `slice(...)` entirely
  * inside whole-stage codegen, so a document's text never crosses an
  * exchange and no shuffle exists at all except the oracle-only final
  * sort (at production scale the sink is partitioned by doc_id range,
  * not globally sorted). Chunk volume is tokens/stride ≈ 1.33× the
  * corpus token count at the default 32/24 window/stride — the
  * expansion is bounded and linear, never quadratic.
  */
object Chunking {
  import Fixtures._

  /** window = tokens per chunk; stride = token distance between chunk
    * starts (window − stride = overlap). 32/24 keeps the fixture
    * volumes readable; production RAG shapes (512/384) are the same
    * plan with different literals.
    */
  val window = 32
  val stride = 24

  /** All chunks of `textCol`, one row per chunk, with provenance and
    * a 48-bit content fingerprint. Pure expression chain — no UDFs.
    */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = window,
      stride: Int = stride
  ): DataFrame = {
    require(window >= stride && stride > 0, "window must cover the stride")
    docs
      .withColumn("toks", split(col(textCol), " "))
      .withColumn("n_tokens", size(col("toks")))
      .select(
        col(idCol),
        col("toks"),
        col("n_tokens"),
        explode(expr(s"sequence(1, n_tokens, $stride)")).as("start_i")
      )
      .withColumn("chunk_text", expr(s"array_join(slice(toks, start_i, $window), ' ')"))
      .select(
        col(idCol),
        expr(s"CAST((start_i - 1) DIV $stride AS BIGINT)").as("chunk_idx"),
        col("start_i").cast("long").as("start_tok"),
        expr(s"CAST(least($window, n_tokens - start_i + 1) AS BIGINT)").as("n_toks"),
        length(col("chunk_text")).cast("long").as("chunk_chars"),
        fp48(col("chunk_text")).as("chunk_fp")
      )
  }

  /** 48-bit md5 prefix as BIGINT — the engine-portable fingerprint
    * used across the dedup family (Dedup.hex12ValSql is the DuckDB
    * side of the same value).
    */
  private def fp48(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 12), 16, 10).cast("long")

  /** Per-language chunking datasheet: chunk counts and the overlap
    * expansion factor (chunk tokens ÷ source tokens, in micro-units)
    * — the number that sizes a chunk index build before running it.
    */
  def chunkStats(
      chunks: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String = "text",
      langCol: String = "lang"
  ): DataFrame = {
    val perDoc = chunks
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_toks")).as("chunk_tokens")
      )
    docs
      .withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .select(col(idCol), col(langCol).as("lang"), col("n_tokens"))
      .join(perDoc, Seq(idCol))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chunks")).cast("long").as("n_chunks"),
        sum(col("n_tokens")).cast("long").as("tokens"),
        sum(col("chunk_tokens")).cast("long").as("chunk_tokens"),
        expr("CAST(floor(sum(chunk_tokens) * 1000000.0 / sum(n_tokens)) AS BIGINT)")
          .as("expansion_micro")
      )
  }

  val chunkDocumentsQ: Q = (s, d) =>
    chunkDocuments(documents(s, d), "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")

  val chunkStatsQ: Q = (s, d) => {
    val docs = documents(s, d)
    chunkStats(chunkDocuments(docs, "doc_id", "text"), docs, "doc_id")
      .orderBy("lang")
  }

  // ---- DuckDB oracles ------------------------------------------------

  private[ops] val chunksSql: String =
    s"""ch_t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents),
       |ch_s AS (
       |  SELECT doc_id, toks, n_tokens,
       |    unnest(generate_series(1, n_tokens, $stride)) AS start_i
       |  FROM ch_t),
       |ch AS (
       |  SELECT doc_id,
       |    CAST((start_i - 1) // $stride AS BIGINT) AS chunk_idx,
       |    CAST(start_i AS BIGINT) AS start_tok,
       |    CAST(least($window, n_tokens - start_i + 1) AS BIGINT) AS n_toks,
       |    array_to_string(list_slice(toks, start_i, least(start_i + ${window - 1}, n_tokens)), ' ') AS chunk_text
       |  FROM ch_s)""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("chunk_documents", chunkDocumentsQ,
      s"""WITH $chunksSql
         |SELECT doc_id, chunk_idx, start_tok, n_toks,
         |  CAST(length(chunk_text) AS BIGINT) AS chunk_chars,
         |  CAST(${Dedup.hex12ValSql("md5(chunk_text)", 1)} AS BIGINT) AS chunk_fp
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),
    Query("chunk_stats", chunkStatsQ,
      s"""WITH $chunksSql,
         |pd AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(n_toks) AS BIGINT) AS chunk_tokens
         |  FROM ch GROUP BY doc_id),
         |dj AS (
         |  SELECT d.lang, len(string_split(d.text, ' ')) AS n_tokens,
         |    p.n_chunks, p.chunk_tokens
         |  FROM documents d JOIN pd p USING (doc_id))
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  CAST(sum(chunk_tokens) AS BIGINT) AS chunk_tokens,
         |  CAST(floor(sum(chunk_tokens) * 1000000.0 / sum(n_tokens)) AS BIGINT) AS expansion_micro
         |FROM dj GROUP BY lang ORDER BY lang""".stripMargin)
  )
}
