package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Paragraph-structured operators: corpus-wide paragraph dedup and
  * per-document repetition quality signals (the Gopher-rules family).
  *
  * The fixture corpus has no newlines, so a "paragraph" here is a
  * deterministic 10-word chunk of the document — the segmentation is a
  * knob (split on '\n\n' in a real crawl), the operators below are the
  * machinery. All segmentation happens per-row in codegen'd
  * higher-order functions; the only shuffles are (a) the paragraph-
  * hash groupBy that IS the dedup and (b) per-doc n-gram aggregates
  * partitioned by doc_id (never skewed: a partition is one document's
  * grams).
  */
object Paragraphs {
  import Fixtures._

  private val chunk = 10

  /** How a document becomes paragraphs. The PUBLIC default is the
    * MassiveText semantics the operators cite — blank-line-separated
    * blocks (empty segments dropped, as CCNet's line dedup ignores
    * empty lines). [[Segmenter.WordChunks]] is the deterministic
    * fallback for newline-free corpora (the fixture), and what the
    * fixture-gated queries pass explicitly.
    */
  sealed trait Segmenter
  object Segmenter {
    /** Split on a regex delimiter (default: blank line). `joiner` is
      * what reassembly puts BETWEEN surviving paragraphs — it travels
      * with the pattern because only the caller knows what their
      * delimiter regex consumed (a regex is not invertible); the
      * default round-trips the default pattern.
      */
    final case class Delimiter(pattern: String = "\n\n", joiner: String = "\n\n") extends Segmenter

    /** Fixed k-word chunks of the whitespace-split document. */
    final case class WordChunks(k: Int = chunk) extends Segmenter
  }

  /** The k-word chunk expression over a split-words column `w` —
    * shared with Pipeline so the composed repetition stage is
    * bit-identical to quality_repetition's segmentation.
    */
  private[ops] def chunksExprSql: String = chunksExprSqlK(chunk)

  private def chunksExprSqlK(k: Int): String =
    s"transform(sequence(0, CAST(ceil(size(w) / $k.0) AS INT) - 1), " +
      s"i -> concat_ws(' ', slice(w, i * $k + 1, $k)))"

  /** DuckDB twin of [[chunksExprSql]]. */
  private[ops] def chunksDuckSql(w: String): String =
    s"list_transform(generate_series(0, CAST(ceil(len($w) / $chunk.0) AS INT) - 1), " +
      s"i -> array_to_string($w[(i * $chunk + 1):(i * $chunk + $chunk)], ' '))"

  /** The paragraph array for a segmenter, as a Column over a row with
    * `text` (and, for WordChunks, the split-words column `w`) bound —
    * shared with Pipeline so the composed stages segment bit-
    * identically to the standalone operators.
    */
  private[graft] def parasColumn(seg: Segmenter): org.apache.spark.sql.Column = seg match {
    case Segmenter.Delimiter(p, _) =>
      // the pattern rides the Column API as a plain string argument,
      // never interpolated into SQL text — a quote or any other
      // metacharacter in the caller's regex cannot break parsing or
      // inject expressions
      filter(split(col("text"), p), s => s =!= "")
    case Segmenter.WordChunks(k) =>
      expr(chunksExprSqlK(k))
  }

  /** (doc_id, text, w, paras): the segmentation bound ONCE per row so
    * downstream expressions never re-split the text.
    */
  private def withParas(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      seg: Segmenter
  ): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("w", split(col("text"), " "))
      .withColumn("paras", parasColumn(seg))

  /** (doc_id, para_idx, para): documents exploded into paragraphs,
    * index preserved so the surviving text can be reassembled in
    * order. Positions come from an index-lambda transform + plain
    * explode, NOT posexplode: the filter Catalyst infers from a
    * Generate is pushed below any downstream repartition with the
    * whole segmentation transform inlined (the doc_winnow hazard,
    * TextAnalysis.docWinnow) — the struct-explode shape stays on the
    * fast path (PlanShapeSpec pins it).
    */
  def paragraphs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      seg: Segmenter = Segmenter.Delimiter()
  ): DataFrame =
    withParas(docs, idCol, textCol, seg)
      .select(
        col("doc_id"),
        explode(expr("transform(paras, (p, i) -> named_struct('i', i, 'p', p))")).as("sp")
      )
      .select(col("doc_id"), col("sp.i").cast("bigint").as("para_idx"), col("sp.p").as("para"))

  /** Corpus-wide paragraph dedup, keep-earliest: a paragraph survives
    * only at its first occurrence in (doc_id, para_idx) order; every
    * later copy — across documents or within one — is dropped, and
    * each document is reassembled from its survivors
    * (MassiveText/CCNet-style line dedup).
    *
    * Shape: winner-per-digest as a partial-aggregated min(struct), NOT
    * a digest-partitioned row_number window — a boilerplate line
    * duplicated across millions of pages is a mega-key that a window
    * piles onto one task, while the aggregate's map-side combine
    * absorbs it. Shuffle volume: the paragraph TEXT never exchanges at
    * all — only (digest, doc, idx) rows do — because the winner set
    * joins back on (doc_id, para_idx), riding the corpus side's
    * existing doc partitioning (PlanShapeSpec pins no-Window and the
    * exchange count).
    */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      seg: Segmenter = Segmenter.Delimiter()
  ): DataFrame = {
    // reassemble with the segmentation's own joiner: real paragraphs
    // re-join with the Delimiter's declared joiner (the caller's
    // structure, not a hardcoded blank line), word chunks as a flat
    // token stream
    val joiner = seg match {
      case Segmenter.Delimiter(_, j) => j
      case Segmenter.WordChunks(_)   => " "
    }
    val p = paragraphs(docs, idCol, textCol, seg)
    val winners = p
      .select(col("doc_id"), col("para_idx"), md5(col("para").cast("binary")).as("dig"))
      .groupBy(col("dig"))
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.para_idx").as("para_idx"), lit(1L).as("keep"))
    p.join(winners, Seq("doc_id", "para_idx"), "left")
      .withColumn("keep", coalesce(col("keep"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_paras"),
        sum(col("keep")).cast("bigint").as("n_kept"),
        concat_ws(
          joiner,
          expr(
            "transform(array_sort(collect_list(CASE WHEN keep = 1 THEN named_struct('i', para_idx, 'p', para) END)), s -> s.p)"
          )
        ).as("kept_text")
      )
      .withColumn("n_dropped", (col("n_paras") - col("n_kept")).cast("bigint"))
      .select("doc_id", "n_paras", "n_kept", "n_dropped", "kept_text")
  }

  // the fixture corpus has no newlines — the gated query pins the
  // chunking fallback; the public default is the Delimiter semantics
  val dedupParagraph: Q = (s, d) =>
    paragraphDedup(documents(s, d), "doc_id", "text", Segmenter.WordChunks()).orderBy("doc_id")

  /** Per-document repetition signals (the Gopher quality-filter
    * family): duplicate-line fraction and duplicate-line character
    * fraction (computed per-row over the chunk array — no shuffle),
    * plus most-frequent-2-gram character coverage and duplicated-
    * 3-gram character fraction (per-doc n-gram aggregates). A
    * boilerplate-heavy or looping document scores high on all four;
    * MassiveText drops at dup_line_frac > 0.3 / top_2gram > 0.2 — the
    * thresholds stay with the caller, the signals are the operator.
    */
  def repetitionSignals(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      seg: Segmenter = Segmenter.Delimiter()
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = withParas(docs, idCol, textCol, seg)
      .withColumn("n_lines", size(col("paras")).cast("bigint"))
      .withColumn("n_distinct_lines", size(array_distinct(col("paras"))).cast("bigint"))
      .withColumn(
        "line_chars",
        expr("aggregate(transform(paras, x -> length(x)), 0L, (a, x) -> a + x)")
      )
      .withColumn(
        "distinct_line_chars",
        expr("aggregate(transform(array_distinct(paras), x -> length(x)), 0L, (a, x) -> a + x)")
      )
      .withColumn(
        "dup_line_frac",
        round((col("n_lines") - col("n_distinct_lines")).cast("double") / col("n_lines"), 6)
      )
      .withColumn(
        "dup_line_char_frac",
        round(
          (col("line_chars") - col("distinct_line_chars")).cast("double") / col("line_chars"),
          6
        )
      )
    // guard like Dedup.shingleArrays: sequence(0, size(w)-2) on a
    // 1-word doc is the DESCENDING [0,-1] — under ANSI mode the lambda
    // then indexes w out of bounds and throws; the empty-array branch
    // matches the oracle's empty generate_series(1, 0)
    val grams2 = base
      .select(
        col("doc_id"),
        explode(
          when(
            size(col("w")) >= 2,
            expr("transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1]))")
          ).otherwise(array())
        ).as("g")
      )
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("n"))
    val top2 = grams2
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("n").desc, col("g").asc))
      )
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("g").as("top_2gram"), (col("n") * length(col("g"))).as("top2_chars"))
    val grams3 = base
      .select(
        col("doc_id"),
        explode(
          when(
            size(col("w")) >= 3,
            expr("transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")
          ).otherwise(array())
        ).as("g")
      )
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("n"))
    val dup3 = grams3
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n") * length(col("g"))).as("g3_chars"),
        sum(when(col("n") >= 2, col("n") * length(col("g"))).otherwise(0L)).as("g3_dup_chars")
      )
      .select(
        col("doc_id"),
        round(col("g3_dup_chars").cast("double") / col("g3_chars"), 6).as("dup_3gram_char_frac")
      )
    base
      .join(top2, Seq("doc_id"), "left")
      .join(dup3, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_lines"),
        col("dup_line_frac"),
        col("dup_line_char_frac"),
        coalesce(col("top_2gram"), lit("")).as("top_2gram"),
        round(coalesce(col("top2_chars"), lit(0L)).cast("double") / length(col("text")), 6)
          .as("top_2gram_char_frac"),
        coalesce(col("dup_3gram_char_frac"), lit(0.0)).as("dup_3gram_char_frac")
      )
  }

  val qualityRepetition: Q = (s, d) =>
    repetitionSignals(documents(s, d), "doc_id", "text", Segmenter.WordChunks())
      .orderBy("doc_id")

  /** CODE-SWITCH segmentation: language-ID per PARAGRAPH instead of
    * per document, plus the switch count between consecutive
    * paragraphs — the signal that separates a mixed-language document
    * (translation pairs, quoted foreign text, boilerplate in another
    * language) from a monolingual one, which doc-level lang-ID cannot
    * see. Uses the same stopword-marker predictor as
    * lang_id_heuristic and the same WordChunks segmentation as the
    * paragraph family, so the three operators can never disagree
    * about what a "paragraph" or an "en paragraph" is.
    *
    * Scale shape: segmentation and per-para prediction are per-row
    * expressions; the only shuffle is the per-doc lag window
    * (partition = one document — never skewed) and the final per-doc
    * aggregate on the same key, which AQE coalesces into the same
    * exchange.
    */
  val langSegments: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    documents(s, d)
      .withColumn("w", split(col("text"), " "))
      .withColumn("paras", parasColumn(Segmenter.WordChunks(chunk)))
      .select(col("doc_id"), col("lang"), posexplode(col("paras")).as(Seq("para_idx", "para")))
      .withColumn(
        "pred",
        when(
          expr(s"size(filter(split(para, ' '), x -> x IN (${TextAnalysis.stopList}))) > 0"),
          "en"
        ).otherwise("unknown")
      )
      .withColumn(
        "prev",
        lag(col("pred"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("para_idx")))
      )
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).cast("bigint").as("n_paras"),
        sum(when(col("pred") === "en", 1L).otherwise(0L)).cast("bigint").as("n_en_paras"),
        sum(when(col("prev").isNotNull && col("prev") =!= col("pred"), 1L).otherwise(0L))
          .cast("bigint")
          .as("n_switches")
      )
      .withColumn(
        "mixed",
        when(col("n_en_paras") > 0 && col("n_en_paras") < col("n_paras"), 1L)
          .otherwise(0L)
      )
      .orderBy("doc_id")
  }

  /** DuckDB twin of the WordChunks segmentation over any (doc_id,
    * text) source — exposes CTE `p` (doc_id, para_idx, para); shared
    * with the pipeline oracle's paragraph-dedup stage.
    */
  private[ops] def parasSql(src: String): String =
    s"""p AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, CAST(ceil(len(w) / $chunk.0) AS INT) - 1)) AS para_idx,
       |    unnest(list_transform(generate_series(0, CAST(ceil(len(w) / $chunk.0) AS INT) - 1),
       |           i -> array_to_string(w[(i * $chunk + 1):(i * $chunk + $chunk)], ' '))) AS para
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src))""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("lang_segments", langSegments,
      s"""WITH ${parasSql("documents")},
         |pr AS (
         |  SELECT doc_id, para_idx,
         |    CASE WHEN len(list_filter(string_split(para, ' '),
         |                              x -> x IN (${TextAnalysis.stopList}))) > 0
         |         THEN 'en' ELSE 'unknown' END AS pred
         |  FROM p),
         |sw AS (
         |  SELECT doc_id, pred,
         |    lag(pred) OVER (PARTITION BY doc_id ORDER BY para_idx) AS prev
         |  FROM pr),
         |ag AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_paras,
         |    CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_paras,
         |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> pred THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
         |  FROM sw GROUP BY doc_id)
         |SELECT a.doc_id, d.lang, a.n_paras, a.n_en_paras, a.n_switches,
         |  CAST(CASE WHEN a.n_en_paras > 0 AND a.n_en_paras < a.n_paras THEN 1 ELSE 0 END AS BIGINT) AS mixed
         |FROM ag a JOIN documents d USING (doc_id) ORDER BY a.doc_id""".stripMargin),
    Query("dedup_paragraph", dedupParagraph,
      s"""WITH ${parasSql("documents")},
         |r AS (
         |  SELECT doc_id, para_idx, para,
         |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
         |  FROM p)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_paras,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(para, ' ' ORDER BY para_idx) FILTER (WHERE rn = 1), '') AS kept_text
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("quality_repetition", qualityRepetition,
      s"""WITH base AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS w,
         |    list_transform(generate_series(0, CAST(ceil(len(string_split(text, ' ')) / $chunk.0) AS INT) - 1),
         |      i -> array_to_string((string_split(text, ' '))[(i * $chunk + 1):(i * $chunk + $chunk)], ' ')) AS paras
         |  FROM documents),
         |lines AS (
         |  SELECT doc_id, text, w,
         |    CAST(len(paras) AS BIGINT) AS n_lines,
         |    CAST(len(list_distinct(paras)) AS BIGINT) AS n_distinct_lines,
         |    CAST(list_sum(list_transform(paras, x -> length(x))) AS BIGINT) AS line_chars,
         |    CAST(list_sum(list_transform(list_distinct(paras), x -> length(x))) AS BIGINT) AS distinct_line_chars
         |  FROM base),
         |g2 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
         |                        i -> w[i] || ' ' || w[i + 1])) AS g
         |  FROM base),
         |g2c AS (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY doc_id, g),
         |top2 AS (
         |  SELECT doc_id, g AS top_2gram, n * length(g) AS top2_chars
         |  FROM (SELECT doc_id, g, n,
         |          row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g ASC) AS rk
         |        FROM g2c)
         |  WHERE rk = 1),
         |g3 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
         |                        i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
         |  FROM base),
         |g3c AS (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY doc_id, g),
         |dup3 AS (
         |  SELECT doc_id,
         |    round(CAST(sum(CASE WHEN n >= 2 THEN n * length(g) ELSE 0 END) AS DOUBLE)
         |          / sum(n * length(g)), 6) AS dup_3gram_char_frac
         |  FROM g3c GROUP BY doc_id)
         |SELECT l.doc_id, l.n_lines,
         |  round(CAST(l.n_lines - l.n_distinct_lines AS DOUBLE) / l.n_lines, 6) AS dup_line_frac,
         |  round(CAST(l.line_chars - l.distinct_line_chars AS DOUBLE) / l.line_chars, 6) AS dup_line_char_frac,
         |  coalesce(t.top_2gram, '') AS top_2gram,
         |  round(CAST(coalesce(t.top2_chars, 0) AS DOUBLE) / length(l.text), 6) AS top_2gram_char_frac,
         |  coalesce(d.dup_3gram_char_frac, 0.0) AS dup_3gram_char_frac
         |FROM lines l
         |LEFT JOIN top2 t ON t.doc_id = l.doc_id
         |LEFT JOIN dup3 d ON d.doc_id = l.doc_id
         |ORDER BY l.doc_id""".stripMargin)
  )
}
