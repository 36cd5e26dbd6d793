package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Exact duplicated-SPAN detection — the fixed-k engine analog of
  * ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better": duplicated 50-BPE-token substrings).
  * Their suffix-array machine finds duplicates of ANY length; the
  * distributed form fixes a span length k and slides a k-word window
  * (stride 1) over every document — any duplicated substring of ≥ k
  * words contains a duplicated k-span, so fixed-k detection is a
  * complete detector at the chosen granularity, and it becomes pure
  * relational algebra:
  *
  *   span digests → ONE shuffle on digest (corpus-wide counts) →
  *   per-doc aggregate.
  *
  * The shuffled rows carry (digest, doc, pos) — 16-byte digests, not
  * span text — so shuffle volume is O(corpus tokens), independent of
  * k. Per-doc stats come back partitioned by doc_id (a partition is
  * one document's spans — never skewed). No suffix array, no driver
  * state, no all-pairs.
  */
object Spans {
  import Fixtures._

  private val k = 20

  /** (doc_id, pos, digest) for every k-word window; documents shorter
    * than k yield no rows (both engines agree: the index-lambda
    * transform is guarded, the oracle's generate_series is empty).
    * Index-lambda transform + struct explode, the plan shape that
    * keeps the window transform above any repartition (doc_winnow
    * hazard).
    */
  def spanDigests(docs: DataFrame, idCol: String, textCol: String, spanWords: Int = k): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .select(
        col("doc_id"),
        explode(
          when(
            size(col("w")) >= spanWords,
            expr(
              s"transform(sequence(0, size(w) - $spanWords), " +
                s"i -> named_struct('pos', i, 'dig', md5(cast(concat_ws(' ', slice(w, i + 1, $spanWords)) as binary))))"
            )
          ).otherwise(array())
        ).as("sp")
      )
      .select(col("doc_id"), col("sp.pos").cast("bigint").as("pos"), col("sp.dig").as("dig"))

  /** Per-document duplicated-span report: how many of the doc's spans
    * occur elsewhere in the corpus (or again in the same doc), plus
    * the duplicated fraction — the triage signal ExactSubstr pipelines
    * act on (cut the span, or drop the doc above a threshold).
    */
  val substringDupSpans: Q = (s, d) => {
    // corpus-wide occurrence counts via groupBy + join, not a
    // count-over-window: a boilerplate span shared by millions of docs
    // would pile one window partition onto one task, while the
    // aggregate partial-combines and the join is AQE-skew-splittable
    val digests = spanDigests(documents(s, d), "doc_id", "text")
    val occ = digests.groupBy(col("dig")).agg(count(lit(1)).as("n_occ"))
    digests
      .join(occ, Seq("dig"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_spans"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).cast("bigint").as("n_dup_spans")
      )
      .withColumn(
        "dup_span_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
      )
      .orderBy("doc_id")
  }

  /** Span REMOVAL — the operator Lee et al.'s pipeline actually runs
    * (their `deduplicate-text-datasets` tool cuts EVERY occurrence of
    * a duplicated substring; [[substringDupSpans]] is its triage
    * view). Flagged k-word spans are coalesced per document and cut,
    * emitting cleaned text plus removed-word/char accounting.
    *
    * Shape notes for 100 TB:
    *   - flagged positions come off the same digest shuffle as the
    *     counts (16-byte digests + positions, never span text);
    *   - per-doc coalescing is a LINEAR array pass, not a fold and not
    *     a window: because every span has the same length k, a sorted
    *     position list's merged intervals are exactly the positions
    *     where the gap to the predecessor exceeds k (running max of
    *     p+k is p_prev+k), so starts/ends fall out of one indexed
    *     transform+filter each, O(n) per doc with no quadratic
    *     array-rebuild fold;
    *   - the rebuild slices the KEPT ranges (complement intervals),
    *     O(words) total — no per-word membership probe against an
    *     interval list (that is O(words x intervals)) and no k-fold
    *     covered-index expansion;
    *   - document text crosses exactly one doc_id-keyed exchange (the
    *     join-back of the per-doc flagged-position arrays); bucketing
    *     the corpus by doc_id ([[graft.sources.Bucketing]]) removes
    *     even that one.
    *
    * Cutting can create new adjacencies (and thus new duplicated
    * spans) — Lee et al. accept single-pass semantics; rerun to a
    * fixed point if required.
    */
  def spanRemoval(docs: DataFrame, idCol: String, textCol: String, spanWords: Int = k): DataFrame = {
    val digests = spanDigests(docs, idCol, textCol, spanWords)
    val dup = digests
      .groupBy(col("dig"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("dig"))
    // one row per flagged (doc, pos); the semi-join shuffles digests only
    cutFlagged(docs, idCol, textCol, digests.join(dup, Seq("dig"), "left_semi"), spanWords)
  }

  /** One fixed-point pass's accounting: documents that lost words and
    * how many words were cut in that pass.
    */
  final case class SpanPass(pass: Int, docs_cut: Long, words_removed: Long)

  /** [[spanRemoval]]'s per-pass result plus whether the corpus reached
    * a state with no duplicated spans within `maxPasses`.
    */
  final case class FixedPointResult(cleaned: DataFrame, passes: Seq[SpanPass], converged: Boolean)

  /** Span removal iterated to a FIXED POINT: cutting a span splices
    * its neighbors together, which can mint brand-new duplicated
    * k-windows across the cut boundary — single-pass semantics (Lee et
    * al.'s choice, and [[spanRemoval]]'s default) accept those; this
    * variant re-runs the cut until a pass removes nothing or
    * `maxPasses` is hit, with per-pass accounting so the caller sees
    * the convergence trajectory.
    *
    * Scale shape: each pass is the full [[spanRemoval]] machinery
    * (digest shuffle + linear interval cut) over the SHRINKING corpus,
    * materialized before the next pass — k passes cost at most k scans
    * of ever-smaller data, never one k-deep lazy plan (the pipeline
    * materialization contract). Convergence is detected from a
    * two-long aggregate, not a collect. The returned frame carries
    * [[spanRemoval]]'s exact schema with accounting relative to the
    * ORIGINAL text, so it drops into the same pipeline seam.
    */
  def spanRemovalToFixedPoint(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = k,
      maxPasses: Int = 4
  ): FixedPointResult = {
    require(maxPasses >= 1, s"maxPasses must be >= 1, got $maxPasses")
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val orig = pin(docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
    var current = orig
    val passes = scala.collection.mutable.ArrayBuffer.empty[SpanPass]
    var converged = false
    var pass = 1
    while (!converged && pass <= maxPasses) {
      val cut = pin(spanRemoval(current, "doc_id", "text", spanWords))
      val agg = cut
        .agg(
          sum(when(col("n_words_removed") > 0, 1L).otherwise(0L)).cast("long").as("docs_cut"),
          sum(col("n_words_removed")).cast("long").as("words_removed")
        )
        .head()
      val wordsRemoved = if (agg.isNullAt(1)) 0L else agg.getLong(1)
      if (wordsRemoved == 0L) converged = true
      else {
        passes += SpanPass(pass, agg.getLong(0), wordsRemoved)
        current = pin(cut.select(col("doc_id"), col("clean_text").as("text")))
        pass += 1
      }
    }
    val cleaned = orig
      .join(current.select(col("doc_id"), col("text").as("clean_text")), Seq("doc_id"))
      .withColumn("w", split(col("text"), " "))
      .withColumn("cw", when(col("clean_text") === "", expr("array()").cast("array<string>"))
        .otherwise(split(col("clean_text"), " ")))
      .select(
        col("doc_id"),
        col("clean_text"),
        size(col("w")).cast("bigint").as("n_words"),
        (size(col("w")) - size(col("cw"))).cast("bigint").as("n_words_removed"),
        (length(col("text")) - length(col("clean_text"))).cast("bigint").as("chars_removed")
      )
    FixedPointResult(cleaned, passes.toSeq, converged)
  }

  /** BENCHMARK span removal — decontamination's REMEDY operator: cut
    * every n-word span of a training document whose digest appears in
    * the benchmark set, instead of dropping the whole document
    * ([[Decontamination]] flags and reports; this repairs). Same scale
    * shape as the flagging join: the benchmark's distinct digests are
    * eval suites — MBs against TBs — and broadcast into a map-side
    * semi-join over the training windows; the cut itself is
    * [[spanRemoval]]'s linear interval machinery at k = n.
    */
  def contaminationSpanRemoval(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val trainDig = spanDigests(train, idCol, textCol, n)
    val benchDig = spanDigests(bench, idCol, textCol, n).select(col("dig")).distinct()
    cutFlagged(train, idCol, textCol, trainDig.join(broadcast(benchDig), Seq("dig"), "left_semi"), n)
  }

  /** Shared cut tail: coalesce flagged equal-length span positions per
    * document and slice out the kept complement — see [[spanRemoval]]
    * for the linearity argument. `flagged` carries (doc_id, pos).
    */
  private def cutFlagged(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      flagged: DataFrame,
      kk: Int
  ): DataFrame = {
    // the aggregate ships compact per-doc position arrays
    val fps = flagged
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("fps"))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(fps, Seq("doc_id"), "left")
      .withColumn("fps", coalesce(col("fps"), expr("array()").cast("array<bigint>")))
      .withColumn("w", split(col("text"), " "))
      // merged-interval starts: position 0 of the sorted list, or any
      // position whose gap to its predecessor exceeds k (equal-k spans
      // make the running coverage max p_prev + k). Nested IFs keep
      // element_at in-bounds under ANSI; -1 is a safe sentinel (pos >= 0).
      .withColumn(
        "starts",
        expr(s"filter(transform(fps, (p, i) -> IF(i = 0, p, IF(p - element_at(fps, i) > $kk, p, -1L))), x -> x >= 0)")
      )
      .withColumn(
        "ends",
        expr(s"filter(transform(fps, (p, i) -> IF(i = size(fps) - 1, p + $kk, IF(element_at(fps, i + 2) - p > $kk, p + $kk, -1L))), x -> x >= 0)")
      )
      // kept ranges = complement of the cut intervals over [0, n_words)
      .withColumn(
        "keep",
        expr(
          "filter(zip_with(concat(array(0L), ends), concat(starts, array(cast(size(w) as bigint))), " +
            "(s, e) -> named_struct('s', s, 'e', e)), v -> v.e > v.s)"
        )
      )
      .withColumn(
        "clean_w",
        expr("flatten(transform(keep, v -> slice(w, cast(v.s + 1 as int), cast(v.e - v.s as int))))")
      )
      .withColumn("clean_text", concat_ws(" ", col("clean_w")))
      .select(
        col("doc_id"),
        col("clean_text"),
        size(col("w")).cast("bigint").as("n_words"),
        (size(col("w")) - size(col("clean_w"))).cast("bigint").as("n_words_removed"),
        (length(col("text")) - length(col("clean_text"))).cast("bigint").as("chars_removed")
      )
  }

  val spanRemovalQ: Q = (s, d) => spanRemoval(documents(s, d), "doc_id", "text").orderBy("doc_id")

  lazy val registry: Seq[Query] = Seq(
    Query("substring_dup_spans", substringDupSpans,
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sp AS (
         |  SELECT doc_id, md5(array_to_string(w[i:i + $k - 1], ' ')) AS dig
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - $k + 1)) AS i FROM w)),
         |occ AS (SELECT dig, count(*) AS n_occ FROM sp GROUP BY dig)
         |SELECT s.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN o.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  round(CAST(sum(CASE WHEN o.n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS dup_span_frac
         |FROM sp s JOIN occ o ON o.dig = s.dig
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),
    // covered-set formulation: a word index is cut iff SOME flagged
    // span covers it — equivalent to the engine's merged-interval
    // complement (the intervals are exactly the covered set's runs)
    Query("span_removal", spanRemovalQ,
      s"""WITH ${cutSqlFrom("documents", "")}
         |SELECT w.doc_id,
         |  coalesce(cl.ct, '') AS clean_text,
         |  CAST(len(w.w) AS BIGINT) AS n_words,
         |  CAST(len(w.w) - coalesce(cl.n_kept, 0) AS BIGINT) AS n_words_removed,
         |  CAST(length(w.text) - length(coalesce(cl.ct, '')) AS BIGINT) AS chars_removed
         |FROM w LEFT JOIN cl USING (doc_id) ORDER BY w.doc_id""".stripMargin)
  )

  /** DuckDB window-digest CTEs over any (doc_id, text) source:
    * `<p>w` (doc_id, text, w) and `<p>sp` (doc_id, pos, dig).
    */
  private[ops] def windowsSql(src: String, p: String, kk: Int): String =
    s"""${p}w AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM $src),
       |${p}sp AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         md5(array_to_string(w[i:i + $kk - 1], ' ')) AS dig
       |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - $kk + 1)) AS i FROM ${p}w))""".stripMargin

  /** DuckDB cut tail: covered-set complement + reassembly, given
    * `<p>w` and a flagged-positions CTE `<p>fp` (doc_id, pos).
    * Exposes `<p>cl` (doc_id, ct, n_kept); fully-cut documents are
    * ABSENT from `<p>cl`.
    */
  private[ops] def cutTailSql(p: String, kk: Int): String =
    s"""${p}cov AS (SELECT DISTINCT doc_id, pos + j AS idx
       |        FROM ${p}fp, unnest(generate_series(0, $kk - 1)) AS t(j)),
       |${p}wx AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx, w[i] AS word
       |       FROM ${p}w, unnest(generate_series(1, len(w))) AS t(i)),
       |${p}kept AS (
       |  SELECT x.doc_id, x.idx, x.word FROM ${p}wx x
       |  ANTI JOIN ${p}cov c ON c.doc_id = x.doc_id AND c.idx = x.idx),
       |${p}cl AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS ct,
       |         count(*) AS n_kept
       |  FROM ${p}kept GROUP BY doc_id)""".stripMargin

  /** The self-dup span-cut chain ([[spanRemoval]]'s oracle shape),
    * prefixable so it composes into larger oracles (the pipeline
    * replays it over its paragraph-deduped stage).
    */
  private[ops] def cutSqlFrom(src: String, p: String): String =
    s"""${windowsSql(src, p, k)},
       |${p}dup AS (SELECT dig FROM ${p}sp GROUP BY dig HAVING count(*) >= 2),
       |${p}fp AS (SELECT s.doc_id, s.pos FROM ${p}sp s JOIN ${p}dup USING (dig)),
       |${cutTailSql(p, k)}""".stripMargin
}
