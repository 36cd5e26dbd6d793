package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Text-analysis operators for training-data pipelines: quality
  * scoring, token counting (whitespace + BPE-ish regex), a language-ID
  * heuristic and a document fingerprint (min-hash of shingles — the
  * rolling-hash/winnowing idea with an engine-portable hash).
  *
  * All per-document computations are codegen'd expressions (no UDFs) —
  * one pass, no shuffle except the final aggregations.
  */
object TextAnalysis {
  import Fixtures._

  private val stopwords = Seq("the", "a", "of", "to", "and", "in")
  // shared with Pipeline so the composed query's quality stage is
  // bit-identical to text_stats
  private[ops] val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Per-document stats + integer-arithmetic quality score. */
  val textStats: Q = (s, d) =>
    documents(s, d)
      .withColumn("n_chars2", length(col("text")).cast("bigint"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("bigint"))
      .withColumn("n_stop", expr(s"CAST(size(filter(toks, w -> w IN ($stopList))) AS BIGINT)"))
      .withColumn("n_alpha", expr("CAST(size(regexp_extract_all(text, '[a-z]+', 0)) AS BIGINT)"))
      .withColumn(
        "stop_pct",
        expr("CAST(floor(n_stop * 100.0 / n_tokens) AS BIGINT)")
      )
      .withColumn(
        "quality",
        when(col("n_tokens") >= 20 && col("stop_pct").between(2, 60), "ok").otherwise("low")
      )
      .select("doc_id", "lang", "n_chars2", "n_tokens", "n_stop", "n_alpha", "stop_pct", "quality")
      .orderBy("doc_id")

  /** Token counting: whitespace tokens vs a BPE-ish regex tokenizer
    * ([a-z]+ | digit runs | single other chars), plus chars-per-token.
    */
  val tokenCount: Q = (s, d) =>
    documents(s, d)
      .withColumn("n_ws", size(split(col("text"), " ")).cast("bigint"))
      .withColumn(
        "n_bpe",
        expr("CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)")
      )
      .withColumn(
        "chars_per_token_pct",
        expr("CAST(floor(length(text) * 100.0 / n_bpe) AS BIGINT)")
      )
      .select("doc_id", "n_ws", "n_bpe", "chars_per_token_pct")
      .orderBy("doc_id")

  /** Language-ID heuristic: stopword-marker voting per language,
    * aggregated into per-language accuracy stats against the labeled
    * `lang` column. (The fixture corpus shares one vocabulary, so the
    * interesting output is the *agreement table*, which is exactly
    * what a quality dashboard for this operator looks like.)
    */
  val langIdHeuristic: Q = (s, d) =>
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_en", expr(s"CAST(size(filter(toks, w -> w IN ($stopList))) AS BIGINT)"))
      .withColumn("pred", when(col("n_en") > 0, "en").otherwise("unknown"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("lang"), 1).otherwise(0)).cast("bigint").as("n_correct"),
        sum(when(col("pred") === "en", 1).otherwise(0)).cast("bigint").as("n_pred_en")
      )
      .orderBy("lang")

  /** Document fingerprint: min of md5 over word-3-gram shingles
    * (winnowing-style content signature, stable under whitespace-level
    * noise at the boundaries). Computed per row over the shingle array
    * — shuffle-free, like the minhash signature stage.
    */
  val docFingerprint: Q = (s, d) =>
    Dedup
      .shingles(documents(s, d), "doc_id", "text")
      .groupBy(col("doc_id"))
      .agg(min(md5(concat(lit("fp|"), col("shingle")).cast("binary"))).as("fingerprint"))
      .orderBy("doc_id")

  /** Top-5 most frequent tokens per language — the built-in
    * formulation (explode → count → rank). The fused one-aggregation
    * alternative is [[graft.functions.TopKAggregator]]; its
    * equivalence to this query is asserted in TopKAggregatorSpec.
    */
  val topTokensPerLang: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val counts = documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token").asc))
      )
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank").cast("bigint").as("rank"), col("token"), col("n"))
      .orderBy("lang", "rank")
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03):
    * hash every word-3-gram in document order, slide a window of
    * `winnowW` hashes, select each window's minimum (rightmost on
    * ties — the guarantee-density variant), fingerprint = the distinct
    * selections. Unlike [[docFingerprint]]'s single corpus-stable min,
    * winnowing yields a POSITION-AWARE set whose density ~2/(w+1) is
    * guaranteed, the classic local-similarity/plagiarism signature.
    *
    * The tie rule is encoded arithmetically so one windowed `min` does
    * hash-then-rightmost: key = h·2¹⁵ + (2¹⁵−1−pos) (48-bit hash keeps
    * the product inside signed 64; pos wraps at 32 k k-grams — beyond
    * any fixture doc, and at production lengths the wrap only ever
    * relaxes which TIE wins). One shuffle (per-doc window), per-doc
    * partitions — skew-free; the output pins the whole selection set
    * per doc via count + XOR/min/max over the selected hashes.
    */
  private val winnowW = 4

  /** The distinct per-doc winnow selection set (doc_id, n_kgrams, fph)
    * — [[docWinnow]]'s selection stage, factored so the pair route
    * reuses the identical fingerprints.
    */
  private[ops] def winnowSelections(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, winnowW - 1)
    // positions come from an index-lambda transform + plain explode,
    // NOT posexplode: the filter Catalyst infers from a Generate is
    // pushed below the repartition with the whole shingle transform
    // inlined (split re-evaluated inside the lambda), and the
    // posexplode shape paid that 4× at sf0.1 (7.3 s vs 1.7 s measured)
    // while the struct-explode shape stays on the fast path
    val kg = Dedup
      .shingleArrays(docs, "doc_id", "text")
      .select(
        col("doc_id"),
        explode(expr("transform(shingles, (x, i) -> named_struct('pos', i, 'g', x))")).as("sg")
      )
      .select(col("doc_id"), col("sg.pos").as("pos"), col("sg.g").as("g"))
      .withColumn(
        "h",
        expr("CAST(conv(substring(md5(cast(concat('win|', g) as binary)), 1, 12), 16, 10) AS BIGINT)")
      )
      .withColumn("key", col("h") * 32768L + (lit(32767L) - pmod(col("pos"), lit(32768L))))
    kg
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("wmin", min(col("key")).over(frame))
      .filter(col("pos") <= greatest(lit(0L), col("n") - winnowW))
      .select(col("doc_id"), col("n").as("n_kgrams"), expr("wmin div 32768").as("fph"))
      .distinct()
  }

  val docWinnow: Q = (s, d) =>
    winnowSelections(documents(s, d))
      .groupBy(col("doc_id"), col("n_kgrams"))
      .agg(
        count(lit(1)).cast("bigint").as("n_fp"),
        expr("bit_xor(fph)").as("fp_xor"),
        min(col("fph")).as("fp_min"),
        max(col("fph")).as("fp_max")
      )
      .select("doc_id", "n_kgrams", "n_fp", "fp_xor", "fp_min", "fp_max")
      .orderBy("doc_id")

  /** WINNOW-PAIR near-dup detection (the MOSS recipe, corpus scale):
    * documents sharing selected winnow fingerprints pair on the
    * fingerprint hash, scored by shared count over the SMALLER
    * selection set (containment-flavored, so a doc whose selections
    * are mostly inside another's flags even when lengths differ).
    * Robust to paragraph REORDERING, which defeats both fixed-k span
    * digests (order-sensitive windows) and CDC containment less than
    * position-free selections do.
    *
    * Scale guards mirror the blocked-Jaccard route: fingerprints held
    * by more than `maxDocsPerFp` docs are boilerplate and leave pair
    * generation; the remaining equi-join is occurrence-bounded and
    * carries 48-bit hashes, never text.
    */
  def winnowPairs(docs: DataFrame, minOverlapMicro: Long, maxDocsPerFp: Int): DataFrame = {
    val sel = winnowSelections(docs).select(col("doc_id"), col("fph"))
    val sizes = sel.groupBy(col("doc_id")).agg(count(lit(1)).cast("bigint").as("n_fp"))
    val rare = sel
      .groupBy(col("fph"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxDocsPerFp)
      .select("fph")
    val kept = sel.join(rare, "fph")
    kept
      .select(col("doc_id").as("doc_a"), col("fph"))
      .join(kept.select(col("doc_id").as("doc_b"), col("fph")), "fph")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
      .join(
        sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_fp_a")), "doc_a")
      .join(
        sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_fp_b")), "doc_b")
      .withColumn("overlap_micro", expr("n_shared * 1000000 div least(n_fp_a, n_fp_b)"))
      .filter(col("overlap_micro") >= minOverlapMicro)
      .select(
        col("doc_a"), col("doc_b"), col("n_shared"), col("n_fp_a"), col("n_fp_b"),
        col("overlap_micro"))
  }

  val dedupWinnowPairs: Q = (s, d) =>
    winnowPairs(documents(s, d), minOverlapMicro = 500000L, maxDocsPerFp = 8)
      .orderBy("doc_a", "doc_b")

  /** Language-ID CONFUSION matrix — the evaluation view for the
    * heuristic classifier: declared label × predicted label counts
    * (the aggregate accuracy table is lang_id_heuristic; this is the
    * per-cell view error analysis reads). Stateless projection + a
    * (langs × preds)-sized aggregate.
    */
  val langIdConfusion: Q = (s, d) =>
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_en", expr(s"CAST(size(filter(toks, w -> w IN ($stopList))) AS BIGINT)"))
      .withColumn("pred", when(col("n_en") > 0, "en").otherwise("unknown"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
      .orderBy("lang", "pred")

  /** Canonical text normalization — the CCNet-style pre-dedup pass
    * (lowercase, strip non-alphanumerics to spaces, collapse runs,
    * trim), as one codegen'd projection. Normalizing BEFORE hashing is
    * what makes exact/paragraph dedup robust to case and punctuation
    * jitter; the knob stays with the caller (dedup on raw vs
    * normalized text changes semantics deliberately).
    */
  def normalizeText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Gated over fixture text with planted case/punctuation/whitespace
    * noise (the fixture is already canonical — the oracle replays the
    * identical planting, the decontamination parity-split pattern).
    */
  val textNormalize: Q = (s, d) =>
    documents(s, d)
      .withColumn(
        "noisy",
        concat(
          col("text"),
          when(col("doc_id") % 5 === 0, lit("  Extra!!  NOISE?? mixedCase"))
            .otherwise(lit(""))
        )
      )
      .select(
        col("doc_id"),
        normalizeText(col("noisy")).as("norm_text"),
        (length(col("noisy")) =!= length(normalizeText(col("noisy")))).cast("int").cast("bigint")
          .as("changed")
      )
      .orderBy("doc_id")

  /** MARKUP EXTRACTION — the C4/RefinedWeb first stage (crawled pages
    * arrive as HTML; every downstream operator wants text): drop
    * script/style elements WITH their content, strip remaining tags,
    * unescape the common entities (amp last, so `&amp;lt;` cannot
    * double-unescape), collapse whitespace. One codegen'd
    * regexp/replace chain — no UDF, no shuffle; patterns use inline
    * `(?is)` flags and lazy quantifiers only, so Java regex and RE2
    * read them identically (no backreferences — RE2 has none).
    */
  def stripMarkup(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]+>", " ")
    val unescaped = Seq(
      "&lt;" -> "<",
      "&gt;" -> ">",
      "&quot;" -> "\"",
      "&#39;" -> "'",
      "&nbsp;" -> " ",
      "&amp;" -> "&" // last: &amp;lt; must yield &lt;, not <
    ).foldLeft(noTags) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Gated with deterministically planted markup (the planted-PII
    * pattern — fixture text is markup-free): every 4th doc is wrapped
    * in a page skeleton with a style block, an entity-bearing
    * heading, and a script element; the oracle replays the identical
    * construction.
    */
  val markupStrip: Q = (s, d) =>
    documents(s, d)
      .withColumn(
        "marked",
        when(
          col("doc_id") % 4 === 0,
          concat(
            lit("<html><head><style>p{color:red}</style></head><body><h1>Title &amp; More</h1><p>"),
            col("text"),
            lit("</p><script>var x=1;</script></body></html>")
          )
        ).otherwise(col("text"))
      )
      .select(
        col("doc_id"),
        stripMarkup(col("marked")).as("clean_text"),
        (length(col("marked")) - length(stripMarkup(col("marked")))).cast("bigint")
          .as("chars_removed")
      )
      .orderBy("doc_id")

  /** The FULL Gopher quality-rule family (Rae et al. 2021 App. A) —
    * the repetition members live in quality_repetition; these are the
    * composition/structure rules, each as an exact integer-micro
    * signal plus its pass flag, and the conjunction `gopher_pass`:
    *
    *   1. 50 ≤ word count ≤ 100 000
    *   2. 3 ≤ mean word length ≤ 10
    *   3. symbol-to-word ratio (# and …) ≤ 0.1
    *   4. < 90% of lines start with a bullet
    *   5. < 30% of lines end with an ellipsis
    *   6. ≥ 80% of words contain an alphabetic character
    *   7. ≥ 2 of the 8 required stop words present
    *
    * One stateless projection (per-row HOFs + regexp counts), no
    * shuffle — the filter shape every corpus pass wants first.
    */
  private val requiredStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Deterministic plants (the planted-PII pattern — fixture salad is
    * newline-, symbol- and mostly stop-word-free, which would leave
    * rules 3–5 and 7 degenerate): every 3rd doc gains the stop phrase
    * (rule 7 passes), every 7th a `#` burst (rule 3 fails), every
    * 11th a bullet list (rule 4 fails), every 13th ellipsis lines
    * (rule 5 fails). Moduli overlap, so combinations occur; the
    * oracle replays the identical construction (newlines via
    * `chr(10)` on the DuckDB side).
    */
  private val stopPlant = " the story of that work and more"
  private val symbolPlant = " " + Seq.fill(5)("####").mkString(" ")
  private[ops] val bulletItems = (1 to 30).map(i => s"- item$i")
  private val bulletPlant = bulletItems.mkString("\n", "\n", "")
  private val ellipsisPlant = "\nwell...\nso..."

  val gopherRules: Q = (s, d) =>
    documents(s, d)
      .withColumn(
        "text",
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(stopPlant))).otherwise(col("text"))
      )
      .withColumn(
        "text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(symbolPlant))).otherwise(col("text"))
      )
      .withColumn(
        "text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(bulletPlant))).otherwise(col("text"))
      )
      .withColumn(
        "text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(ellipsisPlant))).otherwise(col("text"))
      )
      .withColumn("w", split(col("text"), " "))
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("n_words", size(col("w")).cast("bigint"))
      .withColumn("n_lines", size(col("lines")).cast("bigint"))
      .withColumn(
        "mean_word_len_micro",
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x)) * 1000000 div n_words")
      )
      .withColumn(
        "symbol_ratio_micro",
        expr("""(regexp_count(text, '#') + regexp_count(text, '\\.\\.\\.')) * 1000000 div n_words""")
      )
      .withColumn(
        "bullet_line_micro",
        expr("""size(filter(lines, x -> x rlike '^\\s*[-*•]')) * 1000000 div n_lines""")
      )
      .withColumn(
        "ellipsis_line_micro",
        expr("""size(filter(lines, x -> x rlike '(\\.\\.\\.|…)\\s*$')) * 1000000 div n_lines""")
      )
      .withColumn(
        "alpha_word_micro",
        expr("""size(filter(w, x -> x rlike '[a-zA-Z]')) * 1000000 div n_words""")
      )
      .withColumn(
        "n_req_stops",
        expr(
          s"CAST(size(filter(array(${requiredStops.map(w => s"'$w'").mkString(",")}), s -> array_contains(w, s))) AS BIGINT)"
        )
      )
      .withColumn(
        "gopher_pass",
        (col("n_words").between(50L, 100000L) &&
          col("mean_word_len_micro").between(3000000L, 10000000L) &&
          col("symbol_ratio_micro") <= 100000L &&
          col("bullet_line_micro") < 900000L &&
          col("ellipsis_line_micro") < 300000L &&
          col("alpha_word_micro") >= 800000L &&
          col("n_req_stops") >= 2L).cast("int").cast("bigint")
      )
      .select(
        col("doc_id"), col("n_words"), col("mean_word_len_micro"), col("symbol_ratio_micro"),
        col("bullet_line_micro"), col("ellipsis_line_micro"), col("alpha_word_micro"),
        col("n_req_stops"), col("gopher_pass")
      )
      .orderBy("doc_id")

  /** The winnow selection CTE chain up to `sel` (doc_id, n_kgrams,
    * fph) — shared by the doc_winnow and dedup_winnow_pairs oracles.
    */
  private[ops] lazy val winnowSelSql: String = {
    val hSql = "CAST(" + Dedup.hex12ValSql("md5('win|' || g)", 1) + " AS BIGINT)"
    s"""base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |idx AS (
       |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM base),
       |kg AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       |  FROM idx),
       |keyed AS (
       |  SELECT doc_id, pos,
       |    ($hSql) * 32768 + (32767 - (pos % 32768)) AS key
       |  FROM kg),
       |win AS (
       |  SELECT doc_id, pos,
       |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS wmin
       |  FROM keyed),
       |sel AS (
       |  SELECT DISTINCT doc_id, n AS n_kgrams, wmin // 32768 AS fph
       |  FROM win WHERE pos <= greatest(0, n - $winnowW))""".stripMargin
  }

  lazy val registry: Seq[Query] = Seq(
    Query("gopher_rules", gopherRules, {
      val stops = requiredStops.map(w => s"'$w'").mkString(", ")
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text
         |      || CASE WHEN doc_id % 3 = 0 THEN '$stopPlant' ELSE '' END
         |      || CASE WHEN doc_id % 7 = 0 THEN '$symbolPlant' ELSE '' END
         |      || CASE WHEN doc_id % 11 = 0
         |              THEN replace('${bulletItems.mkString("@", "@", "")}', '@', chr(10))
         |              ELSE '' END
         |      || CASE WHEN doc_id % 13 = 0
         |              THEN chr(10) || 'well...' || chr(10) || 'so...'
         |              ELSE '' END AS text
         |  FROM documents),
         |base AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS w, string_split(text, chr(10)) AS lines
         |  FROM planted),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(list_sum(list_transform(w, x -> len(x))) * 1000000 // len(w) AS BIGINT) AS mean_word_len_micro,
         |    CAST((len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1000000 // len(w) AS BIGINT) AS symbol_ratio_micro,
         |    CAST(len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]'))) * 1000000 // len(lines) AS BIGINT) AS bullet_line_micro,
         |    CAST(len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$$'))) * 1000000 // len(lines) AS BIGINT) AS ellipsis_line_micro,
         |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) * 1000000 // len(w) AS BIGINT) AS alpha_word_micro,
         |    CAST(len(list_filter([$stops], s -> list_contains(w, s))) AS BIGINT) AS n_req_stops
         |  FROM base)
         |SELECT doc_id, n_words, mean_word_len_micro, symbol_ratio_micro,
         |  bullet_line_micro, ellipsis_line_micro, alpha_word_micro, n_req_stops,
         |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
         |        AND mean_word_len_micro BETWEEN 3000000 AND 10000000
         |        AND symbol_ratio_micro <= 100000
         |        AND bullet_line_micro < 900000
         |        AND ellipsis_line_micro < 300000
         |        AND alpha_word_micro >= 800000
         |        AND n_req_stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
         |FROM m ORDER BY doc_id""".stripMargin
    }),
    Query("markup_strip", markupStrip,
      """WITH marked AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN '<html><head><style>p{color:red}</style></head><body><h1>Title &amp; More</h1><p>'
        |              || text || '</p><script>var x=1;</script></body></html>'
        |         ELSE text END AS marked
        |  FROM documents),
        |stripped AS (
        |  SELECT doc_id, marked,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(marked, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<[^>]+>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean_text
        |  FROM marked)
        |SELECT doc_id, clean_text,
        |  CAST(length(marked) - length(clean_text) AS BIGINT) AS chars_removed
        |FROM stripped ORDER BY doc_id""".stripMargin),
    Query("text_normalize", textNormalize,
      """WITH noisy AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 5 = 0 THEN '  Extra!!  NOISE?? mixedCase' ELSE '' END AS noisy
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, noisy,
        |    trim(regexp_replace(regexp_replace(lower(noisy), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |  FROM noisy)
        |SELECT doc_id, norm_text,
        |  CAST(CASE WHEN length(noisy) <> length(norm_text) THEN 1 ELSE 0 END AS BIGINT) AS changed
        |FROM n ORDER BY doc_id""".stripMargin),
    Query("doc_winnow", docWinnow,
      s"""WITH $winnowSelSql
         |SELECT doc_id, n_kgrams,
         |  CAST(count(*) AS BIGINT) AS n_fp,
         |  CAST(bit_xor(fph) AS BIGINT) AS fp_xor,
         |  CAST(min(fph) AS BIGINT) AS fp_min,
         |  CAST(max(fph) AS BIGINT) AS fp_max
         |FROM sel GROUP BY doc_id, n_kgrams ORDER BY doc_id""".stripMargin),
    Query("dedup_winnow_pairs", dedupWinnowPairs,
      s"""WITH $winnowSelSql,
         |s2 AS (SELECT DISTINCT doc_id, fph FROM sel),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM s2 GROUP BY doc_id),
         |rare AS (SELECT fph FROM s2 GROUP BY fph HAVING count(*) <= 8),
         |kept AS (SELECT s2.* FROM s2 JOIN rare USING (fph)),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept a JOIN kept b ON a.fph = b.fph AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT p.doc_a, p.doc_b, p.n_shared, sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
         |  CAST(p.n_shared * 1000000 // least(sa.n_fp, sb.n_fp) AS BIGINT) AS overlap_micro
         |FROM pairs p
         |JOIN sizes sa ON sa.doc_id = p.doc_a
         |JOIN sizes sb ON sb.doc_id = p.doc_b
         |WHERE p.n_shared * 1000000 // least(sa.n_fp, sb.n_fp) >= 500000
         |ORDER BY p.doc_a, p.doc_b""".stripMargin),
    Query("lang_id_confusion", langIdConfusion,
      s"""SELECT lang,
         |  CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) > 0
         |       THEN 'en' ELSE 'unknown' END AS pred,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin),
    Query("text_stats", textStats,
      s"""SELECT doc_id, lang,
         |  CAST(length(text) AS BIGINT) AS n_chars2,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS BIGINT) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
         |  CAST(floor(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) * 100.0
         |             / len(string_split(text, ' '))) AS BIGINT) AS stop_pct,
         |  CASE WHEN len(string_split(text, ' ')) >= 20
         |        AND CAST(floor(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) * 100.0
         |                       / len(string_split(text, ' '))) AS BIGINT) BETWEEN 2 AND 60
         |       THEN 'ok' ELSE 'low' END AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),
    Query("token_count", tokenCount,
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
        |  CAST(floor(length(text) * 100.0 / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
        |    AS chars_per_token_pct
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("lang_id_heuristic", langIdHeuristic,
      s"""WITH scored AS (
         |  SELECT lang,
         |    CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) > 0
         |         THEN 'en' ELSE 'unknown' END AS pred
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin),
    Query("doc_fingerprint", docFingerprint,
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(w)-2),
        |                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))
        |SELECT doc_id, min(md5('fp|' || shingle)) AS fingerprint
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("top_tokens_per_lang", topTokensPerLang,
      """WITH counts AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |agg AS (
        |  SELECT lang, token, CAST(count(*) AS BIGINT) AS n
        |  FROM counts GROUP BY lang, token),
        |ranked AS (
        |  SELECT lang, token, n,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS BIGINT) AS rank
        |  FROM agg)
        |SELECT lang, rank, token, n FROM ranked WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin)
  )
}
