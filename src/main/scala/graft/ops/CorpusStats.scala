package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Query.FirstRun

/** Corpus-statistics operators: TF-IDF term ranking and unigram
  * language-model scoring (the CCNet/KenLM "perplexity filter" in its
  * engine-native unigram form — the model is a knob, the corpus-stats
  * → broadcast-model → per-doc-score shape is the operator).
  *
  * Both operators compute REAL-valued scores but carry them as exact
  * integer micro-units (`floor(ln(x) · 1e6)` per MODEL ENTRY, summed
  * as BIGINT): floating-point summation is order-dependent, and a
  * hash-compared oracle cannot tolerate "same up to 1e-12" — so the
  * only float op is a per-vocab-entry log whose floor is pinned once,
  * and everything that aggregates is integer arithmetic, associative
  * in any execution order on both engines.
  */
object CorpusStats {
  import Fixtures._

  private val micro = 1e6

  /** (doc_id, token, tf) — whitespace tokens, duplicates counted. */
  private def termFreq(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** Top-3 TF-IDF terms per document. Corpus side: document frequency
    * per token + the document count (one scalar, broadcast). Scoring:
    * tf · floor(ln((N+1)/(df+1)) · 1e6) — smoothed IDF in micro-units,
    * so ranking and output are exact integers. The vocabulary relation
    * is tokens, not documents — at 100 TB it is MBs and broadcasts;
    * per-doc ranking windows partition by doc_id (a partition is one
    * document — never skewed).
    */
  val tfidfTopTerms: Q = (s, d) => tfidfCore(documents(s, d), None)

  /** Core of [[tfidfTopTerms]], with the same explicit broadcast bound
    * as [[docUnigramNllCapped]]: `vocabCap = Some(v)` keeps the top-v
    * tokens by document frequency (token asc tie-break) and scores all
    * other tokens with one pooled OOV idf — df(oov) = number of
    * documents containing ANY out-of-vocabulary token (one extra
    * linear aggregate over the tf relation, no broadcast growth). The
    * broadcast model is ≤ v rows + one scalar at any corpus size.
    */
  private[ops] def tfidfCore(docs: DataFrame, vocabCap: Option[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFreq(docs)
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val dfAll = tf.groupBy(col("token")).agg(countDistinct(col("doc_id")).as("df"))
    val dfKept = vocabCap match {
      case Some(v) => dfAll.orderBy(col("df").desc, col("token").asc).limit(v)
      case None    => dfAll
    }
    val model = dfKept
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "idf_micro",
        floor(log((col("n_docs") + 1).cast("double") / (col("df") + 1)) * micro).cast("bigint")
      )
      .select(col("token"), col("df").cast("bigint").as("df"), col("idf_micro"))
    val scored = vocabCap match {
      case None => tf.join(broadcast(model), "token")
      case Some(_) =>
        val oov = tf
          .join(dfKept.select(col("token")), Seq("token"), "left_anti")
          .agg(coalesce(countDistinct(col("doc_id")), lit(0L)).as("df_oov"))
          .crossJoin(broadcast(nDocs))
          .withColumn(
            "oov_idf_micro",
            floor(log((col("n_docs") + 1).cast("double") / (col("df_oov") + 1)) * micro).cast("bigint")
          )
          .select(col("df_oov").cast("bigint").as("df_oov"), col("oov_idf_micro"))
        tf.join(broadcast(model), Seq("token"), "left")
          .crossJoin(broadcast(oov))
          .withColumn("df", coalesce(col("df"), col("df_oov")))
          .withColumn("idf_micro", coalesce(col("idf_micro"), col("oov_idf_micro")))
    }
    scored
      .withColumn("score_micro", (col("tf") * col("idf_micro")).cast("bigint"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score_micro").desc, col("token").asc)
        )
      )
      .filter(col("rank") <= 3)
      .select(
        col("doc_id"),
        col("rank").cast("bigint").as("rank"),
        col("token"),
        col("tf").cast("bigint").as("tf"),
        col("df"),
        col("score_micro")
      )
      .orderBy("doc_id", "rank")
  }

  /** Unigram-LM negative log-likelihood per document, self-trained on
    * the corpus: p(t) = count(t) / total tokens; score = Σ_tokens
    * floor(-ln p(t))·1e6) / n_tokens. The model is (vocab → micro-nll)
    * — MBs, broadcast; scoring is one map-side join + integer
    * aggregate. High avg-nll = improbable text (the drop signal);
    * self-training makes the fixture deterministic, a real pipeline
    * points the model at a held-out reference corpus.
    */
  /** The per-doc unigram-NLL core of [[perplexityScore]], reused by
    * the composed quality-features view (identical expressions, so the
    * two gates pin the same numbers).
    */
  private[ops] def docUnigramNll(docs: DataFrame): DataFrame =
    docUnigramNllCapped(docs, None)

  /** [[docUnigramNll]] with an EXPLICIT broadcast bound: `vocabCap =
    * Some(v)` keeps the top-v tokens (by corpus count, token asc
    * tie-break) as model entries and folds everything else into one
    * OOV bucket carrying the REMAINING probability mass — p(oov) =
    * (N − Σ_top-v c) / N, the standard closed-vocabulary construction
    * (CCNet caps its vocab the same way before training). The
    * broadcast relation is then ≤ v+1 rows BY CONSTRUCTION at any
    * corpus size; `None` broadcasts the full self-trained vocab (the
    * fixture/oracle regime — vocab-sized, not corpus-sized, but
    * unbounded in principle, which is why the cap exists).
    */
  private[ops] def docUnigramNllCapped(docs: DataFrame, vocabCap: Option[Int]): DataFrame = {
    val tf = termFreq(docs)
    val total = tf.agg(sum(col("tf")).as("total"))
    val counts = tf.groupBy(col("token")).agg(sum(col("tf")).as("n"))
    val kept = vocabCap match {
      case Some(v) => counts.orderBy(col("n").desc, col("token").asc).limit(v)
      case None    => counts
    }
    val model = kept
      .crossJoin(broadcast(total))
      .withColumn(
        "nll_micro",
        floor(-log(col("n").cast("double") / col("total")) * micro).cast("bigint")
      )
      .select(col("token"), col("nll_micro"))
    val scored = tf.join(broadcast(model), Seq("token"), "left")
    val withOov = vocabCap match {
      case None => scored // full vocab: every token matches
      case Some(_) =>
        // one scalar: nll of the pooled OOV mass (never null — if the
        // cap swallowed nothing, no row uses it)
        val oov = kept
          .agg(sum(col("n")).as("kept_mass"))
          .crossJoin(broadcast(total))
          .withColumn(
            "oov_nll_micro",
            // the guard branch is never JOINED to (no OOV rows exist
            // when the cap swallowed nothing) — it only keeps ln(0)
            // out of the 1-row model computation
            when(
              col("total") > col("kept_mass"),
              floor(-log((col("total") - col("kept_mass")).cast("double") / col("total")) * micro).cast("bigint")
            ).otherwise(lit(Long.MaxValue))
          )
          .select(col("oov_nll_micro"))
        scored
          .crossJoin(broadcast(oov))
          .withColumn("nll_micro", coalesce(col("nll_micro"), col("oov_nll_micro")))
    }
    withOov
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("bigint").as("n_tokens"),
        sum(col("tf") * col("nll_micro")).cast("bigint").as("total_nll_micro")
      )
      .withColumn(
        "avg_nll_micro",
        floor(col("total_nll_micro") / col("n_tokens")).cast("bigint")
      )
  }

  val perplexityScore: Q = (s, d) => docUnigramNll(documents(s, d)).orderBy("doc_id")

  /** The (token → micro-NLL) unigram model relation on its own — the
    * PERSISTABLE artifact of the CCNet-style LM filter (train on the
    * reference corpus once, score arriving text forever). Same
    * construction as [[docUnigramNllCapped]]'s full-vocab model.
    */
  private[graft] def unigramModel(docs: DataFrame): DataFrame = {
    val tf = termFreq(docs)
    val total = tf.agg(sum(col("tf")).as("total"))
    tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("n"))
      .crossJoin(broadcast(total))
      .withColumn(
        "nll_micro",
        floor(-log(col("n").cast("double") / col("total")) * micro).cast("bigint")
      )
      .select(col("token"), col("nll_micro"))
  }

  /** Score any (doc_id, text) frame against a prepared model — the
    * serving half of the artifact lifecycle; identical expressions to
    * [[docUnigramNll]]'s scoring tail, so scoring the training corpus
    * against its own persisted model reproduces perplexity_score
    * bit for bit (tokens unseen by the model drop, the closed-
    * vocabulary convention).
    */
  private[graft] def scoreWithUnigramModel(docs: DataFrame, model: DataFrame): DataFrame =
    termFreq(docs)
      .join(broadcast(model), "token")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("bigint").as("n_tokens"),
        sum(col("tf") * col("nll_micro")).cast("bigint").as("total_nll_micro")
      )
      .withColumn(
        "avg_nll_micro",
        floor(col("total_nll_micro") / col("n_tokens")).cast("bigint")
      )

  /** DuckDB fragment matching [[docUnigramNll]] — exposes `unll`
    * (doc_id, avg_nll_micro) for composition into other oracles.
    */
  private[ops] def nllDuckSql(src: String): String =
    s"""utf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM $src),
       |utfc AS (SELECT doc_id, token, count(*) AS tf FROM utf GROUP BY doc_id, token),
       |utot AS (SELECT sum(tf) AS total FROM utfc),
       |umodel AS (
       |  SELECT token,
       |    CAST(floor(-ln(sum(tf) / (SELECT CAST(total AS DOUBLE) FROM utot)) * 1000000) AS BIGINT) AS nll_micro
       |  FROM utfc GROUP BY token),
       |unll AS (
       |  SELECT t.doc_id,
       |    CAST(floor(sum(t.tf * m.nll_micro) / sum(t.tf)) AS BIGINT) AS avg_nll_micro
       |  FROM utfc t JOIN umodel m ON m.token = t.token GROUP BY t.doc_id)""".stripMargin

  /** BIGRAM-interpolated LM scoring — one KenLM ladder rung above
    * [[perplexityScore]]: p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N
    * (λ = 0.7, Jelinek–Mercer interpolation, self-trained like the
    * unigram). Oracle discipline as everywhere in this file: the ONLY
    * float math is one interpolation + ln per distinct MODEL bigram,
    * pinned to integer micro-units by floor; per-doc scoring is
    * integer multiply-accumulate, associative in any execution order.
    * The model is the distinct-bigram relation — at web scale that is
    * billions of rows (KenLM artifacts over web corpora run tens of
    * GB), far past any broadcast bound, so NO join here carries a
    * broadcast hint except the one-row grand total: the scoring join
    * and the model-build joins shuffle on their keys (linear,
    * AQE-skew-safe), and AQE still auto-broadcasts whenever a side is
    * actually small (the fixture regime).
    */
  val bigramPerplexity: Q = (s, d) => bigramNllPruned(documents(s, d), minCount = 1L)

  /** [[bigramPerplexity]] with the model PRUNED to bigrams seen at
    * least `minCount` times — the KenLM-style size lever (singleton
    * bigrams are most of a web model's mass and carry the least
    * signal). Pruned bigrams do not vanish from scoring: they fall
    * back to the interpolation's unigram term alone, p = (1−λ)·c(w₂)/N
    * — exactly what JM assigns an UNSEEN bigram — so every document
    * still scores all of its bigrams and the score degrades smoothly
    * as the model shrinks. c(w₁·) stays the UNpruned left-context
    * count (pruning compresses storage, it must not re-normalize the
    * surviving estimates). minCount = 1 is bit-identical to the full
    * model (every bigram matches, no fallback row fires).
    */
  private[ops] def bigramNllPruned(docsDf: DataFrame, minCount: Long): DataFrame = {
    // per-doc bigram counts; <2-word docs contribute no rows (both
    // engines agree: guarded transform vs empty generate_series)
    val bg = docsDf
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        explode(
          when(
            size(col("w")) >= 2,
            expr("transform(sequence(0, size(w) - 2), i -> named_struct('g1', w[i], 'g2', w[i+1]))")
          ).otherwise(array())
        ).as("g")
      )
      .select(col("doc_id"), col("g.g1").as("g1"), col("g.g2").as("g2"))
      .groupBy(col("doc_id"), col("g1"), col("g2"))
      .agg(count(lit(1)).as("bc"))
    val global = bg.groupBy(col("g1"), col("g2")).agg(sum(col("bc")).as("cb"))
    // c(w1.) over the UNPRUNED counts — see scaladoc
    val c1 = global.groupBy(col("g1")).agg(sum(col("cb")).as("c1"))
    val tf = termFreq(docsDf)
    val uni = tf.groupBy(col("token")).agg(sum(col("tf")).as("cu"))
    val total = tf.agg(sum(col("tf")).as("n"))
    val model = global
      .filter(col("cb") >= minCount)
      .join(c1, "g1")
      .join(uni.withColumnRenamed("token", "g2"), "g2")
      .crossJoin(broadcast(total))
      .withColumn(
        "nll2_micro",
        floor(
          -log(
            lit(0.7) * (col("cb").cast("double") / col("c1")) +
              lit(0.3) * (col("cu").cast("double") / col("n"))
          ) * micro
        ).cast("bigint")
      )
      .select(col("g1"), col("g2"), col("nll2_micro"))
    // unigram-backoff term for bigrams the prune dropped: the JM
    // unseen-bigram estimate (1-lambda)*c(w2)/N, joined on g2 (a
    // vocab-keyed shuffle join, AQE-broadcast when small)
    val backoff = uni
      .withColumnRenamed("token", "g2")
      .crossJoin(broadcast(total))
      .withColumn(
        "bk_nll_micro",
        floor(-log(lit(0.3) * (col("cu").cast("double") / col("n"))) * micro).cast("bigint")
      )
      .select(col("g2"), col("bk_nll_micro"))
    bg.join(model, Seq("g1", "g2"), "left")
      .join(backoff, Seq("g2"))
      .withColumn("nll2_micro", coalesce(col("nll2_micro"), col("bk_nll_micro")))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("bc")).cast("bigint").as("n_bigrams"),
        sum(col("bc") * col("nll2_micro")).cast("bigint").as("total_nll2_micro")
      )
      .withColumn("avg_nll2_micro", expr("total_nll2_micro div n_bigrams"))
      .orderBy("doc_id")
  }

  /** Token-count histogram per language — the shape the mixture
    * planner reads before setting per-stratum budgets (length skew
    * per stratum decides packing and keep rates). Buckets of 10
    * tokens, capped at 15+: a fixed-width histogram is one stateless
    * projection + a (lang × bucket)-cardinality aggregate, trivially
    * mergeable at any scale.
    */
  /** SKETCH-PREFILTERED heavy hitters: exact counts for every token
    * above a frequency floor WITHOUT shuffling the distinct-token
    * space. Exact top-token queries shuffle one row per distinct
    * token per map partition (map-side combine's floor) — at 100 TB
    * the distinct space is billions of typo/id tokens and that
    * shuffle dominates. This operator pays two corpus scans instead:
    *
    *  1. COUNTER pass — a count-min sketch built as plain
    *     aggregation: depth×width integer counters keyed by
    *     xxhash64(salt_i ‖ token) mod width. The groupBy key space is
    *     ≤ depth×width (fixture 4×1024), so partial aggregation caps
    *     the shuffle at depth×width rows PER PARTITION no matter how
    *     many distinct tokens exist. The tiny table collects to the
    *     driver and re-enters the plan as TYPED array literals (the
    *     PQ-codebook pattern — no SQL-text re-parse, no UDF).
    *  2. PROBE pass — estimate = least(counter_i[slot_i]) per token
    *     occurrence, all inside whole-stage codegen; occurrences
    *     below the floor die map-side, and the exact groupBy recount
    *     touches only survivors.
    *
    * CMS never underestimates (each counter is a true sum over the
    * tokens colliding there), so the prefilter has NO false
    * negatives; overestimated light tokens that sneak through are
    * removed by the exact recount's HAVING. The output is therefore
    * bit-identical to the plain exact query — which is exactly what
    * the DuckDB oracle runs.
    */
  /** CMS slot expression for depth-row `i`: xxhash64(salt_i ‖ token)
    * mod width — shared by the batch counter pass, the streaming
    * counter aggregation and the probe pass (all three MUST hash
    * identically or estimates stop being upper bounds).
    */
  private[graft] def cmsSlot(i: Int, width: Int): Column =
    pmod(xxhash64(concat(lit(s"cms$i|"), col("token"))), lit(width.toLong)).cast("int")

  /** (row, slot) counter increments for a token relation — the CMS
    * counter table as a plain aggregation. The groupBy key space is
    * ≤ depth×width, so partial aggregation caps the shuffle at
    * depth×width rows per partition; in a STREAMING aggregation the
    * same bound caps the state store size — a streaming-native CMS.
    */
  private[graft] def cmsCounters(toks: DataFrame, width: Int, depth: Int): DataFrame =
    toks
      .select(
        explode(
          array((0 until depth).map(i => struct(lit(i).as("row"), cmsSlot(i, width).as("slot"))): _*)
        ).as("rs")
      )
      .groupBy(col("rs.row").as("row"), col("rs.slot").as("slot"))
      .agg(count(lit(1)).cast("bigint").as("cnt"))

  /** Probe pass over collected counters: estimate = least over depth
    * rows via typed array literals (codegen'd, no UDF), prefilter at
    * the floor, exact recount of survivors only.
    */
  private[graft] def cmsProbe(
      toks: DataFrame,
      counterRows: Seq[(Int, Int, Long)],
      minCount: Long,
      width: Int,
      depth: Int
  ): DataFrame = {
    val table = Array.fill(depth)(Array.fill(width)(0L))
    counterRows.foreach { case (r, s, c) => table(r)(s) = c }
    val estimate = (0 until depth)
      .map(i => element_at(typedLit(table(i).toSeq), cmsSlot(i, width) + 1))
      .reduce(least(_, _))
    toks
      .filter(estimate >= minCount)
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .filter(col("n") >= minCount)
  }

  def tokenSketchTopK(
      docs: DataFrame,
      textCol: String,
      minCount: Long,
      width: Int = 1024,
      depth: Int = 4
  ): DataFrame = {
    val toks = docs.select(explode(split(col(textCol), " ")).as("token"))
    val counters = cmsCounters(toks, width, depth)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .toSeq
    cmsProbe(toks, counters, minCount, width, depth)
  }

  val sketchTopkTokens: Q = (s, d) =>
    tokenSketchTopK(documents(s, d), "text", 500L)
      .orderBy(desc("n"), col("token"))

  val tokenHistogram: Q = (s, d) =>
    documents(s, d)
      .select(col("lang"), size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .withColumn("bucket", least(expr("n_tokens div 10"), lit(15L)))
      .groupBy(col("lang"), col("bucket"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("tokens")
      )
      .orderBy("lang", "bucket")

  /** CCNet's head/middle/tail SPLIT: per language, bucket documents
    * by perplexity terciles — "head" is the most-fluent third that
    * CCNet keeps outright, "tail" the third it usually drops. The
    * published recipe computes percentile THRESHOLDS once and then
    * assigns by comparison, and that is exactly the scale-correct
    * shape — NOT a per-language ntile window, which would sort every
    * language's documents in one partition:
    *
    *   1. avg-NLL is already an integer, so the per-language score
    *      HISTOGRAM (lang × distinct value counts) is exact and
    *      value-cardinality-sized — the only window runs over that
    *      histogram, never over documents.
    *   2. Tercile thresholds = the smallest value whose cumulative
    *      count reaches ⌈n/3⌉ / ⌈2n/3⌉ (ties land in the lower
    *      bucket together: threshold semantics, the CCNet behavior —
    *      bucket sizes are near-thirds, not exact thirds).
    *   3. Assignment is a broadcast threshold join + one comparison,
    *      map-side over the corpus.
    */
  def perplexityBuckets(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored
      .groupBy(col("lang"), col("avg_nll_micro"))
      .agg(count(lit(1)).cast("bigint").as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("avg_nll_micro"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    val thr = cum
      .groupBy(col("lang"))
      .agg(
        min(when(col("cum") >= expr("(n + 2) div 3"), col("avg_nll_micro"))).as("t1"),
        min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("avg_nll_micro"))).as("t2")
      )
    scored
      .join(broadcast(thr), "lang")
      .withColumn(
        "bucket",
        when(col("avg_nll_micro") <= col("t1"), "head")
          .when(col("avg_nll_micro") <= col("t2"), "middle")
          .otherwise("tail")
      )
      .groupBy(col("lang"), col("bucket"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        min(col("avg_nll_micro")).as("min_avg_nll_micro"),
        max(col("avg_nll_micro")).as("max_avg_nll_micro")
      )
  }

  val ccnetPerplexityBuckets: Q = (s, d) => {
    val docs = documents(s, d)
    perplexityBuckets(
      docUnigramNll(docs)
        .select(col("doc_id"), col("avg_nll_micro"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    ).orderBy("lang", "bucket")
  }

  /** The CORPUS DATASHEET — the per-language summary a dataset card
    * cites (the "Datasheets for Datasets" practice): volume (docs,
    * tokens, chars), redundancy (exact-duplicate docs under the
    * keep-earliest rule), and the stats-rule quality pass count, in
    * one aggregation pass plus the digest-keyed dup marking join.
    * Each number is definitionally identical to its standalone
    * operator (text_stats quality rule, exactDedup keep policy), so
    * the datasheet can never disagree with the pipeline that acts on
    * those signals.
    */
  val corpusDatasheet: Q = (s, d) => {
    val docs = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("bigint"))
      .withColumn(
        "n_stop",
        expr(s"CAST(size(filter(toks, w -> w IN (${TextAnalysis.stopList}))) AS BIGINT)")
      )
      .withColumn("stop_pct", expr("CAST(floor(n_stop * 100.0 / n_tokens) AS BIGINT)"))
      .withColumn("h", md5(col("text").cast("binary")))
    val keeper = docs.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    docs
      .join(keeper, "h")
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("int"))
      .withColumn(
        "q_pass",
        when(col("n_tokens") >= 20 && col("stop_pct").between(2, 60), 1).otherwise(0)
      )
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("n_tokens"),
        sum(length(col("text"))).cast("bigint").as("total_chars"),
        sum(col("is_dup")).cast("bigint").as("n_exact_dup_docs"),
        sum(col("q_pass")).cast("bigint").as("n_quality_pass")
      )
      .withColumn("dup_doc_micro", expr("n_exact_dup_docs * 1000000 div n_docs"))
      .orderBy("lang")
  }

  /** Corpus GROWTH curve — dedup saturation and vocabulary growth as
    * the corpus accretes (Heaps'-law readout): arrival order bucketed
    * into `nBuckets` equal id ranges; per bucket, how many documents
    * were already-seen content (exact-dup non-keepers — the rate a
    * crawl's marginal value decays at) and how many NEVER-seen tokens
    * first appeared there. The curve is what capacity planning reads:
    * a flattening new-token curve + rising dup rate says more crawl
    * buys less data.
    *
    * Scale shape: keeper and first-appearance are both linear
    * digest/token-keyed aggregates (the exactDedup shape); the bucket
    * boundary needs only the 1-row max id (broadcast); the final
    * aggregate is nBuckets rows. No windows, nothing corpus-sized on
    * the driver.
    */
  def corpusGrowth(docs: DataFrame, idCol: String, textCol: String, nBuckets: Int): DataFrame = {
    val ids = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val mx = ids.agg(max(col("doc_id")).as("max_id"))
    val bucketed = ids
      .crossJoin(broadcast(mx))
      .withColumn("bucket", expr(s"doc_id div (max_id div $nBuckets + 1)").cast("bigint"))
    val keep = bucketed
      .withColumn("h", md5(col("text").cast("binary")))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val docAgg = bucketed
      .withColumn("h", md5(col("text").cast("binary")))
      .join(keep, "h")
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("int").cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("is_dup")).cast("bigint").as("n_dup_docs")
      )
    val tokNew = ids
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_id"))
      .crossJoin(broadcast(mx))
      .withColumn("bucket", expr(s"first_id div (max_id div $nBuckets + 1)").cast("bigint"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_new_tokens"))
    docAgg
      .join(tokNew, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_tokens"))
      .withColumn("dup_micro", expr("n_dup_docs * 1000000 div n_docs"))
      .select(
        col("bucket"), col("n_docs"), col("n_dup_docs"), col("dup_micro"), col("n_new_tokens"))
      .orderBy("bucket")
  }

  private val growthBuckets = 10

  val corpusGrowthQ: Q = (s, d) => corpusGrowth(documents(s, d), "doc_id", "text", growthBuckets)

  /** SOURCE CONCENTRATION datasheet — per language: how many sources
    * feed it, which source dominates (by token mass, ties to the
    * lexicographically first name), the dominant share, and the
    * Shannon entropy of the source distribution in micro-nats. The
    * governance screen for "is this language really one website":
    * high top-share / low entropy says the corpus's apparent volume
    * is one source's voice.
    *
    * Determinism discipline: each (lang, source) contributes ONE
    * entropy term −p·ln(p) floored to integer micro-units (one float
    * op per source, the NLL precedent — written in the same canonical
    * order on both engines), and the per-language sum is integer.
    * The only window runs over (lang, source) rows — source
    * cardinality, never documents.
    */
  def sourceConcentration(docs: DataFrame, langCol: String, sourceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSrc = docs
      .withColumn("n_toks", size(split(col("text"), " ")).cast("bigint"))
      .groupBy(col(langCol).as("lang"), col(sourceCol).as("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"), sum(col("n_toks")).cast("bigint").as("toks"))
    val w = Window.partitionBy(col("lang"))
    perSrc
      .withColumn("total_tokens", sum(col("toks")).over(w))
      .withColumn(
        "term_micro",
        expr(
          "CAST(floor(-(CAST(toks AS DOUBLE) / total_tokens) " +
            "* ln(CAST(toks AS DOUBLE) / total_tokens) * 1000000) AS BIGINT)"
        )
      )
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("bigint").as("n_sources"),
        first(col("total_tokens")).cast("bigint").as("total_tokens"),
        min(struct((-col("toks")).as("nt"), col("source").as("src"))).as("m"),
        sum(col("term_micro")).cast("bigint").as("entropy_micro")
      )
      .withColumn("top_source", col("m.src"))
      .withColumn("top_share_micro", expr("(-m.nt) * 1000000 div total_tokens"))
      .select(
        col("lang"), col("n_sources"), col("total_tokens"), col("top_source"),
        col("top_share_micro"), col("entropy_micro"))
      .orderBy("lang")
  }

  val sourceConcentrationQ: Q = (s, d) => sourceConcentration(documents(s, d), "lang", "source")

  /** PMI collocations — the top-k word pairs by pointwise mutual
    * information, PMI(w₁,w₂) = ln(p(w₁w₂) / (p(w₁)p(w₂))), with a
    * minimum pair count (rare pairs have unreliable PMI and would
    * dominate the ranking): the classic collocation-extraction stat
    * (Church & Hanks 1990) a corpus linguistics review or a
    * tokenizer-vocab audit reads.
    *
    * Determinism: one ln per SURVIVING bigram type over an argument
    * assembled in one canonical operation order on both engines,
    * floored to integer micro-nats; the top-k is a total order
    * (pmi desc, pair asc) planned as TakeOrderedAndProject. Counts
    * are linear token/bigram aggregates; the 1-row totals broadcast.
    */
  def pmiTopPairs(docs: DataFrame, textCol: String, minCount: Long, k: Int): DataFrame = {
    val words = docs.select(split(col(textCol), " ").as("w"))
    val toks = words.select(explode(col("w")).as("t"))
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).cast("bigint").as("c"))
    val n1 = toks.agg(count(lit(1)).cast("bigint").as("n1"))
    val bg = words
      .filter(size(col("w")) >= 2)
      .select(
        explode(expr("transform(sequence(0, size(w) - 2), i -> named_struct('w1', w[i], 'w2', w[i + 1]))"))
          .as("b")
      )
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val nb = bg.agg(count(lit(1)).cast("bigint").as("nb"))
    bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("bigint").as("c12"))
      .filter(col("c12") >= minCount)
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(nb))
      .withColumn(
        "pmi_micro",
        expr(
          "CAST(floor(ln(((((CAST(c12 AS DOUBLE) * n1) * n1) / nb) / c1) / c2) * 1000000) AS BIGINT)"
        )
      )
      .orderBy(desc("pmi_micro"), asc("w1"), asc("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c12"), col("pmi_micro"))
  }

  private val pmiMinCount = 5L
  private val pmiK = 50

  val pmiTopPairsQ: Q = (s, d) => pmiTopPairs(documents(s, d), "text", pmiMinCount, pmiK)

  /** ZIPF FIT — per language, the least-squares slope of log-frequency
    * against log-rank over the type distribution (the corpus-health
    * staple: natural language sits near −1; templated/boilerplate
    * corpora flatten, spam steepens). Reported as the NEGATED slope in
    * micro-units so every division operand is positive — Spark's `div`
    * truncates and DuckDB's `//` floors, and they only agree on
    * positives; an anti-Zipf (non-negative-slope) corpus reports 0.
    *
    * Determinism: one floored ln per (lang, type) row for x = ln rank
    * and y = ln freq in MILLI-units (keeps every regression sum inside
    * signed 64 at any realistic vocab), then the slope is pure integer
    * arithmetic via two-step long division. The rank window runs over
    * (lang × type) rows — vocabulary-sized, never documents (the CCNet
    * tercile discipline).
    */
  def zipfFit(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(langCol).as("lang"), explode(split(col(textCol), " ")).as("t"))
      .groupBy(col("lang"), col("t"))
      .agg(count(lit(1)).cast("bigint").as("c"))
    tf
      .withColumn(
        "r",
        row_number()
          .over(Window.partitionBy(col("lang")).orderBy(desc("c"), asc("t")))
          .cast("long")
      )
      .withColumn("x", expr("CAST(floor(ln(CAST(r AS DOUBLE)) * 1000) AS BIGINT)"))
      .withColumn("y", expr("CAST(floor(ln(CAST(c AS DOUBLE)) * 1000) AS BIGINT)"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("bigint").as("n_types"),
        sum(col("c")).cast("bigint").as("n_tokens"),
        sum(col("x")).cast("bigint").as("sx"),
        sum(col("y")).cast("bigint").as("sy"),
        sum(col("x") * col("x")).cast("bigint").as("sxx"),
        sum(col("x") * col("y")).cast("bigint").as("sxy")
      )
      .withColumn("numer", expr("greatest(sx * sy - n_types * sxy, 0L)"))
      .withColumn("denom", expr("n_types * sxx - sx * sx"))
      .withColumn(
        "neg_slope_micro",
        expr(
          "CASE WHEN denom <= 0 THEN 0 ELSE (numer * 1000) div denom * 1000 " +
            "+ ((numer * 1000) % denom) * 1000 div denom END"
        )
      )
      .select(col("lang"), col("n_types"), col("n_tokens"), col("neg_slope_micro"))
      .orderBy("lang")
  }

  val zipfFitQ: Q = (s, d) => zipfFit(documents(s, d), "lang", "text")

  /** CUBE rollup of the corpus volume datasheet — every (lang ×
    * source) cell plus both marginals and the grand total in ONE
    * grouping-sets pass (Spark expands the cube into a single
    * shuffle; the alternative — four separate aggregations — scans
    * the corpus four times). Aggregated dimensions render as '(all)'
    * (fixture dims are never null, so the label is unambiguous).
    */
  val corpusCubeQ: Q = (s, d) =>
    documents(s, d)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("bigint"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"), sum(col("n_toks")).cast("bigint").as("tokens"))
      .select(
        coalesce(col("lang"), lit("(all)")).as("lang_g"),
        coalesce(col("source"), lit("(all)")).as("source_g"),
        col("n_docs"),
        col("tokens")
      )
      .orderBy("lang_g", "source_g")

  /** LINEAR-COUNTING distinct sketch (Whang et al. 1990): hash each
    * value into one of m buckets with the engine-portable md5 draw
    * (`lc|` domain), count OCCUPIED buckets V — a bounded-cardinality
    * aggregate: the shuffle carries at most m bucket ids however many
    * input rows — and estimate n̂ = −m·ln(1 − V/m). The CMS's sibling
    * for the other sketch question (how MANY distincts, vs how OFTEN
    * each): at 100 TB the occupancy aggregate IS the whole cost,
    * mergeable across partitions and micro-batches (union of occupied
    * sets), while exact countDistinct shuffles every distinct value.
    * The report rides the exact count alongside at fixture scale as
    * the accuracy gate. One float op (the ln), floored to milli,
    * canonical operation order in both engines; a saturated sketch
    * (V = m) reports NULL rather than ±∞.
    */
  /** The sketch's bucket assignment — engine-portable md5 draw, `lc|`
    * domain; shared by the global, grouped and streaming forms.
    */
  private[graft] def lcBucketCol(value: org.apache.spark.sql.Column, m: Int): org.apache.spark.sql.Column =
    pmod(
      conv(substring(md5(concat(lit("lc|"), value.cast("string")).cast("binary")), 1, 12), 16, 10)
        .cast("long"),
      lit(m.toLong)
    )

  /** The estimate column from an `occupied` count — NULL on a
    * saturated sketch; one float op floored to milli.
    */
  private[graft] def lcEstimateCol(m: Int): org.apache.spark.sql.Column =
    when(
      col("occupied") < m,
      expr(s"CAST(floor(-1.0 * $m * ln(1.0 - CAST(occupied AS DOUBLE) / $m) * 1000) AS BIGINT)")
    )

  def linearCountDistinct(df: DataFrame, valueCol: String, m: Int): DataFrame = {
    val bucket = lcBucketCol(col(valueCol), m)
    df.agg(
        countDistinct(col(valueCol)).cast("long").as("exact"),
        countDistinct(bucket).cast("long").as("occupied")
      )
      .withColumn("est_milli", lcEstimateCol(m))
  }

  /** OCCUPANCY-ONLY linear counting — the PRODUCTION signature: no
    * exact countDistinct rides along. The exact column in
    * [[linearCountDistinct]] exists as the fixture's accuracy gate,
    * but at 100 TB it IS the whole cost (every distinct value
    * shuffles); this form's shuffle carries at most m bucket ids
    * however many input rows.
    */
  def linearCountOccupancy(df: DataFrame, valueCol: String, m: Int): DataFrame =
    df.agg(countDistinct(lcBucketCol(col(valueCol), m)).cast("long").as("occupied"))
      .withColumn("est_milli", lcEstimateCol(m))

  /** The sketch STATE as a relation: the distinct occupied slot ids
    * (≤ m rows whatever the input cardinality). Linear counting's
    * merge law is exact — occupied(A ∪ B) = occupied(A) ∪ occupied(B)
    * — so increments sketch independently and merge by set union,
    * which is what makes the sketch maintainable across days/shards
    * without re-reading history.
    */
  def lcOccupiedSlots(df: DataFrame, valueCol: String, m: Int): DataFrame =
    df.select(lcBucketCol(col(valueCol), m).as("slot")).distinct()

  /** Persist one increment's occupied-slot set (append: the union on
    * disk may hold a slot several times across increments; the reader
    * re-distincts — the merge law makes that harmless).
    */
  def appendDistinctSketch(df: DataFrame, valueCol: String, m: Int, dir: String): Unit =
    lcOccupiedSlots(df, valueCol, m)
      .coalesce(1) // ≤ m rows — sketch-sized, one file per increment
      .write
      .mode("append")
      .parquet(dir)

  /** Estimate from a persisted sketch dir: distinct the unioned slot
    * sets (≤ m · increments rows in, ≤ m out) and apply the estimator
    * — by the merge law this EQUALS the one-shot sketch over the
    * concatenated inputs, which is the oracle gate.
    */
  def mergedSketchEstimate(spark: SparkSession, dir: String, m: Int): DataFrame =
    spark.read
      .parquet(dir)
      .agg(countDistinct(col("slot")).cast("long").as("occupied"))
      .withColumn("est_milli", lcEstimateCol(m))

  /** GROUPED linear counting — the sketch as a per-key aggregate
    * (distinct users per hour, distinct docs per source…): occupancy
    * per key is countDistinct over (key, bucket) pairs, so the
    * shuffle is bounded by |keys|·m however many input rows. Same
    * estimate arithmetic and saturation contract as the global form.
    */
  def linearCountDistinctBy(df: DataFrame, keyCol: String, valueCol: String, m: Int): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        countDistinct(col(valueCol)).cast("long").as("exact"),
        countDistinct(lcBucketCol(col(valueCol), m)).cast("long").as("occupied")
      )
      .withColumn("est_milli", lcEstimateCol(m))

  /** Grouped occupancy-only form — [[linearCountOccupancy]] per key:
    * shuffle bounded by |keys|·m however many input rows, no exact
    * column.
    */
  def linearCountOccupancyBy(df: DataFrame, keyCol: String, valueCol: String, m: Int): DataFrame =
    df.groupBy(col(keyCol))
      .agg(countDistinct(lcBucketCol(col(valueCol), m)).cast("long").as("occupied"))
      .withColumn("est_milli", lcEstimateCol(m))

  /** GROUPED sketch state as a relation: the distinct (key, slot)
    * pairs — ≤ |keys|·m rows whatever the input cardinality. The merge
    * law is per-key exact (same set-union argument as the global
    * form), so per-key sketches maintain across increments too.
    */
  def lcOccupiedSlotsBy(df: DataFrame, keyCol: String, valueCol: String, m: Int): DataFrame =
    df.select(col(keyCol).as("key"), lcBucketCol(col(valueCol), m).as("slot")).distinct()

  /** Persist one increment's grouped occupied-slot sets (append; the
    * reader re-distincts per key — the merge law makes multi-increment
    * slot repeats harmless). The production restart-safe shape of the
    * hourly-distinct aggregation: each increment sketches
    * independently, history is never re-read.
    */
  def appendDistinctSketchBy(df: DataFrame, keyCol: String, valueCol: String, m: Int, dir: String): Unit =
    lcOccupiedSlotsBy(df, keyCol, valueCol, m)
      .coalesce(1) // ≤ |keys|·m rows — sketch-sized, one file per increment
      .write
      .mode("append")
      .parquet(dir)

  /** Per-key estimates from a persisted grouped sketch dir — by the
    * merge law these EQUAL the one-shot grouped sketch over the
    * concatenated inputs, which is the oracle gate.
    */
  def mergedSketchEstimateBy(spark: SparkSession, dir: String, m: Int): DataFrame =
    spark.read
      .parquet(dir)
      .groupBy(col("key"))
      .agg(countDistinct(col("slot")).cast("long").as("occupied"))
      .withColumn("est_milli", lcEstimateCol(m))

  private val lcBuckets = 4096

  /** Three key columns of three tables through the same sketch — the
    * cardinality datasheet a planner reads before choosing join
    * strategies or dictionary encodings.
    */
  val sketchDistinct: Q = (s, d) => {
    def one(name: String, df: DataFrame, c: String) =
      linearCountDistinct(df.select(c), c, lcBuckets).withColumn("column_name", lit(name))
    one("c_nationkey", customer(s, d), "c_nationkey")
      .unionByName(one("l_partkey", lineitem(s, d), "l_partkey"))
      .unionByName(one("o_custkey", orders(s, d), "o_custkey"))
      .select(col("column_name"), col("exact"), col("occupied"), col("est_milli"))
      .orderBy("column_name")
  }

  /** Two-increment PERSISTED sketch lifecycle as an oracle-gated
    * query: the lineitem key column arrives as two increments (even /
    * odd orderkeys), each sketched independently to its occupied-slot
    * set and appended to the sketch dir; the merged estimate must
    * equal the one-shot sketch over the whole table — the merge law
    * IS the gate (the oracle computes the one-shot occupancy).
    */
  val sketchDistinctMerged: Q = (s, d) => {
    val dir = Fixtures.demoIndexDir(s, "lcsketch", d) { dir =>
      val li = lineitem(s, d)
      appendDistinctSketch(li.filter(col("l_orderkey") % 2 === 0), "l_partkey", lcBuckets, dir)
      appendDistinctSketch(li.filter(col("l_orderkey") % 2 =!= 0), "l_partkey", lcBuckets, dir)
    }
    mergedSketchEstimate(s, dir, lcBuckets)
      .withColumn("column_name", lit("l_partkey"))
      .select(col("column_name"), col("occupied"), col("est_milli"))
  }

  /** GROUPED persisted-sketch lifecycle as an oracle-gated query — the
    * restart-safe form of the hourly-distinct production shape:
    * distinct l_partkey PER l_returnflag, the table arriving as two
    * increments (even/odd orderkeys) each sketched to its per-key
    * occupied-slot sets and appended; the merged per-key estimates
    * must equal the one-shot grouped sketch (the per-key merge law IS
    * the gate — the oracle computes the one-shot grouped occupancy).
    */
  val sketchDistinctMergedBy: Q = (s, d) => {
    val dir = Fixtures.demoIndexDir(s, "lcsketchby", d) { dir =>
      val li = lineitem(s, d)
      appendDistinctSketchBy(li.filter(col("l_orderkey") % 2 === 0), "l_returnflag", "l_partkey", lcBuckets, dir)
      appendDistinctSketchBy(li.filter(col("l_orderkey") % 2 =!= 0), "l_returnflag", "l_partkey", lcBuckets, dir)
    }
    mergedSketchEstimateBy(s, dir, lcBuckets)
      .select(col("key"), col("occupied"), col("est_milli"))
      .orderBy("key")
  }

  lazy val registry: Seq[Query] = Seq(
    Query("sketch_distinct", sketchDistinct, {
      def arm(name: String, table: String, c: String) =
        s"""SELECT '$name' AS column_name,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS exact,
           |  CAST(count(DISTINCT ${Dedup.hex12ValSql(s"md5('lc|' || CAST($c AS VARCHAR))", 1)} % $lcBuckets) AS BIGINT) AS occupied
           |FROM $table""".stripMargin
      s"""WITH rows0 AS (
         |  ${arm("c_nationkey", "customer", "c_nationkey")}
         |  UNION ALL
         |  ${arm("l_partkey", "lineitem", "l_partkey")}
         |  UNION ALL
         |  ${arm("o_custkey", "orders", "o_custkey")})
         |SELECT column_name, exact, occupied,
         |  CASE WHEN occupied < $lcBuckets THEN
         |    CAST(floor(-1.0 * $lcBuckets * ln(1.0 - CAST(occupied AS DOUBLE) / $lcBuckets) * 1000) AS BIGINT)
         |  ELSE NULL END AS est_milli
         |FROM rows0 ORDER BY column_name""".stripMargin
    }),
    // merged two-increment sketch ≡ one-shot sketch (the merge law is
    // exact), so the oracle computes the one-shot occupancy directly
    Query("sketch_distinct_merged", sketchDistinctMerged,
      s"""WITH o AS (
         |  SELECT CAST(count(DISTINCT ${Dedup.hex12ValSql("md5('lc|' || CAST(l_partkey AS VARCHAR))", 1)} % $lcBuckets) AS BIGINT) AS occupied
         |  FROM lineitem)
         |SELECT 'l_partkey' AS column_name, occupied,
         |  CASE WHEN occupied < $lcBuckets THEN
         |    CAST(floor(-1.0 * $lcBuckets * ln(1.0 - CAST(occupied AS DOUBLE) / $lcBuckets) * 1000) AS BIGINT)
         |  ELSE NULL END AS est_milli
         |FROM o""".stripMargin, build = Some(FirstRun)),
    // merged two-increment GROUPED sketch ≡ one-shot grouped sketch
    // (the merge law is per-key exact): the oracle computes the
    // one-shot grouped occupancy directly
    Query("sketch_distinct_merged_by", sketchDistinctMergedBy,
      s"""WITH o AS (
         |  SELECT l_returnflag AS key,
         |    CAST(count(DISTINCT ${Dedup.hex12ValSql("md5('lc|' || CAST(l_partkey AS VARCHAR))", 1)} % $lcBuckets) AS BIGINT) AS occupied
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT key, occupied,
         |  CASE WHEN occupied < $lcBuckets THEN
         |    CAST(floor(-1.0 * $lcBuckets * ln(1.0 - CAST(occupied AS DOUBLE) / $lcBuckets) * 1000) AS BIGINT)
         |  ELSE NULL END AS est_milli
         |FROM o ORDER BY key""".stripMargin, build = Some(FirstRun)),
    // the sketch route is exact by construction (no false negatives +
    // exact recount), so the oracle is the PLAIN heavy-hitter query
    Query("sketch_topk_tokens", sketchTopkTokens,
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY token)
        |SELECT token, n FROM c WHERE n >= 500 ORDER BY n DESC, token""".stripMargin),
    Query("corpus_cube", corpusCubeQ,
      """SELECT coalesce(lang, '(all)') AS lang_g,
        |  coalesce(source, '(all)') AS source_g,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |FROM documents
        |GROUP BY CUBE (lang, source)
        |ORDER BY lang_g, source_g""".stripMargin),
    Query("zipf_fit", zipfFitQ,
      """WITH tf AS (
        |  SELECT lang, t, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY lang, t),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY c DESC, t ASC) AS r FROM tf),
        |xy AS (
        |  SELECT lang, c,
        |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000) AS BIGINT) AS y
        |  FROM rk),
        |ag AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM xy GROUP BY lang),
        |fin AS (
        |  SELECT *, greatest(sx * sy - n_types * sxy, 0) AS numer,
        |    n_types * sxx - sx * sx AS denom
        |  FROM ag)
        |SELECT lang, n_types, n_tokens,
        |  CAST(CASE WHEN denom <= 0 THEN 0
        |       ELSE (numer * 1000) // denom * 1000 + ((numer * 1000) % denom) * 1000 // denom
        |       END AS BIGINT) AS neg_slope_micro
        |FROM fin ORDER BY lang""".stripMargin),
    Query("pmi_top_pairs", pmiTopPairsQ,
      s"""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
         |toks AS (SELECT unnest(w) AS t FROM ws),
         |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t),
         |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM toks),
         |bg AS (
         |  SELECT w[i] AS w1, w[i + 1] AS w2
         |  FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
         |  WHERE len(w) >= 2),
         |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg)
         |SELECT b.w1, b.w2, b.c12,
         |  CAST(floor(ln(((((CAST(b.c12 AS DOUBLE) * n1.n1) * n1.n1) / nb.nb) / u1.c) / u2.c)
         |             * 1000000) AS BIGINT) AS pmi_micro
         |FROM bi b
         |JOIN uni u1 ON u1.t = b.w1
         |JOIN uni u2 ON u2.t = b.w2, n1, nb
         |WHERE b.c12 >= $pmiMinCount
         |ORDER BY pmi_micro DESC, w1 ASC, w2 ASC LIMIT $pmiK""".stripMargin),
    Query("corpus_growth", corpusGrowthQ,
      s"""WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
         |b AS (
         |  SELECT d.doc_id, d.text, d.doc_id // (mx.max_id // $growthBuckets + 1) AS bucket
         |  FROM documents d, mx),
         |k AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents GROUP BY md5(text)),
         |da AS (
         |  SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN b.doc_id <> k.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
         |  FROM b JOIN k ON md5(b.text) = k.h GROUP BY b.bucket),
         |tok AS (
         |  SELECT token, min(doc_id) AS first_id
         |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
         |        FROM documents)
         |  GROUP BY token),
         |tn AS (
         |  SELECT tok.first_id // (mx.max_id // $growthBuckets + 1) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_new_tokens
         |  FROM tok, mx GROUP BY 1)
         |SELECT da.bucket, da.n_docs, da.n_dup_docs,
         |  CAST(da.n_dup_docs * 1000000 // da.n_docs AS BIGINT) AS dup_micro,
         |  CAST(coalesce(tn.n_new_tokens, 0) AS BIGINT) AS n_new_tokens
         |FROM da LEFT JOIN tn USING (bucket) ORDER BY da.bucket""".stripMargin),
    Query("source_concentration", sourceConcentrationQ,
      """WITH ps AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY lang, source),
        |e AS (
        |  SELECT *,
        |    CAST(sum(toks) OVER (PARTITION BY lang) AS BIGINT) AS total_tokens
        |  FROM ps),
        |t AS (
        |  SELECT *,
        |    CAST(floor(-(CAST(toks AS DOUBLE) / total_tokens)
        |               * ln(CAST(toks AS DOUBLE) / total_tokens) * 1000000) AS BIGINT)
        |      AS term_micro,
        |    row_number() OVER (PARTITION BY lang ORDER BY toks DESC, source ASC) AS rn
        |  FROM e)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(min(total_tokens) AS BIGINT) AS total_tokens,
        |  min(CASE WHEN rn = 1 THEN source END) AS top_source,
        |  CAST(min(CASE WHEN rn = 1 THEN toks END) * 1000000 // min(total_tokens) AS BIGINT)
        |    AS top_share_micro,
        |  CAST(sum(term_micro) AS BIGINT) AS entropy_micro
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    Query("corpus_datasheet", corpusDatasheet, {
      val stop = TextAnalysis.stopList
      s"""WITH t AS (
         |  SELECT doc_id, lang, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(floor(len(list_filter(string_split(text, ' '), w -> w IN ($stop))) * 100.0
         |               / len(string_split(text, ' '))) AS BIGINT) AS stop_pct,
         |    md5(text) AS h
         |  FROM documents),
         |k AS (SELECT h, min(doc_id) AS keep_id FROM t GROUP BY h),
         |m AS (
         |  SELECT t.lang, t.n_tokens, length(t.text) AS n_chars,
         |    CASE WHEN t.doc_id <> k.keep_id THEN 1 ELSE 0 END AS is_dup,
         |    CASE WHEN t.n_tokens >= 20 AND t.stop_pct BETWEEN 2 AND 60 THEN 1 ELSE 0 END AS q_pass
         |  FROM t JOIN k USING (h))
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(is_dup) AS BIGINT) AS n_exact_dup_docs,
         |  CAST(sum(q_pass) AS BIGINT) AS n_quality_pass,
         |  CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_doc_micro
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin
    }),
    Query("tfidf_top_terms", tfidfTopTerms,
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfc AS (SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |dfc AS (
        |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |    CAST(floor(ln((SELECT n_docs + 1 FROM nd) / CAST(count(DISTINCT doc_id) + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
        |  FROM tfc GROUP BY token),
        |scored AS (
        |  SELECT t.doc_id, t.token, t.tf, d.df, t.tf * d.idf_micro AS score_micro
        |  FROM tfc t JOIN dfc d ON d.token = t.token),
        |ranked AS (
        |  SELECT doc_id, token, tf, df, score_micro,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, token ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
        |  CAST(tf AS BIGINT) AS tf, df, CAST(score_micro AS BIGINT) AS score_micro
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    Query("perplexity_score", perplexityScore,
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfc AS (SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token),
        |tot AS (SELECT sum(tf) AS total FROM tfc),
        |model AS (
        |  SELECT token,
        |    CAST(floor(-ln(sum(tf) / (SELECT CAST(total AS DOUBLE) FROM tot)) * 1000000) AS BIGINT) AS nll_micro
        |  FROM tfc GROUP BY token)
        |SELECT t.doc_id,
        |  CAST(sum(t.tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(t.tf * m.nll_micro) AS BIGINT) AS total_nll_micro,
        |  CAST(floor(sum(t.tf * m.nll_micro) / sum(t.tf)) AS BIGINT) AS avg_nll_micro
        |FROM tfc t JOIN model m ON m.token = t.token
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    Query("bigram_perplexity", bigramPerplexity,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS g1, w[i + 1] AS g2
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM w)),
        |bc AS (SELECT doc_id, g1, g2, count(*) AS bc FROM bg GROUP BY doc_id, g1, g2),
        |gb AS (SELECT g1, g2, sum(bc) AS cb FROM bc GROUP BY g1, g2),
        |c1 AS (SELECT g1, sum(cb) AS c1 FROM gb GROUP BY g1),
        |tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |uc AS (SELECT token AS g2, count(*) AS cu FROM tok GROUP BY token),
        |n AS (SELECT count(*) AS n FROM tok),
        |model AS (
        |  SELECT gb.g1, gb.g2,
        |    CAST(floor(-ln(0.7 * (CAST(gb.cb AS DOUBLE) / c1.c1)
        |                   + 0.3 * (CAST(uc.cu AS DOUBLE) / (SELECT n FROM n))) * 1000000)
        |      AS BIGINT) AS nll2_micro
        |  FROM gb JOIN c1 USING (g1) JOIN uc USING (g2))
        |SELECT b.doc_id,
        |  CAST(sum(b.bc) AS BIGINT) AS n_bigrams,
        |  CAST(sum(b.bc * m.nll2_micro) AS BIGINT) AS total_nll2_micro,
        |  CAST(sum(b.bc * m.nll2_micro) // sum(b.bc) AS BIGINT) AS avg_nll2_micro
        |FROM bc b JOIN model m USING (g1, g2)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),
    Query("ccnet_perplexity_buckets", ccnetPerplexityBuckets,
      s"""WITH ${nllDuckSql("documents")},
         |scored AS (
         |  SELECT u.doc_id, u.avg_nll_micro, d.lang
         |  FROM unll u JOIN documents d USING (doc_id)),
         |hist AS (
         |  SELECT lang, avg_nll_micro, CAST(count(*) AS BIGINT) AS c
         |  FROM scored GROUP BY lang, avg_nll_micro),
         |cum AS (
         |  SELECT lang, avg_nll_micro, c,
         |    sum(c) OVER (PARTITION BY lang ORDER BY avg_nll_micro) AS cum,
         |    sum(c) OVER (PARTITION BY lang) AS n
         |  FROM hist),
         |thr AS (
         |  SELECT lang,
         |    min(CASE WHEN cum >= (n + 2) // 3 THEN avg_nll_micro END) AS t1,
         |    min(CASE WHEN cum >= (2 * n + 2) // 3 THEN avg_nll_micro END) AS t2
         |  FROM cum GROUP BY lang),
         |b AS (
         |  SELECT s.lang,
         |    CASE WHEN s.avg_nll_micro <= t.t1 THEN 'head'
         |         WHEN s.avg_nll_micro <= t.t2 THEN 'middle'
         |         ELSE 'tail' END AS bucket,
         |    s.avg_nll_micro
         |  FROM scored s JOIN thr t USING (lang))
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(avg_nll_micro) AS min_avg_nll_micro,
         |  max(avg_nll_micro) AS max_avg_nll_micro
         |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin),
    Query("token_histogram", tokenHistogram,
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
        |SELECT lang, CAST(least(n_tokens // 10, 15) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens
        |FROM t GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)
  )
}
