package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Data-mixture operators: deterministic stratified sampling — the
  * "mix 30% web, 2× books, 0.5× low-resource langs" step every
  * training-data pipeline runs between curation and tokenization.
  *
  * The keep/drop decision is a pure function of the document id: a
  * 48-bit uniform draw from md5 (engine-portable, like the MinHash
  * family) compared against the stratum's rate threshold. That makes
  * the sample (a) reproducible across runs/engines/cluster sizes,
  * (b) a map-side FILTER — no shuffle, no sort, no sampling state,
  * pushdown-friendly — and (c) stable under corpus appends: a doc's
  * fate never depends on what else is in the corpus (the property
  * `df.sample()` does NOT have, being partition-layout-dependent).
  */
object Mixture {
  import Fixtures._

  private val drawBits = 48
  private val drawMod = 1L << drawBits

  /** 48-bit uniform draw in [0, 2^48) from the id — `mix|` domain-
    * separates it from the MinHash/fingerprint hash families.
    */
  def uniformDraw(id: Column): Column =
    conv(substring(md5(concat(lit("mix|"), id.cast("string")).cast("binary")), 1, 12), 16, 10)
      .cast("long")

  /** Keep each row iff draw(id) < rate(stratum) · 2^48. Rates are
    * per-stratum with a default; thresholds are exact integers so the
    * predicate is integer comparison end to end.
    */
  def stratifiedSample(
      docs: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double
  ): DataFrame = {
    // mirror holdoutSplit's guard: an out-of-range rate would silently
    // keep-all (threshold overflows past 2^48) or drop-all (negative)
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"sampling rate out of [0,1]: $r")
    )
    val draw = uniformDraw(col(idCol))
    val threshold = rates.foldLeft(lit((defaultRate * drawMod).toLong)) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit((rate * drawMod).toLong)).otherwise(acc)
    }
    docs.withColumn("draw", draw).filter(col("draw") < threshold)
  }

  /** Deterministic TRAIN/VAL/TEST assignment — the held-out-split
    * idiom with [[stratifiedSample]]'s guarantees: a domain-separated
    * draw mod 10000 against basis-point cuts, so membership is a pure
    * function of the id (append-stable — a doc can never migrate
    * between splits as the corpus grows, the property that keeps eval
    * sets uncontaminated), map-side, zero shuffle.
    */
  /** The split verdict for an id — a pure function, so any operator
    * can re-derive a doc's split from its id alone (the leakage audit
    * relies on this: pair relations never need a split join-back).
    */
  def splitCol(id: Column, trainBps: Int, valBps: Int): Column = {
    val bps = pmod(
      conv(substring(md5(concat(lit("split|"), id.cast("string")).cast("binary")), 1, 12), 16, 10)
        .cast("long"),
      lit(10000L)
    )
    when(bps < trainBps, "train").when(bps < trainBps + valBps, "val").otherwise("test")
  }

  def holdoutSplit(
      docs: DataFrame,
      idCol: String,
      trainBps: Int = 9800,
      valBps: Int = 100
  ): DataFrame = {
    require(trainBps + valBps <= 10000, "split fractions exceed 100%")
    docs.withColumn("split", splitCol(col(idCol), trainBps, valBps))
  }

  /** HOLDOUT LEAKAGE AUDIT: near-duplicate pairs that STRADDLE the
    * train/eval boundary — an eval doc with a train near-dup measures
    * memorization, not generalization, and a hash split cannot
    * prevent that (near-dups hash apart). Composes the verified-
    * Jaccard LSH chain with the split function: the straddle
    * predicate drops same-side pairs INSIDE the LSH pair filter (so
    * verification work is straddle-pairs-sized, and since the split
    * is a pure function of the id, the filter is an expression over
    * the pair relation — no split join-back). Output is one row per
    * eval split: leaked doc count, pair count, worst Jaccard — the
    * go/no-go numbers before an eval set ships.
    */
  def holdoutLeakageCheck(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      trainBps: Int,
      valBps: Int,
      minJaccard: Double
  ): DataFrame = {
    def sOf(c: String) = splitCol(col(c), trainBps, valBps)
    val straddle: DataFrame => DataFrame = p =>
      p.filter((sOf("doc_a") === "train") =!= (sOf("doc_b") === "train"))
    Dedup
      .lshCandidatesWithJaccard(docs, idCol, textCol, straddle)
      .filter(Dedup.jaccardAtLeast(minJaccard))
      .withColumn("eval_split", when(sOf("doc_a") === "train", sOf("doc_b")).otherwise(sOf("doc_a")))
      .withColumn("eval_doc", when(sOf("doc_a") === "train", col("doc_b")).otherwise(col("doc_a")))
      .groupBy("eval_split")
      .agg(
        countDistinct(col("eval_doc")).cast("bigint").as("n_leaked_docs"),
        count(lit(1)).cast("bigint").as("n_pairs"),
        max(col("jaccard")).as("max_jaccard")
      )
  }

  /** CLUSTER-GRANULAR holdout split — the PREVENTION counterpart to
    * [[holdoutLeakageCheck]]'s audit: instead of measuring how many
    * near-dup pairs straddle a hash split, assign the split at
    * near-dup-CLUSTER granularity (every member inherits
    * splitCol(cluster_id)), so a near-dup pair straddling train/eval
    * is impossible BY CONSTRUCTION — verified pairs at the clustering
    * threshold are intra-cluster by definition, and the split is a
    * pure function of the cluster id. Singleton docs have
    * cluster_id = doc_id, so on unclustered mass this degrades to
    * exactly [[holdoutSplit]]'s per-doc hash split (same salt).
    *
    * Scale shape: the cluster map is the near-dup clustering's output
    * (at production scale [[GraphDedup]]'s persisted, bucketed map);
    * assigning splits is ONE corpus-sized hash join on doc_id plus a
    * codegen'd expression — no extra shuffle beyond the join, and no
    * pair relation is ever consulted at assignment time.
    */
  def clusterSplit(
      cmap: DataFrame,
      trainBps: Int = 9800,
      valBps: Int = 100
  ): DataFrame = {
    require(trainBps + valBps <= 10000, "split fractions exceed 100%")
    cmap.withColumn("split", splitCol(col("cluster_id"), trainBps, valBps))
  }

  /** Fixture query: cluster the fixture corpus (the dedup_clusters
    * route), split at 80/10/10 cluster-granular, and emit the
    * per-split datasheet — cluster count, doc count, token mass and
    * the id checksum that pins exact membership.
    */
  val holdoutClusterSplitQ: Q = (s, d) => {
    val docs = documents(s, d)
    val edges = Dedup
      .lshCandidatesWithJaccard(docs, "doc_id", "text")
      .filter(Dedup.jaccardAtLeast(0.5))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val cmap = GraphDedup.clusterMap(docs, GraphDedup.connectedComponents(edges))
    clusterSplit(cmap, 8000, 1000)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      .groupBy(col("split"))
      .agg(
        countDistinct(col("cluster_id")).cast("bigint").as("n_clusters"),
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("tokens"),
        expr("bit_xor(doc_id)").as("doc_xor")
      )
      .orderBy("split")
  }

  /** Fixture knobs for the audit query: 80/10/10 puts enough mass in
    * the eval splits for cross-split near-dups to exist at sf0.01;
    * τ matches the near-dup removal stage. */
  val holdoutLeakageQ: Q = (s, d) =>
    holdoutLeakageCheck(documents(s, d), "doc_id", "text", 8000, 1000, 0.5)
      .orderBy("eval_split")

  val holdoutSplitQ: Q = (s, d) =>
    holdoutSplit(documents(s, d), "doc_id")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("tokens"),
        expr("bit_xor(doc_id)").as("doc_xor")
      )
      .orderBy("split")

  /** The fixture mixture: keep all English, 40% of everything else —
    * the shape of an upsample-head-language mixture. Output carries
    * the draw so the oracle pins the exact per-doc decision, not just
    * the counts.
    */
  private[ops] val fixtureRates = Map("en" -> 1.0)
  private[ops] val fixtureDefault = 0.4

  val mixtureSample: Q = (s, d) =>
    stratifiedSample(documents(s, d), "doc_id", "lang", fixtureRates, fixtureDefault)
      .select(col("doc_id"), col("lang"), col("draw"))
      .orderBy("doc_id")

  /** Per-stratum accounting: planned rate vs achieved rate — the
    * mixture report a pipeline publishes next to the sampled corpus.
    * Achieved-vs-planned drift is the binomial noise of the draw, so
    * the report carries exact integer counts plus a basis-point rate.
    */
  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * "A-ES", Inf. Proc. Letters 97(5), 2006): each row gets priority
    * key u^(1/w) for a uniform u and weight w; the k largest keys ARE
    * a weighted sample without replacement. Monotonically equivalent
    * and numerically safer: rank by ln(u)/w (ln u ≤ 0, so larger
    * weight pulls the key toward 0 from below). Deterministic u from
    * the domain-separated [[uniformDraw]]: u = (draw+1)/2^48 ∈ (0, 1].
    *
    * Determinism contract: key_micro =
    * floor( ln((draw+1)/2^48) / w · 10⁶ ) — ONE canonical float
    * operation order shared with the oracle (ties broken by id).
    * Scale shape: the key is map-side arithmetic on the scan (no
    * model, no join); the only gather is the global top-k, which
    * plans as TakeOrderedAndProject (per-partition heaps of k) — a
    * 100 TB corpus pays one pass + a k-row-per-partition merge, never
    * a full sort.
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // zero/negative weights have no A-ES key (ln(u)/w flips sign or
    // divides to ±Inf, whose BIGINT cast is engine-divergent) — and
    // semantically a weight-0 row has inclusion probability 0: drop
    // identically on both engines (the oracle carries the same guard)
    val keyed = docs
      .filter(col(weightCol) > 0)
      .withColumn("draw", uniformDraw(col(idCol)))
      .withColumn(
        "key_micro",
        expr(
          s"CAST(floor(ln(CAST(draw + 1 AS DOUBLE) / $drawMod.0) / CAST($weightCol AS DOUBLE) * 1000000.0) AS BIGINT)"
        )
      )
    val top = keyed.orderBy(col("key_micro").desc, col(idCol).asc).limit(k)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("key_micro").desc, col(idCol).asc)).cast("bigint")
      )
      .select(col("rank"), col(idCol), col(weightCol), col("key_micro"))
  }

  /** Per-STRATUM weighted sampling without replacement: the same A-ES
    * key, ranked within each stratum — k weight-proportional docs per
    * language/source instead of a global draw a dominant stratum would
    * monopolize. The rank-limit window group-limits (k rows per
    * stratum per partition forwarded), so a mega-stratum never piles
    * onto one sorted partition.
    */
  def weightedSampleStratified(
      docs: DataFrame,
      idCol: String,
      weightCol: String,
      strataCol: String,
      kPerStratum: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .filter(col(weightCol) > 0)
      .withColumn("draw", uniformDraw(col(idCol)))
      .withColumn(
        "key_micro",
        expr(
          s"CAST(floor(ln(CAST(draw + 1 AS DOUBLE) / $drawMod.0) / CAST($weightCol AS DOUBLE) * 1000000.0) AS BIGINT)"
        )
      )
      .withColumn(
        "rank",
        row_number()
          .over(
            Window
              .partitionBy(col(strataCol))
              .orderBy(col("key_micro").desc, col(idCol).asc)
          )
          .cast("bigint")
      )
      .filter(col("rank") <= kPerStratum)
      .select(col(strataCol), col("rank"), col(idCol), col(weightCol), col("key_micro"))
  }

  val weightedSampleStratifiedQ: Q = (s, d) =>
    weightedSampleStratified(
      documents(s, d).withColumn("n_tokens", size(split(col("text"), " ")).cast("long")),
      "doc_id",
      "n_tokens",
      "lang",
      20
    ).orderBy("lang", "rank")

  /** Fixture draw: 100 docs weighted by token count (long docs
    * proportionally likelier — the length-weighted corpus subsample).
    */
  val weightedSampleQ: Q = (s, d) =>
    weightedSample(
      documents(s, d).withColumn("n_tokens", size(split(col("text"), " ")).cast("long")),
      "doc_id",
      "n_tokens",
      100
    ).orderBy("rank")

  val mixtureAccounting: Q = (s, d) => {
    val docs = documents(s, d)
    val kept = stratifiedSample(docs, "doc_id", "lang", fixtureRates, fixtureDefault)
    docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("bigint").as("n_total"))
      .join(
        kept.groupBy(col("lang")).agg(count(lit(1)).cast("bigint").as("n_kept")),
        Seq("lang"),
        "left"
      )
      .na.fill(0L, Seq("n_kept"))
      .withColumn(
        "kept_bps",
        expr("CAST(floor(n_kept * 10000.0 / n_total) AS BIGINT)")
      )
      .withColumn(
        "planned_bps",
        when(col("lang") === "en", lit(10000L)).otherwise(lit((fixtureDefault * 10000).toLong))
      )
      .orderBy("lang")
  }

  /** Mixture DESIGN: derive per-stratum keep rates from a token
    * budget — the planning step upstream of [[stratifiedSample]]
    * (collect the plan's per-stratum rows — metadata-scale, like the
    * partition planner's bins — and feed them back as the rate map).
    * Exact integer arithmetic: rate_bps = min(10000,
    * budget·10000 div tokens), expected kept tokens under the
    * binomial-mean model = tokens·rate_bps div 10000.
    */
  def mixturePlan(
      docs: DataFrame,
      strataCol: String,
      tokens: Column,
      budgetPerStratum: Long
  ): DataFrame =
    docs
      .groupBy(col(strataCol).as("stratum"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(tokens).cast("bigint").as("n_tokens")
      )
      .withColumn(
        "rate_bps",
        least(lit(10000L), expr(s"CAST($budgetPerStratum AS BIGINT) * 10000 div n_tokens"))
      )
      .withColumn("exp_kept_tokens", expr("n_tokens * rate_bps div 10000"))

  /** TEMPERATURE-scaled mixture planning (the mT5/XLM-R multilingual
    * sampling standard): per-stratum target shares ∝ tokens^(1/T)
    * instead of raw token shares — T > 1 flattens the distribution
    * toward low-resource strata (softmax-temperature semantics; mT5's
    * α = 0.3 exponent is T ≈ 3.3 here), T = 1 is proportional.
    * One `pow` per STRATUM floored to an integer weight (milli-units),
    * then everything downstream is integer arithmetic: share, planned
    * tokens against the total budget, and the capped keep rate the
    * sampler consumes. Stratum-sized end to end.
    */
  def temperaturePlan(
      docs: DataFrame,
      strataCol: String,
      tokens: Column,
      temperature: Double,
      budgetTokens: Long
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = 1.0 / temperature
    val base = docs
      .groupBy(col(strataCol).as("stratum"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(tokens).cast("bigint").as("n_tokens")
      )
      .withColumn(
        "w_milli",
        expr(s"CAST(floor(pow(CAST(n_tokens AS DOUBLE), $inv) * 1000) AS BIGINT)")
      )
    base
      .withColumn("w_total", sum(col("w_milli")).over(Window.partitionBy(lit(1))))
      .withColumn("share_micro", expr("w_milli * 1000000 div w_total"))
      .withColumn("planned_tokens", expr(s"CAST($budgetTokens AS BIGINT) * w_milli div w_total"))
      .withColumn(
        "rate_bps",
        least(lit(10000L), expr("planned_tokens * 10000 div n_tokens"))
      )
      .select(
        col("stratum"), col("n_docs"), col("n_tokens"), col("share_micro"),
        col("planned_tokens"), col("rate_bps"))
  }

  // T = 3 (exponent 1/3 — the mT5 α≈0.3 region) over a budget above
  // most strata's mass, so flattening is visible AND the cap fires
  private val planTemperature = 3.0
  private val temperatureBudget = 30000L

  val mixturePlanTemperatureQ: Q = (s, d) =>
    temperaturePlan(
      documents(s, d),
      "lang",
      size(split(col("text"), " ")).cast("bigint"),
      planTemperature,
      temperatureBudget
    ).orderBy("stratum")

  // 5000 sits between the largest stratum (en, ~11.8k tokens at sf0.01)
  // and the rest, so BOTH branches fire: en down-samples to ~4252 bps,
  // every other stratum caps at 10000
  private val planBudget = 5000L

  val mixturePlanQ: Q = (s, d) =>
    mixturePlan(
      documents(s, d),
      "lang",
      size(split(col("text"), " ")).cast("bigint"),
      planBudget
    ).orderBy("stratum")

  /** DATA-CONSTRAINED epoch planning (Muennighoff et al. 2023: when
    * the budget EXCEEDS the corpus, repeating data up to ~4 epochs is
    * near-as-good as fresh data; beyond that, returns collapse):
    * per stratum, the integer epoch count toward its desired share,
    * a fractional REMAINDER sampling rate when under the cap, and the
    * honest SHORTFALL when the cap saturates — the "can this corpus
    * satisfy this mixture, and where does it fall short" design view.
    * Generalizes [[mixturePlan]]: epochs = 0 degenerates to the pure
    * down-sampling plan. All arithmetic is exact basis-point
    * integers; the report is stratum-cardinality-sized.
    */
  def epochPlan(
      docs: DataFrame,
      strataCol: String,
      tokens: Column,
      weightsBps: Map[String, Long],
      defaultBps: Long,
      budgetTokens: Long,
      maxEpochs: Int
  ): DataFrame = {
    val weight = weightsBps.foldLeft(lit(defaultBps)) { case (acc, (k, v)) =>
      when(col("stratum") === k, lit(v)).otherwise(acc)
    }
    docs
      .groupBy(col(strataCol).as("stratum"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(tokens).cast("bigint").as("n_tokens")
      )
      .withColumn("weight_bps", weight.cast("bigint"))
      .withColumn("desired_tokens", expr(s"CAST($budgetTokens AS BIGINT) * weight_bps div 10000"))
      .withColumn("epochs", least(lit(maxEpochs.toLong), expr("desired_tokens div n_tokens")))
      .withColumn(
        "remainder_rate_bps",
        when(
          col("epochs") < maxEpochs,
          expr("(desired_tokens - epochs * n_tokens) * 10000 div n_tokens")
        ).otherwise(lit(0L)).cast("bigint")
      )
      .withColumn("planned_tokens", expr("epochs * n_tokens + n_tokens * remainder_rate_bps div 10000"))
      .withColumn("shortfall_tokens", expr("desired_tokens - planned_tokens"))
  }

  /** Materialize the plan: every doc repeats `epochs` times and joins
    * one more copy iff its `epoch|` draw clears the stratum's
    * remainder rate — map-side explode against the broadcast plan,
    * deterministic and append-stable like every draw in this family
    * (a doc's copy-set never changes as the corpus grows).
    */
  def epochExpand(docs: DataFrame, idCol: String, strataCol: String, plan: DataFrame): DataFrame = {
    val draw = pmod(
      conv(substring(md5(concat(lit("epoch|"), col(idCol).cast("string")).cast("binary")), 1, 12), 16, 10)
        .cast("long"),
      lit(10000L)
    )
    docs
      .join(
        broadcast(plan.select(col("stratum"), col("epochs"), col("remainder_rate_bps"))),
        col(strataCol) === col("stratum")
      )
      .withColumn("copy", explode(expr("sequence(1L, epochs + 1L)")))
      .filter(col("copy") <= col("epochs") || draw < col("remainder_rate_bps"))
      .drop("stratum", "epochs", "remainder_rate_bps")
  }

  /** Fixture knobs: budget ≈ 3.7× the sf0.01 corpus with en weighted
    * 4000 bps and the rest 1500 — de SATURATES at the 4-epoch cap
    * (shortfall > 0) while en/es/fr/zh land on the remainder branch.
    */
  private val epochBudget = 100000L
  private val epochWeights = Map("en" -> 4000L)
  private val epochDefaultBps = 1500L
  private val epochCap = 4

  val epochPlanQ: Q = (s, d) =>
    epochPlan(
      documents(s, d),
      "lang",
      size(split(col("text"), " ")).cast("bigint"),
      epochWeights,
      epochDefaultBps,
      epochBudget,
      epochCap
    ).orderBy("stratum")

  val epochExpandQ: Q = (s, d) => {
    val docs = documents(s, d)
    val plan = epochPlan(
      docs,
      "lang",
      size(split(col("text"), " ")).cast("bigint"),
      epochWeights,
      epochDefaultBps,
      epochBudget,
      epochCap
    )
    epochExpand(docs, "doc_id", "lang", plan)
      .groupBy(col("lang"), col("copy"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(size(split(col("text"), " "))).cast("bigint").as("tokens"),
        expr("bit_xor(doc_id)").as("doc_xor")
      )
      .orderBy("lang", "copy")
  }

  private[ops] def drawSql: String =
    "CAST(" + Dedup.hex12ValSql("md5('mix|' || CAST(doc_id AS VARCHAR))", 1) + " AS BIGINT)"

  private[ops] def thresholdSql: String = {
    val en = (1.0 * drawMod).toLong
    val other = (fixtureDefault * drawMod).toLong
    s"CASE WHEN lang = 'en' THEN $en ELSE $other END"
  }

  private val epochPlanSql =
    s"""ep_s AS (
       |  SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY lang),
       |ep_w AS (
       |  SELECT *, CAST(CASE WHEN stratum = 'en' THEN 4000 ELSE 1500 END AS BIGINT) AS weight_bps
       |  FROM ep_s),
       |ep_d AS (SELECT *, CAST($epochBudget * weight_bps // 10000 AS BIGINT) AS desired_tokens FROM ep_w),
       |ep_e AS (SELECT *, CAST(least($epochCap, desired_tokens // n_tokens) AS BIGINT) AS epochs FROM ep_d),
       |ep_r AS (
       |  SELECT *,
       |    CAST(CASE WHEN epochs < $epochCap
       |         THEN (desired_tokens - epochs * n_tokens) * 10000 // n_tokens
       |         ELSE 0 END AS BIGINT) AS remainder_rate_bps
       |  FROM ep_e),
       |ep AS (
       |  SELECT *,
       |    CAST(epochs * n_tokens + n_tokens * remainder_rate_bps // 10000 AS BIGINT) AS planned_tokens
       |  FROM ep_r)""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("epoch_plan", epochPlanQ,
      s"""WITH $epochPlanSql
         |SELECT stratum, n_docs, n_tokens, weight_bps, desired_tokens, epochs,
         |  remainder_rate_bps, planned_tokens,
         |  CAST(desired_tokens - planned_tokens AS BIGINT) AS shortfall_tokens
         |FROM ep ORDER BY stratum""".stripMargin),
    Query("epoch_expand", epochExpandQ, {
      val draw =
        "CAST(" + Dedup.hex12ValSql("md5('epoch|' || CAST(d.doc_id AS VARCHAR))", 1) + " AS BIGINT)"
      s"""WITH $epochPlanSql,
         |x AS (
         |  SELECT d.doc_id, d.lang, len(string_split(d.text, ' ')) AS n_tokens, c.copy
         |  FROM documents d
         |  JOIN ep ON ep.stratum = d.lang
         |  JOIN LATERAL (SELECT unnest(generate_series(1, CAST(ep.epochs + 1 AS INT))) AS copy) c ON true
         |  WHERE c.copy <= ep.epochs OR ($draw % 10000) < ep.remainder_rate_bps)
         |SELECT lang, CAST(copy AS BIGINT) AS copy,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  CAST(bit_xor(doc_id) AS BIGINT) AS doc_xor
         |FROM x GROUP BY lang, copy ORDER BY lang, copy""".stripMargin
    }),
    Query("holdout_leakage", holdoutLeakageQ, {
      def splitSql(c: String) = {
        val draw =
          "CAST(" + Dedup.hex12ValSql(s"md5('split|' || CAST($c AS VARCHAR))", 1) + " AS BIGINT)"
        s"""CASE WHEN $draw % 10000 < 8000 THEN 'train'
           |     WHEN $draw % 10000 < 9000 THEN 'val'
           |     ELSE 'test' END""".stripMargin
      }
      s"""WITH ${Dedup.shinglesSqlFrom("documents")},
         |${Dedup.minhashSql},
         |${Dedup.bandsSql},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM pairs p
         |  JOIN sh x ON x.doc_id = p.doc_a
         |  JOIN sh y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
         |  GROUP BY p.doc_a, p.doc_b),
         |jac AS (
         |  SELECT p.doc_a, p.doc_b,
         |    coalesce(i.n_inter, 0) AS n_inter,
         |    sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS n_union,
         |    round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
         |  FROM pairs p
         |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b),
         |spl AS (
         |  SELECT doc_a, doc_b, n_inter, n_union, jaccard,
         |    ${splitSql("doc_a")} AS sa_split, ${splitSql("doc_b")} AS sb_split
         |  FROM jac),
         |leaks AS (
         |  SELECT CASE WHEN sa_split = 'train' THEN sb_split ELSE sa_split END AS eval_split,
         |    CASE WHEN sa_split = 'train' THEN doc_b ELSE doc_a END AS eval_doc,
         |    jaccard
         |  FROM spl
         |  WHERE (sa_split = 'train') <> (sb_split = 'train')
         |    AND ${Dedup.jaccardAtLeastSql("n_inter", "n_union", 0.5)})
         |SELECT eval_split,
         |  CAST(count(DISTINCT eval_doc) AS BIGINT) AS n_leaked_docs,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  max(jaccard) AS max_jaccard
         |FROM leaks GROUP BY eval_split ORDER BY eval_split""".stripMargin
    }),
    Query("holdout_cluster_split", holdoutClusterSplitQ, {
      val draw =
        "CAST(" + Dedup.hex12ValSql("md5('split|' || CAST(cluster_id AS VARCHAR))", 1) + " AS BIGINT)"
      s"""${GraphDedup.clusterChainSql},
         |spl AS (
         |  SELECT l.doc_id, l.cluster_id,
         |    CASE WHEN $draw % 10000 < 8000 THEN 'train'
         |         WHEN $draw % 10000 < 9000 THEN 'val'
         |         ELSE 'test' END AS split,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         |  FROM lab l JOIN documents d USING (doc_id))
         |SELECT split,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  CAST(bit_xor(doc_id) AS BIGINT) AS doc_xor
         |FROM spl GROUP BY split ORDER BY split""".stripMargin
    }),
    Query("holdout_split", holdoutSplitQ, {
      val draw =
        "CAST(" + Dedup.hex12ValSql("md5('split|' || CAST(doc_id AS VARCHAR))", 1) + " AS BIGINT)"
      s"""WITH a AS (
         |  SELECT doc_id,
         |    CASE WHEN $draw % 10000 < 9800 THEN 'train'
         |         WHEN $draw % 10000 < 9900 THEN 'val'
         |         ELSE 'test' END AS split,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |  CAST(bit_xor(doc_id) AS BIGINT) AS doc_xor
         |FROM a GROUP BY split ORDER BY split""".stripMargin
    }),
    Query("mixture_plan_temperature", mixturePlanTemperatureQ, {
      val inv = 1.0 / planTemperature
      s"""WITH b AS (
         |  SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |w AS (
         |  SELECT *, CAST(floor(pow(CAST(n_tokens AS DOUBLE), $inv) * 1000) AS BIGINT) AS w_milli
         |  FROM b),
         |t AS (SELECT *, CAST(sum(w_milli) OVER () AS BIGINT) AS w_total FROM w)
         |SELECT stratum, n_docs, n_tokens,
         |  CAST(w_milli * 1000000 // w_total AS BIGINT) AS share_micro,
         |  CAST($temperatureBudget * w_milli // w_total AS BIGINT) AS planned_tokens,
         |  CAST(least(10000, ($temperatureBudget * w_milli // w_total) * 10000 // n_tokens)
         |       AS BIGINT) AS rate_bps
         |FROM t ORDER BY stratum""".stripMargin
    }),
    Query("mixture_plan", mixturePlanQ,
      s"""WITH t AS (
         |  SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang)
         |SELECT stratum, n_docs, n_tokens,
         |  CAST(least(10000, $planBudget * 10000 // n_tokens) AS BIGINT) AS rate_bps,
         |  CAST(n_tokens * least(10000, $planBudget * 10000 // n_tokens) // 10000 AS BIGINT) AS exp_kept_tokens
         |FROM t ORDER BY stratum""".stripMargin),
    Query("mixture_sample", mixtureSample,
      s"""SELECT doc_id, lang, $drawSql AS draw
         |FROM documents
         |WHERE $drawSql < $thresholdSql
         |ORDER BY doc_id""".stripMargin),
    Query("weighted_sample", weightedSampleQ,
      s"""WITH ws AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $drawSql AS draw
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) > 0),
         |wk AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(floor(ln(CAST(draw + 1 AS DOUBLE) / $drawMod.0) / CAST(n_tokens AS DOUBLE) * 1000000.0) AS BIGINT) AS key_micro
         |  FROM ws),
         |wr AS (
         |  SELECT doc_id, n_tokens, key_micro,
         |    CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM wk)
         |SELECT rank, doc_id, n_tokens, key_micro
         |FROM wr WHERE rank <= 100 ORDER BY rank""".stripMargin),
    Query("weighted_sample_stratified", weightedSampleStratifiedQ,
      s"""WITH ws AS (
         |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $drawSql AS draw
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) > 0),
         |wk AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(floor(ln(CAST(draw + 1 AS DOUBLE) / $drawMod.0) / CAST(n_tokens AS DOUBLE) * 1000000.0) AS BIGINT) AS key_micro
         |  FROM ws),
         |wr AS (
         |  SELECT lang, doc_id, n_tokens, key_micro,
         |    CAST(row_number() OVER (PARTITION BY lang
         |                            ORDER BY key_micro DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM wk)
         |SELECT lang, rank, doc_id, n_tokens, key_micro
         |FROM wr WHERE rank <= 20 ORDER BY lang, rank""".stripMargin),
    Query("mixture_accounting", mixtureAccounting,
      s"""WITH kept AS (
         |  SELECT lang FROM documents WHERE $drawSql < $thresholdSql),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total FROM documents GROUP BY lang),
         |k AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY lang)
         |SELECT t.lang, t.n_total, coalesce(k.n_kept, 0) AS n_kept,
         |  CAST(floor(coalesce(k.n_kept, 0) * 10000.0 / t.n_total) AS BIGINT) AS kept_bps,
         |  CAST(CASE WHEN t.lang = 'en' THEN 10000 ELSE ${(fixtureDefault * 10000).toLong} END AS BIGINT) AS planned_bps
         |FROM tot t LEFT JOIN k ON k.lang = t.lang
         |ORDER BY t.lang""".stripMargin)
  )
}
