package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Query.FirstRun

/** Benchmark decontamination: flag training documents that share any
  * word n-gram with an evaluation/benchmark set (the GPT-3 appendix-C
  * / PaLM "13-gram overlap" contamination check). Both production
  * knobs are parameters: `n` (the gated fixture queries pin n=3 —
  * fixture docs are word salad, so 13-grams never collide — and
  * DecontaminationSpec exercises a crafted overlap at the paper's
  * n=13) and the benchmark relation itself (any DataFrame; the
  * queries' doc_id-parity split is just the fixture stand-in).
  *
  * Scale shape: the benchmark side is eval suites — MBs of n-grams
  * against TBs of training text — so its distinct hashed n-grams
  * BROADCAST to every executor and the training corpus is flagged in
  * ONE map-side pass (the join carries md5 digests, not shingle text;
  * the post-join aggregate shuffles only hit rows, which are
  * output-sized). The corpus is never shuffled, the benchmark is never
  * joined shuffle-side, and nothing here collects to the driver.
  */
object Decontamination {
  import Fixtures._

  /** Deterministic fixture split standing in for (training, benchmark):
    * every 20th doc_id is "the benchmark". Documented here because the
    * oracle must replicate it exactly.
    */
  private val benchPred = "doc_id % 20 = 0"

  /** Per contaminated training doc: how many of its distinct n-grams
    * hit the benchmark, how many benchmark docs it hits, and the worst
    * single benchmark overlap (distinct shared n-grams with one bench
    * doc) — the triage columns a decontamination report needs to
    * decide drop vs audit.
    */
  /** The benchmark's distinct (bench_id, digest) relation — the
    * PERSISTABLE artifact a decontamination service loads once and
    * probes forever (eval suites change rarely; the corpus streams).
    */
  def benchDigests(bench: DataFrame, n: Int = 3): DataFrame =
    Dedup
      .shinglesN(bench, "doc_id", "text", n)
      .select(col("doc_id").as("bench_id"), md5(col("shingle").cast("binary")).as("g"))

  /** [[contamination]] against a prepared digest relation — per-doc
    * flags are a pure function of (doc, digests), which is what lets
    * the streaming route share the batch oracle.
    */
  def contaminationAgainstDigests(train: DataFrame, digests: DataFrame, n: Int = 3): DataFrame = {
    val trainSh = Dedup
      .shinglesN(train, "doc_id", "text", n)
      .select(col("doc_id"), md5(col("shingle").cast("binary")).as("g"))
    val perBench = trainSh
      .join(broadcast(digests), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("g")).as("n_shared"))
    perBench
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("bench_id")).cast("bigint").as("n_bench_docs"),
        max(col("n_shared")).cast("bigint").as("max_shared"),
        sum(col("n_shared")).cast("bigint").as("total_shared")
      )
  }

  def contamination(train: DataFrame, bench: DataFrame, n: Int = 3): DataFrame =
    contaminationAgainstDigests(train, benchDigests(bench, n), n)

  val decontaminate: Q = (s, d) => {
    val docs = documents(s, d)
    contamination(docs.filter(s"NOT ($benchPred)"), docs.filter(benchPred))
      .orderBy("doc_id")
  }

  /** Index-SCREENED decontamination — two families composed: the
    * persisted search index generates candidates (train docs holding
    * ANY benchmark token, read at benchmark-vocabulary-bucket I/O via
    * [[Search.candidateDocsForTerms]]) and the exact n-gram re-check
    * runs on the screened docs only. The screen is SOUND: a shared
    * n-gram implies a shared token, so restricting the exact pass to
    * candidates cannot lose a hit — this route shares decontaminate's
    * oracle, and that equality is the gate. At fixture scale the
    * ~31-token vocabulary makes the screen admit nearly everything
    * (DecontaminationSpec proves real pruning on a disjoint-vocab
    * synthetic corpus); at corpus scale the benchmark vocabulary is
    * eval-suite-sized (the driver-side term list is the same
    * request-bounded read as any probe's) and the screen turns the
    * full-corpus shingle pass into a candidates-only pass served from
    * the index.
    */
  val decontaminateViaIndex: Q = (s, d) => {
    val docs = documents(s, d)
    val bench = docs.filter(benchPred)
    val benchToks = bench
      .select(explode(split(col("text"), " ")).as("token"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSeq
    val cand = Search.candidateDocsForTerms(s, Search.demoSearchIndexDir(s, d), benchToks)
    val screened = docs.filter(s"NOT ($benchPred)").join(cand, Seq("doc_id"), "left_semi")
    contaminationAgainstDigests(screened, benchDigests(bench)).orderBy("doc_id")
  }

  /** The at-scale route for a benchmark set too large to broadcast as
    * an exact digest set: build a Bloom filter over the benchmark
    * n-grams DISTRIBUTED (Spark's internal `bloom_filter_agg` —
    * partial aggregation merges executor-side sketches; nothing
    * corpus-sized reaches the driver, only the final `numBits/8`-byte
    * filter, which is metadata-scale like IVF centroids), prefilter
    * the training corpus with the codegen'd `might_contain` probe
    * embedded as a constant, then run the EXACT verification join only
    * over the prefiltered survivors — Bloom false positives die in the
    * verify join, false negatives cannot exist, so the result is
    * bit-identical to [[contamination]] (spec-pinned, and the query
    * shares its DuckDB oracle). The probe is a map-side filter: the
    * corpus is never shuffled, and the verify join's input is
    * output-sized + FP rate instead of corpus-sized.
    */
  def contaminationBloom(
      train: DataFrame,
      bench: DataFrame,
      expectedItems: Long = 1L << 14,
      numBits: Long = 1L << 18,
      n: Int = 3
  ): DataFrame = {
    val s = train.sparkSession
    graft.functions.GraftFunctions.register(s)
    val benchSh = Dedup
      .shinglesN(bench, "doc_id", "text", n)
      .select(col("doc_id").as("bench_id"), md5(col("shingle").cast("binary")).as("g"))
    val bf = benchSh
      .agg(expr(s"bloom_filter_agg(xxhash64(g), CAST($expectedItems AS BIGINT), CAST($numBits AS BIGINT))"))
      .head()
      .getAs[Array[Byte]](0)
    val trainSh = Dedup
      .shinglesN(train, "doc_id", "text", n)
      .select(col("doc_id"), md5(col("shingle").cast("binary")).as("g"))
      .filter(call_function("might_contain", lit(bf), xxhash64(col("g"))))
    val perBench = trainSh
      .join(broadcast(benchSh), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("g")).as("n_shared"))
    perBench
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("bench_id")).cast("bigint").as("n_bench_docs"),
        max(col("n_shared")).cast("bigint").as("max_shared"),
        sum(col("n_shared")).cast("bigint").as("total_shared")
      )
  }

  val decontaminateBloom: Q = (s, d) => {
    val docs = documents(s, d)
    contaminationBloom(docs.filter(s"NOT ($benchPred)"), docs.filter(benchPred))
      .orderBy("doc_id")
  }

  /** TRIAGE report: for each contaminated training doc, its worst
    * benchmark overlaps — the view a decontamination review actually
    * reads ("these eval docs leaked into these training docs, by this
    * much") before deciding drop vs audit. Top-k per doc via a
    * doc-partitioned window over the output-sized hit relation (never
    * the corpus).
    */
  def contaminationReport(
      train: DataFrame,
      bench: DataFrame,
      n: Int = 3,
      topK: Int = 2
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val benchSh = Dedup
      .shinglesN(bench, "doc_id", "text", n)
      .select(col("doc_id").as("bench_id"), md5(col("shingle").cast("binary")).as("g"))
    val trainSh = Dedup
      .shinglesN(train, "doc_id", "text", n)
      .select(col("doc_id"), md5(col("shingle").cast("binary")).as("g"))
    trainSh
      .join(broadcast(benchSh), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("g")).cast("bigint").as("n_shared"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("n_shared").desc, col("bench_id").asc)
        )
      )
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank").cast("bigint").as("rank"), col("bench_id"), col("n_shared"))
  }

  val decontaminateReport: Q = (s, d) => {
    val docs = documents(s, d)
    contaminationReport(docs.filter(s"NOT ($benchPred)"), docs.filter(benchPred))
      .orderBy("doc_id", "rank")
  }

  /** The REMEDY route: instead of dropping flagged documents, cut the
    * overlapping n-word spans out of the training text (Spans'
    * interval machinery at k = n) — what a pipeline runs when the
    * contamination is boilerplate inside otherwise-good documents.
    * Emits every training doc (untouched ones byte-identical).
    */
  val decontaminateRemoval: Q = (s, d) => {
    val docs = documents(s, d)
    Spans
      .contaminationSpanRemoval(
        docs.filter(s"NOT ($benchPred)"),
        docs.filter(benchPred),
        "doc_id",
        "text",
        n = 3
      )
      .orderBy("doc_id")
  }

  /** SEMANTIC decontamination — the embedding twin of the n-gram
    * route (benchmark leakage that survives paraphrasing: reworded
    * eval questions share no 13-gram but sit at high embedding
    * cosine). Flags every training vector whose cosine against ANY
    * benchmark vector reaches `tau`, with the hit count and the
    * single closest benchmark vector (ties → lowest bench id).
    *
    * Scale shape mirrors [[contamination]]: the benchmark side is an
    * eval suite — thousands of vectors against billions — so it
    * BROADCASTS and the corpus is scored in one map-side pass with
    * the fused `cosine_sim` codegen expression; the post-filter
    * aggregate shuffles only hit rows (output-sized). For benchmark
    * sets too large to broadcast, the IVF probe route
    * (Similarity.ivfTopKFromIndex) is the prefilter, exactly as
    * Bloom is for the n-gram route.
    */
  def semanticContamination(train: DataFrame, bench: DataFrame, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    val t = train.select(
      col("vec_id"),
      col("label"),
      col("embedding").cast("array<double>").as("v")
    )
    val b = bench.select(
      col("vec_id").as("bench_id"),
      col("embedding").cast("array<double>").as("bv")
    )
    t.crossJoin(broadcast(b))
      .withColumn("cos_sim", round(expr("cosine_sim(v, bv)"), 6))
      .filter(col("cos_sim") >= tau)
      .groupBy(col("vec_id"), col("label"))
      .agg(
        count(lit(1)).cast("bigint").as("n_bench_hits"),
        max(struct(col("cos_sim"), (-col("bench_id")).as("nb"))).as("best")
      )
      .select(
        col("vec_id"),
        col("label").cast("bigint").as("label"),
        col("n_bench_hits"),
        (-col("best.nb")).cast("bigint").as("best_bench_id"),
        col("best.cos_sim").as("best_cos")
      )
  }

  /** Fixture stand-ins for the semantic route: every 20th vec_id is
    * "the benchmark" (mirroring [[benchPred]]); since the fixture
    * vectors are random (cross-split cosine tops out ≈0.49), seeded
    * CLONES of every 100th benchmark vector re-enter the training
    * side under new ids — the contamination the τ=0.9 band must
    * catch — while τ=0.4 also surfaces the natural near-band. One
    * query pins both bands. Oracle must replicate all three
    * constants exactly.
    */
  private val benchVecPred = "vec_id % 20 = 0"
  private val semCloneBase = 2000001L
  private val semCloneStep = 100L
  private val semTau = 0.4

  val decontaminateSemantic: Q = (s, d) => {
    val emb = embeddings(s, d)
    val bench = emb.filter(benchVecPred)
    val clones = bench
      .filter(col("vec_id") % semCloneStep === 0)
      .select((col("vec_id") + lit(semCloneBase)).as("vec_id"), col("label"), col("embedding"))
    val train = emb.filter(s"NOT ($benchVecPred)").unionByName(clones)
    semanticContamination(train, bench, semTau).orderBy("vec_id")
  }

  /** N-GRAM NOVELTY scoring — the inverse of contamination: for each
    * probe document, what fraction of its distinct word n-grams does a
    * REFERENCE corpus not already contain? The data-selection signal
    * for "does this shard add anything new" (dedup asks "is this a
    * copy"; novelty asks "how much of this is unseen"), and the
    * redundancy screen for incremental crawls scored against the
    * already-collected corpus.
    *
    * Scale shape: the reference here is CORPUS-sized (unlike eval-
    * suite digests), so no broadcast hint — the probe's distinct
    * (doc_id, digest) pairs LEFT-join the reference's distinct digests
    * on the digest hash (linear shuffle both sides, AQE-skew-safe, and
    * AQE still auto-broadcasts a genuinely small reference), then one
    * doc-keyed count aggregate. Only 16-byte digests ever shuffle,
    * never n-gram text. Docs shorter than n words have no n-grams and
    * no row (both engines drop them in the group-by).
    */
  def ngramNovelty(probe: DataFrame, reference: DataFrame, n: Int = 3): DataFrame = {
    val refG = Dedup
      .shinglesN(reference, "doc_id", "text", n)
      .select(md5(col("shingle").cast("binary")).as("g"))
      .distinct()
      .withColumn("seen", lit(1L))
    Dedup
      .shinglesN(probe, "doc_id", "text", n)
      .select(col("doc_id"), md5(col("shingle").cast("binary")).as("g"))
      .join(refG, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_ngrams"),
        sum(coalesce(col("seen"), lit(0L))).cast("bigint").as("n_seen")
      )
      .withColumn("novelty_micro", expr("(n_ngrams - n_seen) * 1000000 div n_ngrams"))
  }

  /** Fixture split for the gated query: every 5th doc is "the corpus
    * already collected"; the rest are the incoming crawl to score.
    */
  private val refPred = "doc_id % 5 = 0"

  val ngramNoveltyQ: Q = (s, d) => {
    val docs = documents(s, d)
    ngramNovelty(docs.filter(s"NOT ($refPred)"), docs.filter(refPred)).orderBy("doc_id")
  }

  /** The Bloom route is exact by construction (FPs verified away, FNs
    * impossible), so it shares the exact route's oracle.
    */
  lazy val registry: Seq[Query] = Seq(
    Query("decontaminate_bloom", decontaminateBloom, oracleSqlExact),
    Query("decontaminate", decontaminate, oracleSqlExact),
    // the index screen is sound (shared n-gram => shared token), so
    // the screened exact pass shares the full route's oracle
    Query("decontaminate_via_index", decontaminateViaIndex, oracleSqlExact, build = Some(FirstRun)),
    Query("ngram_novelty", ngramNoveltyQ,
      s"""WITH prb AS (SELECT * FROM documents WHERE NOT ($refPred)),
         |ref AS (SELECT * FROM documents WHERE $refPred),
         |${Dedup.shinglesSqlNamed("psh", "prb")},
         |${Dedup.shinglesSqlNamed("rsh", "ref")},
         |rg AS (SELECT DISTINCT shingle FROM rsh)
         |SELECT p.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_ngrams,
         |  CAST(sum(CASE WHEN rg.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
         |  CAST((count(*) - sum(CASE WHEN rg.shingle IS NOT NULL THEN 1 ELSE 0 END)) * 1000000
         |       // count(*) AS BIGINT) AS novelty_micro
         |FROM psh p LEFT JOIN rg ON rg.shingle = p.shingle
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin),
    // the UNION ALL replays the Spark side's seeded benchmark clones
    Query("decontaminate_semantic", decontaminateSemantic,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bench AS (SELECT vec_id AS bench_id, v AS bv FROM e WHERE $benchVecPred),
         |train AS (SELECT * FROM e WHERE NOT ($benchVecPred)
         |  UNION ALL
         |  SELECT $semCloneBase + vec_id, label, v FROM e
         |  WHERE $benchVecPred AND vec_id % $semCloneStep = 0),
         |hits AS (
         |  SELECT t.vec_id, t.label, b.bench_id,
         |    round(list_dot_product(t.v, b.bv) /
         |          (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(b.bv, b.bv))), 6) AS cos_sim
         |  FROM train t, bench b),
         |flagged AS (SELECT * FROM hits WHERE cos_sim >= $semTau),
         |ranked AS (
         |  SELECT vec_id, label, bench_id, cos_sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, bench_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY vec_id) AS n_hits
         |  FROM flagged)
         |SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(n_hits AS BIGINT) AS n_bench_hits,
         |  CAST(bench_id AS BIGINT) AS best_bench_id,
         |  cos_sim AS best_cos
         |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    // benchmark-flagged positions + the Spans covered-set cut at k=3
    Query("decontaminate_removal", decontaminateRemoval,
      s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE NOT ($benchPred)),
         |be AS (SELECT doc_id, text FROM documents WHERE $benchPred),
         |${Spans.windowsSql("tr", "", 3)},
         |${Spans.windowsSql("be", "b_", 3)},
         |bd AS (SELECT DISTINCT dig FROM b_sp),
         |fp AS (SELECT s.doc_id, s.pos FROM sp s JOIN bd USING (dig)),
         |${Spans.cutTailSql("", 3)}
         |SELECT w.doc_id,
         |  coalesce(cl.ct, '') AS clean_text,
         |  CAST(len(w.w) AS BIGINT) AS n_words,
         |  CAST(len(w.w) - coalesce(cl.n_kept, 0) AS BIGINT) AS n_words_removed,
         |  CAST(length(w.text) - length(coalesce(cl.ct, '')) AS BIGINT) AS chars_removed
         |FROM w LEFT JOIN cl USING (doc_id) ORDER BY w.doc_id""".stripMargin),
    Query("decontaminate_report", decontaminateReport,
      s"""WITH train AS (SELECT * FROM documents WHERE NOT ($benchPred)),
         |bench AS (SELECT * FROM documents WHERE $benchPred),
         |${Dedup.shinglesSqlFrom("train").replace("sh AS", "tsh AS")},
         |${Dedup.shinglesSqlFrom("bench").replace("sh AS", "bsh AS")},
         |per_bench AS (
         |  SELECT t.doc_id, b.doc_id AS bench_id,
         |         CAST(count(DISTINCT md5(t.shingle)) AS BIGINT) AS n_shared
         |  FROM tsh t JOIN bsh b ON md5(t.shingle) = md5(b.shingle)
         |  GROUP BY t.doc_id, b.doc_id),
         |ranked AS (
         |  SELECT doc_id, bench_id, n_shared,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY n_shared DESC, bench_id ASC) AS rank
         |  FROM per_bench)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, bench_id, n_shared
         |FROM ranked WHERE rank <= 2 ORDER BY doc_id, rank""".stripMargin)
  )

  private lazy val oracleSqlExact: String =
      s"""WITH train AS (SELECT * FROM documents WHERE NOT ($benchPred)),
         |bench AS (SELECT * FROM documents WHERE $benchPred),
         |${Dedup.shinglesSqlFrom("train").replace("sh AS", "tsh AS")},
         |${Dedup.shinglesSqlFrom("bench").replace("sh AS", "bsh AS")},
         |per_bench AS (
         |  SELECT t.doc_id, b.doc_id AS bench_id,
         |         CAST(count(DISTINCT md5(t.shingle)) AS BIGINT) AS n_shared
         |  FROM tsh t JOIN bsh b ON md5(t.shingle) = md5(b.shingle)
         |  GROUP BY t.doc_id, b.doc_id)
         |SELECT doc_id,
         |  CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs,
         |  CAST(max(n_shared) AS BIGINT) AS max_shared,
         |  CAST(sum(n_shared) AS BIGINT) AS total_shared
         |FROM per_bench GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
