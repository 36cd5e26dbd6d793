package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Query.FirstRun

/** Deduplication operators for LLM training-data pipelines (the
  * BASELINE.json north-star extensions; SURVEY.md §7.1 item 8).
  *
  * Exact dedup: group by a content hash, keep the lowest id. At 100 TB
  * this is one shuffle on the 128-bit hash (never on the document text
  * itself), with map-side partial aggregation; the surviving-id policy
  * (min id) is deterministic and rerun-stable.
  *
  * Near-dup (MinHash + LSH banding): shingle → per-seed min-hash →
  * band keys → candidates = docs sharing a band bucket — NEVER
  * all-pairs. The exact Jaccard verification join runs only over the
  * candidate set, so total cost is O(shingles) + O(candidates), which
  * is what survives a 100×-scale-up; an all-pairs similarity join
  * would not. Hashing uses md5 (engine-portable, uniform); the k-hash
  * family derives from one digest via Kirsch–Mitzenmacher (see
  * minhashSignature), and min() over those uniform values is a valid
  * min-hash.
  *
  * SimHash: 60-bit sign-aggregated token fingerprint; identical
  * fingerprints are near-dup candidates. One groupBy(doc) + one
  * groupBy(fingerprint) — two narrow shuffles, no pairs materialized.
  * 60 bits (not 16) so the fingerprint space does not saturate as the
  * corpus grows: at 16 bits docs-per-fingerprint grows linearly with
  * corpus size and pair expansion within a fingerprint group is
  * quadratic — a scale-killer; at 60 bits only genuine near-dups
  * collide. 60 = 15 md5 hex chars, which also keeps every bit
  * extraction exact in 4-bit integer arithmetic (a full 64-bit
  * assembly would need the sign bit, 2^63, which overflows signed
  * 64-bit addition in both engines).
  */
object Dedup {
  import Fixtures._

  /** Exact near-zero-cost dedup over a content hash. Returns one row
    * per distinct content: (content hash, surviving doc id, copy count).
    */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(md5(col(textCol).cast("binary")).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  val dedupExact: Q = (s, d) =>
    exactDedup(documents(s, d), "text", "doc_id")
      .select("content_hash", "keep_id", "n_copies")
      .orderBy("keep_id")

  // ---- MinHash + LSH -------------------------------------------------

  private val numHashes = 8
  private val bandSize = 2 // 4 bands of 2 → candidate prob = J^2 per band

  /** Per-document shingle ARRAY (word 3-grams, duplicates kept — min()
    * is duplicate-insensitive, and the Jaccard path dedups later).
    */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .select(
        col("doc_id"),
        when(
          size(col("w")) >= 3,
          expr("transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")
        ).otherwise(array()).as("shingles")
      )

  /** Distinct shingles per document. Dedup happens INSIDE the
    * per-document array (`array_distinct`, codegen'd) before the
    * explode — per-doc distinct needs no corpus-wide `.distinct()`
    * shuffle because a document's exploded rows are co-located by
    * construction.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    shingleArrays(docs, idCol, textCol)
      .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("shingle"))

  /** Distinct word n-grams for ARBITRARY n — the production knob
    * behind the decontamination check (GPT-3 appendix C / PaLM run it
    * at n=13); n=3 produces exactly [[shingles]]' rows. Same ANSI
    * guard as [[shingleArrays]]: short documents yield the empty set.
    */
  def shinglesN(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be positive, got $n")
    // direct element indexing, not slice(): a per-element sub-array
    // allocation inside the lambda measurably drags the corpus scan
    // (1.5x on the decontamination queries), and for n=3 this emits
    // exactly the expression [[shingleArrays]] uses
    val gram = (0 until n).map(j => s"w[i + $j]").mkString("concat_ws(' ', ", ", ", ")")
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .select(
        col("doc_id"),
        when(
          size(col("w")) >= n,
          expr(s"transform(sequence(0, size(w) - $n), i -> $gram)")
        ).otherwise(array()).as("shingles")
      )
      .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("shingle"))
  }

  /** Per-document min-hash signature over DISTINCT (doc, shingle)
    * rows. Shape notes (measured at sf0.1): hashing dominates cost, so
    * (a) dedup the shingle relation BEFORE hashing (distinct first cut
    * hash work ~6×), and (b) the k hash families come from ONE md5 via
    * the Kirsch–Mitzenmacher construction h_i = (h1 + i·h2) mod 2^48
    * (h1/h2 = two 48-bit halves of the digest) instead of k seeded
    * md5 calls — k× less hashing with the same collision behavior for
    * min-hash. 48-bit values keep i·h2 well under 2^63, so the
    * arithmetic is exact (and ANSI-safe) in both engines.
    */
  private val mhMod = 1L << 48

  /** Portable SQL for a 12-hex-char slice of column/expr `h` as a
    * 48-bit BIGINT (ascii-based parse, identical text in both
    * engines' dialects modulo the expression for `h`).
    */
  private[graft] def hex12ValSql(h: String, start: Int): String =
    (0 until 12)
      .map { k =>
        val pos = start + k
        val factor = 1L << (4 * (11 - k))
        // CAST: an INT-literal factor would overflow ANSI INT
        // arithmetic at 15 * 2^28; BIGINT keeps every term exact
        s"(CASE WHEN ascii(substr($h, $pos, 1)) >= 97 THEN ascii(substr($h, $pos, 1)) - 87 ELSE ascii(substr($h, $pos, 1)) - 48 END) * CAST($factor AS BIGINT)"
      }
      .mkString("(", " + ", ")")

  def minhashSignature(distinctShingles: DataFrame): DataFrame = {
    // conv() gives the same 48-bit value as the 24-term ascii CASE
    // tree in hex12ValSql (DedupSpec proves the equality); Spark runs
    // the single codegen'd intrinsic while the DuckDB oracle keeps the
    // ascii parse — the oracle needs identical VALUES, not identical
    // SQL text, and the CASE tree was a measured hot spot (2 × 24
    // branch expressions per shingle).
    val hashed = distinctShingles
      .withColumn("mh", expr("md5(cast(shingle as binary))"))
      .withColumn("mh1", expr("CAST(conv(substring(mh, 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("mh2", expr("CAST(conv(substring(mh, 13, 12), 16, 10) AS BIGINT)"))
    val mins: Seq[Column] =
      (0 until numHashes).map(i => min(expr(s"(mh1 + $i * mh2) % $mhMod")).as(s"h$i"))
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Tall (doc_id, band_id, band_key) from a signature. */
  def bandKeys(sig: DataFrame): DataFrame = {
    val nBands = numHashes / bandSize
    val arms = (0 until nBands)
      .map { b =>
        val parts = (0 until bandSize).map(j => s"h${b * bandSize + j}").mkString(", ")
        s"$b, md5(cast(concat($parts) as binary))"
      }
      .mkString(", ")
    sig.selectExpr("doc_id", s"stack($nBands, $arms) as (band_id, band_key)")
  }

  /** Integer-exact verified-pair threshold over
    * [[lshCandidatesWithJaccard]] / [[blockedJaccardPairs]] output (any
    * frame carrying `n_inter`/`n_union`): keeps pairs whose EXACT
    * rational Jaccard n_inter/n_union >= minJaccard, compared in pure
    * BIGINT micro arithmetic — no double division, no round(), so the
    * predicate is bit-identical across engines and runs by
    * construction (r16 ADVICE: the rounded-double form left the only
    * float comparison in the dedup ensembles). Value-equal to the
    * previous `round(jaccard, 6) >= t` filter while
    * den(t)·n_union < 2·10⁶ (den(t) = t's reduced denominator; every
    * n_union < 10⁶ at t = 0.5): that form additionally admits exact
    * ratios in [t − 5·10⁻⁷, t), and a ratio with denominator n_union
    * lies at least 1/(den(t)·n_union) from t — audited empirically
    * too (no fixture pair within 1% of the 0.5 boundary at
    * sf0.001/sf0.01). SCALE.md notes the n_union ≥ 10⁶ case. The `jaccard` OUTPUT column stays
    * round(·, 6) everywhere — only the comparison leaves floats.
    */
  def jaccardAtLeast(minJaccard: Double): Column = {
    val micro = math.round(minJaccard * 1000000L)
    col("n_inter") * lit(1000000L) >= lit(micro) * col("n_union")
  }

  /** The oracle-side twin of [[jaccardAtLeast]] (identical BIGINT
    * arithmetic, DuckDB dialect).
    */
  private[ops] def jaccardAtLeastSql(interExpr: String, unionExpr: String, minJaccard: Double): String =
    s"$interExpr * 1000000 >= ${math.round(minJaccard * 1000000L)} * ($unionExpr)"

  /** LSH candidate pairs (doc_a < doc_b, distinct) + exact Jaccard
    * verification over the candidates only. `pairFilter` restricts the
    * candidate set BEFORE the verification joins (e.g. the same-block
    * rule of the quarantine fallback) — filtering after verification
    * would pay shingle-intersection work for pairs the caller is
    * about to drop.
    */
  def lshCandidatesWithJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairFilter: DataFrame => DataFrame = identity
  ): DataFrame = {
    // The shingle relation is a ~|text|× expansion of the corpus —
    // NEVER cached (at 100 TB it would only spill); it is consumed
    // once by the signature scan, and the verification stage below
    // recomputes shingles from the candidate-filtered documents
    // instead (a tiny fraction of the corpus — that is the point of
    // LSH). bands/pairs are doc-count-sized, so caching them stops
    // the signature computation from being recomputed once per
    // self-join branch and downstream join.
    val sh = shingles(docs, idCol, textCol)
    val bands = bandKeys(minhashSignature(sh)).cache()
    val a = bands.select(col("doc_id").as("doc_a"), col("band_id"), col("band_key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band_id").as("band_id_b"), col("band_key").as("band_key_b"))
    val pairs = pairFilter(
      a
        .join(b, col("band_id") === col("band_id_b") && col("band_key") === col("band_key_b") && col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    ).cache()
    // Only candidate docs need their shingle sets in the verification
    // join: semi-join-filter the DOCUMENTS (not the shingle relation)
    // and re-shingle just those — O(candidates) work with nothing
    // corpus-sized pinned in memory. candidateIds is candidate-pair-
    // derived (output-sized), so its broadcast is metadata-scale.
    val candidateIds = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val candDocs = docs.join(
      broadcast(candidateIds.withColumnRenamed("doc_id", idCol)),
      Seq(idCol),
      "left_semi"
    )
    val shCand = shingles(candDocs, idCol, textCol)
    val sizes = shCand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shA = shCand.select(col("doc_id").as("doc_a"), col("shingle"))
    val shB = shCand.select(col("doc_id").as("doc_b2"), col("shingle").as("shingle_b"))
    val inter = pairs
      .join(shA, "doc_a")
      .join(shB, col("doc_b") === col("doc_b2") && col("shingle") === col("shingle_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        round(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard")
      )
  }

  val dedupMinhashLsh: Q = (s, d) =>
    lshCandidatesWithJaccard(documents(s, d), "doc_id", "text")
      .orderBy("doc_a", "doc_b")

  // ---- SimHash -------------------------------------------------------

  /** Fingerprint width in bits; 15 hex chars of md5 = 60 bits. */
  val simhashBits = 60

  /** Engine-portable SQL for the value of ONE hex char (ascii-based so
    * the identical expression text runs in Spark and DuckDB).
    */
  private def hexCharValSql(h: String, pos: Int): String =
    s"(CASE WHEN ascii(substr($h, $pos, 1)) >= 97 THEN ascii(substr($h, $pos, 1)) - 87 ELSE ascii(substr($h, $pos, 1)) - 48 END)"

  /** Portable extraction of bit j from a hex string: bit (j mod 4) of
    * hex char (j div 4). The divisor is at most 8 and the char value at
    * most 15, so the floor-division arithmetic is exact in both
    * engines.
    */
  private def bitOfHexSql(h: String, j: Int): String =
    s"CAST(floor(${hexCharValSql(h, j / 4 + 1)} / ${1 << (j % 4)}.0) AS BIGINT) % 2"

  /** 60-bit SimHash per document over its distinct words. The bit
    * counters are maintained by the single-buffer typed aggregator
    * (graft.functions.SimhashAggregator — one Array[Int] per group
    * instead of 60 separate sum columns); arithmetic is bit-for-bit
    * the SQL formulation the DuckDB oracle runs.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, spark: SparkSession): DataFrame =
    simhashDeclarative(docs, idCol, textCol)

  /** Declarative 60-sum formulation: the word's 60 hash bits come from
    * ONE conv() of the md5 prefix (bit j of the oracle's per-char
    * parse = bit 56 - 4*(j/4) + j%4 of the 15-hex-char integer — a
    * per-char reversal, proven equal to SimhashAggregator in
    * DedupSpec), and the ±1 counters are 60 codegen'd
    * sum(CASE shiftright...) columns that stay inside whole-stage
    * codegen with map-side partial aggregation.
    *
    * A/B at sf0.1 (tools.MicroBench): COLD single-shot — the shape a
    * batch pipeline and the per-round bench actually run — declarative
    * 0.56 s vs UDAF 1.97 s (the udaf(Aggregator) route forces
    * ObjectHashAggregate, whose object-buffer path pays heavy
    * first-run setup and breaks whole-stage codegen). WARM steady
    * state flips: UDAF median 0.32 s vs declarative 0.60 s (one
    * compact Array[Int] buffer beats 60 partial-agg long columns once
    * JITed). Batch dedup is single-shot, so the declarative form is
    * the query path; the aggregator stays (simhashUdafVariant) for
    * interactive reuse and the equivalence proof in DedupSpec.
    */
  def simhashDeclarative(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("word"))
      .distinct()
      // ONE integer per distinct (doc, word): md5 prefix → 60-bit value
      .withColumn("hv", expr("CAST(conv(substring(md5(cast(word as binary)), 1, 15), 16, 10) AS BIGINT)"))
    val sums: Seq[Column] = (0 until simhashBits).map { j =>
      val bit = 56 - 4 * (j / 4) + j % 4
      sum(expr(s"CASE WHEN (shiftright(hv, $bit) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$j")
    }
    val fpExpr = (0 until simhashBits)
      .map(j => s"(CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    words
      .groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), expr(s"CAST($fpExpr AS BIGINT)").as("simhash"))
  }

  /** The single-buffer UDAF formulation (graft.functions
    * .SimhashAggregator) — the A/B loser at sf0.1 (see
    * simhashDeclarative); kept callable so the equivalence test pins
    * both arithmetics together.
    */
  def simhashUdafVariant(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("word"))
      .distinct()
      // materialize the word hash ONCE per distinct (doc, word)
      .withColumn("h", expr("md5(cast(word as binary))"))
    val simhashUdaf =
      udaf(new graft.functions.SimhashAggregator(simhashBits), org.apache.spark.sql.Encoders.STRING)
    words
      .groupBy(col("doc_id"))
      .agg(simhashUdaf(col("h")).as("simhash"))
  }

  /** 4×15-bit band decomposition of a 60-bit fingerprint (tall:
    * one row per band). By pigeonhole any pair within hamming
    * distance 3 agrees on at least one of the 4 bands, so the band
    * equi-join is a lossless candidate generator for the ≤3 threshold.
    */
  def simhashBands(fps: DataFrame): DataFrame =
    fps.selectExpr(
      "simhash",
      "stack(4, 0, simhash % 32768, 1, (simhash div 32768) % 32768, 2, (simhash div 1073741824) % 32768, 3, (simhash div 35184372088832) % 32768) as (band_id, band_val)"
    )

  val dedupSimhash: Q = (s, d) =>
    simhash(documents(s, d), "doc_id", "text", s).orderBy("doc_id")

  /** SimHash near-dup pairs: candidates share at least one 15-bit band
    * of the 60-bit fingerprint (lossless for hamming ≤ 3 — see
    * simhashBands), then the exact hamming distance filters. Standard
    * simhash dedup: candidate generation is a band-key equi-join,
    * never all-pairs — and at 60 bits a band match is ~2^-15 likely
    * for unrelated docs, so the candidate set stays output-sized as
    * the corpus grows.
    */
  val dedupSimhashPairs: Q = (s, d) =>
    simhashPairFrame(documents(s, d), s).orderBy("doc_a", "doc_b")

  private[ops] def simhashPairFrame(docs: DataFrame, s: SparkSession): DataFrame = {
    val fp = simhash(docs, "doc_id", "text", s).cache()
    // candidate generation runs on DISTINCT fingerprints (identical
    // docs share one), then expands to doc pairs; the expansion is
    // output-sized, which is the floor.
    val fps = fp.select(col("simhash")).distinct()
    val banded = simhashBands(fps)
    val a = banded.select(col("simhash").as("sim_a"), col("band_id"), col("band_val"))
    val b = banded.select(col("simhash").as("sim_b"), col("band_id").as("band_b"), col("band_val").as("band_val_b"))
    val fpPairs = a
      .join(b, col("band_id") === col("band_b") && col("band_val") === col("band_val_b") && col("sim_a") < col("sim_b"))
      .select("sim_a", "sim_b")
      .distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("bigint"))
      .filter(col("hamming") <= 3)
    val da = fp.select(col("doc_id").as("ida"), col("simhash").as("sim_a"))
    val db = fp.select(col("doc_id").as("idb"), col("simhash").as("sim_b"))
    val cross = fpPairs
      .join(da, "sim_a")
      .join(db, "sim_b")
      .select(
        least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"),
        col("hamming")
      )
    val same = fp
      .select(col("doc_id").as("doc_a"), col("simhash"))
      .join(
        fp.select(col("doc_id").as("doc_b"), col("simhash").as("sim2")),
        col("simhash") === col("sim2") && col("doc_a") < col("doc_b")
      )
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    cross.unionByName(same)
  }

  /** DEDUP ROUTE AGREEMENT matrix — the ensemble view across three
    * independent near-dup detectors (verified MinHash-LSH Jaccard,
    * SimHash banded hamming, winnow-selection containment): per route
    * the flagged-pair count, every pairwise intersection, the
    * three-way core, and the union. The calibration read a dedup
    * review wants: high agreement = the cheap route suffices; pairs
    * only ONE route sees = that route's unique recall (reordering for
    * winnow, token-multiset noise for simhash, shingle overlap for
    * Jaccard). One full-outer tag join over the three output-sized
    * pair relations, then a single aggregate row unpivoted.
    */
  val dedupRouteAgreement: Q = (s, d) => {
    // ONE pinned (doc_id, text) projection feeds all four corpus
    // passes the three detector legs make (LSH signature scan + LSH
    // candidate re-shingle, simhash word scan, winnow k-gram scan):
    // without the pin each leg re-reads and re-spreads the corpus
    // (§2.4/§6 — share the scan). The pin is exactly the ensemble's
    // input projection, the same one each leg would materialize for
    // itself; the 8-row result is pinned before release so the
    // returned frame replays bytes, not the detector plans.
    val docs = documents(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
    def tag(df: DataFrame, name: String): DataFrame =
      df.select(col("doc_a"), col("doc_b")).distinct().withColumn(name, lit(1L))
    try {
      val mh = tag(
        lshCandidatesWithJaccard(docs, "doc_id", "text").filter(jaccardAtLeast(0.5)), "in_mh")
      val sh = tag(simhashPairFrame(docs, s), "in_sh")
      val wn = tag(TextAnalysis.winnowPairs(docs, 500000L, 8), "in_wn")
      mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
        .join(wn, Seq("doc_a", "doc_b"), "full_outer")
        .na.fill(0L, Seq("in_mh", "in_sh", "in_wn"))
        .agg(
          sum(col("in_mh")).cast("bigint").as("mh"),
          sum(col("in_sh")).cast("bigint").as("sh"),
          sum(col("in_wn")).cast("bigint").as("wn"),
          sum(col("in_mh") * col("in_sh")).cast("bigint").as("ms"),
          sum(col("in_mh") * col("in_wn")).cast("bigint").as("mw"),
          sum(col("in_sh") * col("in_wn")).cast("bigint").as("sw"),
          sum(col("in_mh") * col("in_sh") * col("in_wn")).cast("bigint").as("a3"),
          count(lit(1)).cast("bigint").as("nu")
        )
        .select(
          expr(
            "stack(8, 'minhash', mh, 'simhash', sh, 'winnow', wn, " +
              "'minhash_simhash', ms, 'minhash_winnow', mw, 'simhash_winnow', sw, " +
              "'all_three', a3, 'any_route', nu) as (route, n_pairs)"
          )
        )
        .orderBy("route")
        .localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(docs)
  }

  // ---- incremental dedup against a persisted signature index ---------

  /** Persist the MinHash signature index: the per-doc signature
    * (h0..h7) plus the tall band-key relation, partitioned by
    * band_id. The production dedup shape at 100 TB is INCREMENTAL —
    * the corpus is signed once and each arriving batch probes the
    * index, instead of re-shingling 100 TB per day — exactly the
    * persisted-serve pattern of Similarity.saveIvfIndex. The index
    * stores signatures only (9 BIGINTs/doc — ~0.1% of the text), so
    * the historical text never needs to exist for dedup to run.
    * (At scale the bands relation would be written bucketed by
    * band_key so the probe join is shuffle-free on the index side;
    * partitionBy(band_id) keeps the demo catalog-free.)
    */
  def saveMinhashIndex(docs: DataFrame, idCol: String, textCol: String, dir: String): Unit = {
    val sig = signDocuments(docs, idCol, textCol)
    sig.write.mode("overwrite").parquet(s"$dir/signatures")
    // co-locate each band before the partitioned write (one file per
    // band dir, not one per task × band — the small-files guard)
    bandKeys(sig)
      .repartition(col("band_id"))
      .write
      .mode("overwrite")
      .partitionBy("band_id")
      .parquet(s"$dir/bands")
  }

  /** The increment's signature relation — the thing [[incrementalDedupCached]]
    * caches and [[appendSignaturesToIndex]] persists. Exposed so a
    * probe→flag→append loop signs each batch exactly ONCE.
    */
  def signDocuments(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    minhashSignature(shingles(docs, idCol, textCol))

  /** Index MAINTENANCE: append an increment's signatures and band keys
    * to the persisted index, so the NEXT batch's probe sees this one
    * as history. With [[incrementalDedup]] this closes the production
    * loop: probe → flag → append — per batch, only the delta is ever
    * signed or written, and the index grows by signature rows (9
    * BIGINTs/doc), never text. Parquet append is per-file atomic;
    * partition dirs accrete one file per batch per band — bound that
    * with [[compactMinhashIndex]] on a size-or-schedule trigger.
    */
  def appendToMinhashIndex(newDocs: DataFrame, idCol: String, textCol: String, dir: String): Unit =
    appendSignaturesToIndex(signDocuments(newDocs, idCol, textCol), dir)

  /** Append PRE-COMPUTED signatures (typically the cached relation
    * returned by [[incrementalDedupCached]], so the probe and the
    * append share one shingle+sign pass over the batch).
    */
  def appendSignaturesToIndex(sig: DataFrame, dir: String): Unit = {
    sig.write.mode("append").parquet(s"$dir/signatures")
    bandKeys(sig)
      .repartition(col("band_id"))
      .write
      .mode("append")
      .partitionBy("band_id")
      .parquet(s"$dir/bands")
  }

  /** Index COMPACTION: every [[appendSignaturesToIndex]] adds one file
    * per batch (per band partition for the bands relation), so a
    * long-lived probe→append loop re-creates the small-files problem
    * the initial save guards against. Rewrite both relations in place:
    * bands back to one file per band dir, signatures to
    * `sigPartitions` files (at corpus scale size this by target bytes
    * per file, not a count). Values are untouched, so probes are
    * bit-identical before and after; like any overwrite of a live
    * table, run it under the lake's usual maintenance coordination.
    */
  def compactMinhashIndex(spark: SparkSession, dir: String, sigPartitions: Int = 4): Unit = {
    graft.core.Compaction.compact(spark, s"$dir/signatures", None, sigPartitions)
    graft.core.Compaction.compact(spark, s"$dir/bands", Some("band_id"), 1)
  }

  /** Near-dup flags for an increment of NEW documents against the
    * persisted index: only the increment is shingled/signed; candidate
    * pairs are (increment bands ⋈ index bands) plus increment
    * self-pairs (ref < new, so each pair reports once); the similarity
    * decision is the minhash AGREEMENT estimator (matching components
    * / k — the textbook unbiased Jaccard estimate). That estimator is
    * the deliberate serve-side trade: the index does not store text,
    * so exact shingle re-verification against history is impossible
    * by design — k and minMatches set the precision/recall point
    * (k=8, minMatches=6 ⇒ est J ≥ 0.75).
    *
    * Scale shape: the increment is the small side (a day's delta), so
    * the band probe broadcasts it against the corpus-sized index
    * relation; candidates are output-sized; signature joins carry 9
    * BIGINTs per row. The cached relation is the increment's
    * SIGNATURES (bounded by the delta, never the corpus) — use
    * [[incrementalDedupCached]] to take ownership of it and unpersist
    * once the flags are materialized (a loop that probes per batch
    * forever must not pin one dead delta per batch).
    * Id spaces may overlap between index and increment: every join is
    * src-qualified, so an id re-arriving in the increment never picks
    * up the indexed signature of its previous version.
    *
    * Cold start: a never-seeded `indexDir` behaves as an EMPTY index
    * (schema-explicit reads over the missing/empty dirs), so the first
    * batch of a stream flags only its own self-pairs and its append
    * seeds the index.
    */
  def incrementalDedup(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      minMatches: Int
  ): DataFrame =
    incrementalDedupCached(newDocs, idCol, textCol, indexDir, minMatches)._1

  /** [[incrementalDedup]] plus ownership of the cached increment
    * signatures: returns (flags, cached signatures). The caller
    * materializes the flags (and typically appends the signatures to
    * the index — one sign pass serves both), then unpersists.
    */
  def incrementalDedupCached(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      minMatches: Int
  ): (DataFrame, DataFrame) = {
    val sigNew = signDocuments(newDocs, idCol, textCol).cache()
    (incrementalDedupFromSignatures(sigNew, indexDir, minMatches), sigNew)
  }

  /** Probe core over an already-cached increment signature relation. */
  def incrementalDedupFromSignatures(
      sigNew: DataFrame,
      indexDir: String,
      minMatches: Int
  ): DataFrame = {
    val spark = sigNew.sparkSession
    val bandsNew = bandKeys(sigNew)
    // schema-explicit reads: no footer-inference pass over the index,
    // and a missing or files-less dir (cold start; an empty first
    // batch's append) reads as the empty relation instead of throwing
    def readIndex(name: String, like: DataFrame): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) spark.read.schema(like.schema).parquet(p.toString)
      else like.limit(0)
    }
    val refBands = readIndex("bands", bandsNew)
      .withColumn("src", lit("index"))
      .unionByName(bandsNew.withColumn("src", lit("increment")))
    val n = bandsNew.select(col("doc_id").as("new_id"), col("band_id"), col("band_key"))
    val r = refBands.select(
      col("doc_id").as("ref_id"),
      col("band_id").as("band_id_r"),
      col("band_key").as("band_key_r"),
      col("src")
    )
    val cands = n
      .join(
        r,
        col("band_id") === col("band_id_r") && col("band_key") === col("band_key_r") &&
          when(col("src") === "increment", col("ref_id") < col("new_id"))
            .otherwise(col("ref_id") =!= col("new_id"))
      )
      .select("new_id", "ref_id", "src")
      .distinct()
    val hCols = (0 until numHashes).map(i => s"h$i")
    val refSigs = readIndex("signatures", sigNew)
      .withColumn("src", lit("index"))
      .unionByName(sigNew.withColumn("src", lit("increment")))
    val rs = refSigs.select(
      col("doc_id").as("ref_id") +: col("src") +: hCols.map(h => col(h).as(s"r${h.drop(1)}")): _*
    )
    val ns = sigNew.select(col("doc_id").as("new_id") +: hCols.map(col): _*)
    val matchExpr = (0 until numHashes)
      .map(i => s"(CASE WHEN h$i = r$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    cands
      .join(ns, "new_id")
      .join(rs, Seq("ref_id", "src"))
      .withColumn("n_match", expr(matchExpr).cast("bigint"))
      .filter(col("n_match") >= minMatches)
      .withColumn("est_jaccard", round(col("n_match") / lit(numHashes.toDouble), 6))
      .select("new_id", "ref_id", "src", "n_match", "est_jaccard")
      // replay tolerance: an at-least-once re-append duplicates rows in
      // BOTH index relations — duplicate band rows already collapse in
      // the DISTINCT'd candidates, but duplicate signature rows fan out
      // the scoring join; this output-sized dedup collapses that too
      // (the duplicated rows are value-identical, n_match being a pure
      // function of the two signatures)
      .dropDuplicates("new_id", "ref_id", "src")
      .orderBy("new_id", "ref_id", "src")
  }

  /** The incremental route as an oracle-gated query: index the even
    * doc_ids (the "existing corpus"), then dedup the odd doc_ids (the
    * "arriving batch") against index + themselves. minMatches = 6 of
    * 8 ⇒ flags pairs with estimated Jaccard ≥ 0.75.
    *
    * The index is built ONCE per process ([[Fixtures.demoIndexDir]]),
    * so a bench rep after the first measures the steady-state PROBE —
    * the number that matters at 100 TB — while first_run carries the
    * one-time build (the bench JSON labels this). The probe's flags
    * are materialized to scratch parquet so the increment's signature
    * cache is released before the query returns.
    */
  val incrementalMinMatches = 6

  /** The once-per-process even-docs demo index (the "existing corpus"
    * of every incremental/streaming demo query). Shared by
    * [[dedupIncremental]] (which probes it read-only) and the stream
    * replays (which COPY it to scratch before appending).
    */
  private[graft] def demoEvenMinhashIndex(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "mh", d) { idx =>
      saveMinhashIndex(documents(s, d).filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    }

  val dedupIncremental: Q = (s, d) => {
    val dir = demoEvenMinhashIndex(s, d)
    val (flags, sigNew) = incrementalDedupCached(
      documents(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id",
      "text",
      dir,
      incrementalMinMatches
    )
    Fixtures.materializedSorted(flags, Seq("new_id", "ref_id", "src"), sigNew)
  }

  // ---- blocked exact n-gram Jaccard ----------------------------------

  /** Exact word-set Jaccard restricted to blocking buckets
    * (lang, length-bucket) — the classic blocked near-dup join: pairs
    * exist only within a block, never across the whole corpus.
    */
  /** Core of the blocked pair join: `docs` = (doc_id, block, ws).
    * Returns (pairs, quarantinedBlocks).
    *
    * Join shape: the blocking key has tiny cardinality, so a plain
    * shuffle join would put whole blocks on single tasks (skew), and
    * broadcasting the word-set relation caps out at one executor's
    * memory at corpus scale. Two-sided salt GRID join instead
    * (Salting.saltedGridJoin): each side is pinned to one of `grid`
    * salt classes by its own doc hash and replicated only across the
    * other axis, so a block fans out over grid² sub-keys for 2·grid
    * total replication — same hot-key parallelism as one-sided
    * salting at factor=grid², at a fraction of the shuffle volume
    * (the replicated rows carry word-set arrays, the dominant bytes).
    * The shuffle_hash hint pins the distributed plan at test scale.
    *
    * Oversized-block guard: within-block pair expansion is inherently
    * quadratic - a block with n docs emits n(n-1)/2 pairs no matter
    * how the join is distributed. Blocks over `maxDocsPerBlock` are
    * QUARANTINED (returned separately with their avoided pair count)
    * instead of exploded; the caller routes them to the
    * candidate-bounded MinHash-LSH path, the correct tool at that
    * density. Block sizes are a blocking-key-cardinality-sized
    * relation, so the guard join broadcasts it for free.
    */
  def blockedJaccardPairs(
      docs: DataFrame,
      minJaccard: Double,
      maxDocsPerBlock: Long
  ): (DataFrame, DataFrame) = {
    val sizes = docs.groupBy(col("block")).agg(count(lit(1)).as("n_docs"))
    val quarantined = sizes
      .filter(col("n_docs") > maxDocsPerBlock)
      .withColumn("n_pairs_avoided", (col("n_docs") * (col("n_docs") - 1) / 2).cast("bigint"))
    val bounded = docs
      .join(broadcast(sizes.filter(col("n_docs") <= maxDocsPerBlock).select("block")), "block")
    val a = bounded.select(col("doc_id").as("doc_a"), col("block"), col("ws").as("ws_a"))
    val b = bounded.select(col("doc_id").as("doc_b"), col("block").as("block_b"), col("ws").as("ws_b"))
    val pairs = graft.core.Salting
      .saltedGridJoin(a, "block", "doc_a", b.hint("shuffle_hash"), "block_b", "doc_b", 4)
      .filter(col("doc_a") < col("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        size(array_intersect(col("ws_a"), col("ws_b"))).cast("bigint").as("n_inter"),
        // |a u b| = |a| + |b| - |a n b|: no second per-pair array op
        size(col("ws_a")).cast("bigint").as("n_a"),
        size(col("ws_b")).cast("bigint").as("n_b")
      )
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard", round(col("n_inter").cast("double") / col("n_union"), 6))
      .filter(jaccardAtLeast(minJaccard))
      .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")
    (pairs, quarantined)
  }

  /** Documents-per-block stays far under this at any realistic
    * blocking granularity; a block breaching it signals degenerate
    * blocking (e.g. every doc sharing one language+length bucket),
    * where exact all-pairs is the wrong algorithm entirely.
    */
  val defaultMaxDocsPerBlock = 10000L

  val dedupNgramJaccard: Q = (s, d) => {
    val docs = documents(s, d)
      .select(
        col("doc_id"),
        concat_ws("\u0001", col("lang"), expr("CAST(floor(n_chars / 100.0) AS BIGINT)")).as("block"),
        array_distinct(split(col("text"), " ")).as("ws")
      )
    blockedJaccardPairs(docs, 0.5, defaultMaxDocsPerBlock)._1
      .orderBy("doc_a", "doc_b")
  }

  /** The quarantine route EXECUTED, not just recorded: bounded blocks
    * get the exact word-set Jaccard pair join; quarantined (oversized)
    * blocks route to the candidate-bounded MinHash-LSH path - the
    * correct tool at degenerate-block density, because its cost is
    * O(shingles + candidates) where the exact join's is O(n^2) in the
    * block. LSH pairs are restricted to same-block (the blocking
    * semantics are preserved; banding replaces enumeration) and
    * verified at the same threshold - over SHINGLE sets, the LSH
    * path's native similarity, which is the honest semantics of
    * falling back (the `method` column says which route produced a
    * pair).
    *
    * The demonstration cap (40) is low enough that real blocks
    * quarantine at the test scales; production keeps
    * defaultMaxDocsPerBlock, where quarantine means genuinely
    * degenerate blocking.
    */
  val fallbackCap = 40L

  val dedupBlockedFallback: Q = (s, d) => {
    val base = documents(s, d)
      .select(
        col("doc_id"),
        col("lang"),
        expr("CAST(floor(n_chars / 100.0) AS BIGINT)").as("lb"),
        col("text")
      )
      .withColumn("block", concat_ws("\u0001", col("lang"), col("lb")))
    val blocked = base.select(col("doc_id"), col("block"), array_distinct(split(col("text"), " ")).as("ws"))
    val (exactPairs, quarantined) = blockedJaccardPairs(blocked, 0.5, fallbackCap)
    // quarantined is blocking-key-cardinality-sized: broadcast is free
    val qDocs = base.join(broadcast(quarantined.select(col("block"))), Seq("block"), "left_semi")
    val blocksOf = base.select(col("doc_id"), col("block").as("blk"))
    // same-block restriction applied BEFORE verification (mirrors the
    // oracle's candsb CTE): cross-block band collisions never pay the
    // shingle-intersection joins
    val sameBlock: DataFrame => DataFrame = p =>
      p.join(blocksOf.select(col("doc_id").as("doc_a"), col("blk").as("blk_a")), "doc_a")
        .join(blocksOf.select(col("doc_id").as("doc_b"), col("blk").as("blk_b")), "doc_b")
        .filter(col("blk_a") === col("blk_b"))
        .select("doc_a", "doc_b")
    val lshSameBlock = lshCandidatesWithJaccard(qDocs, "doc_id", "text", sameBlock)
      .filter(jaccardAtLeast(0.5))
      .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")
    exactPairs
      .withColumn("method", lit("exact"))
      .unionByName(lshSameBlock.withColumn("method", lit("lsh")))
      .orderBy("doc_a", "doc_b")
  }

  /** SOURCE cross-duplication matrix — which sources copy from each
    * other: every verified near-dup pair mapped to its (source,
    * source) cell (unordered, lexicographic), counted. The provenance
    * view behind source blocklisting: a source whose pairs concentrate
    * against one other source is a mirror; one that pairs with
    * everything is a scraper. Two id-keyed joins of the output-sized
    * pair relation against the (doc, source) projection — the corpus
    * shuffles only its 2-column projection.
    */
  val dedupSourceMatrix: Q = (s, d) => {
    val docs = documents(s, d)
    val pairs = lshCandidatesWithJaccard(docs, "doc_id", "text")
      .filter(jaccardAtLeast(0.5))
      .select("doc_a", "doc_b")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
      .select(
        least(col("source_a"), col("source_b")).as("src_lo"),
        greatest(col("source_a"), col("source_b")).as("src_hi")
      )
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"))
      .orderBy("src_lo", "src_hi")
  }

  // ---- DuckDB oracles ------------------------------------------------

  private[ops] def shinglesSqlNamed(name: String, src: String) =
    s"""$name AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, len(w)-2),
       |                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)))""".stripMargin

  private[ops] def shinglesSqlFrom(src: String) = shinglesSqlNamed("sh", src)

  private val shinglesSql = shinglesSqlFrom("documents")

  private[ops] def minhashSql: String = {
    val mins = (0 until numHashes).map(i => s"min((mh1 + $i * mh2) % $mhMod) AS h$i").mkString(", ")
    s"""hv AS (
       |  SELECT doc_id,
       |         CAST(${hex12ValSql("mh", 1)} AS BIGINT) AS mh1,
       |         CAST(${hex12ValSql("mh", 13)} AS BIGINT) AS mh2
       |  FROM (SELECT doc_id, md5(shingle) AS mh FROM sh)),
       |mh AS (SELECT doc_id, $mins FROM hv GROUP BY doc_id)""".stripMargin
  }

  private[ops] def bandsSql: String = {
    val nBands = numHashes / bandSize
    val arms = (0 until nBands)
      .map { bnd =>
        val parts = (0 until bandSize).map(j => s"h${bnd * bandSize + j}").mkString(" || ")
        s"SELECT doc_id, $bnd AS band_id, md5($parts) AS band_key FROM mh"
      }
      .mkString(" UNION ALL ")
    s"bands AS ($arms)"
  }

  /** Band CTE over a parity slice of `mh` — the oracle-side split of
    * the incremental query's index/increment sides.
    */
  /** The parity-split incremental probe's CTE chain up to `scored`
    * (new×index and new×new candidates with minhash agreement) —
    * shared between the dedup_incremental / dedup_stream_replay
    * oracles and the stream-clusters oracle's recursive walk.
    */
  private[graft] def incrementalPairCtes: String = {
    val matchSum = (0 until numHashes)
      .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$shinglesSql,
       |$minhashSql,
       |${bandsSqlNamed("bnew", "doc_id % 2 <> 0")},
       |${bandsSqlNamed("bidx", "doc_id % 2 = 0")},
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id, 'index' AS src
       |  FROM bnew n JOIN bidx r
       |    ON n.band_id = r.band_id AND n.band_key = r.band_key AND r.doc_id <> n.doc_id
       |  UNION ALL
       |  SELECT DISTINCT n.doc_id, r.doc_id, 'increment' AS src
       |  FROM bnew n JOIN bnew r
       |    ON n.band_id = r.band_id AND n.band_key = r.band_key AND r.doc_id < n.doc_id),
       |scored AS (
       |  SELECT c.new_id, c.ref_id, c.src, CAST($matchSum AS BIGINT) AS n_match
       |  FROM cand c
       |  JOIN mh a ON a.doc_id = c.new_id
       |  JOIN mh b ON b.doc_id = c.ref_id)""".stripMargin
  }

  /** Connected components over the incremental probe's flagged pairs —
    * what the streaming cluster-map table must converge to.
    */
  private[graft] def incrementalClustersOracle: String =
    s"""WITH RECURSIVE $incrementalPairCtes,
       |e AS (
       |  SELECT DISTINCT new_id AS ea, ref_id AS eb FROM scored
       |  WHERE n_match >= $incrementalMinMatches),
       |und AS (SELECT ea, eb FROM e UNION SELECT eb, ea FROM e),
       |walk(node, reach) AS (
       |  SELECT DISTINCT ea, ea FROM und
       |  UNION
       |  SELECT w.node, u.eb FROM walk w JOIN und u ON u.ea = w.reach)
       |SELECT node AS doc_id, min(reach) AS cluster_id
       |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin

  private def bandsSqlNamed(name: String, pred: String): String = {
    val nBands = numHashes / bandSize
    val arms = (0 until nBands)
      .map { bnd =>
        val parts = (0 until bandSize).map(j => s"h${bnd * bandSize + j}").mkString(" || ")
        s"SELECT doc_id, $bnd AS band_id, md5($parts) AS band_key FROM mh WHERE $pred"
      }
      .mkString(" UNION ALL ")
    s"$name AS ($arms)"
  }

  private def simhashBitSumsSql: String =
    (0 until simhashBits)
      .map(j => s"sum(CASE WHEN ${bitOfHexSql("h", j)} = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")

  private def simhashFpSql: String =
    (0 until simhashBits)
      .map(j => s"(CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")

  lazy val registry: Seq[Query] = Seq(
    Query("dedup_exact", dedupExact,
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),
    Query("dedup_source_matrix", dedupSourceMatrix,
      s"""WITH $shinglesSql,
         |$minhashSql,
         |$bandsSql,
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
         |vp AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b
         |  WHERE ${jaccardAtLeastSql("coalesce(i.n_inter, 0)", "sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)", 0.5)})
         |SELECT least(da.source, db.source) AS src_lo,
         |  greatest(da.source, db.source) AS src_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM vp
         |JOIN documents da ON da.doc_id = vp.doc_a
         |JOIN documents db ON db.doc_id = vp.doc_b
         |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin),
    // the three route chains verbatim (minhash verified ≥ 0.5, simhash
    // banded hamming ≤ 3, winnow containment ≥ 0.5), then EXISTS flags
    // per union pair and one stacked aggregate
    Query("dedup_route_agreement", dedupRouteAgreement,
      s"""WITH $shinglesSql,
         |$minhashSql,
         |$bandsSql,
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
         |mh_pairs AS (
         |  SELECT DISTINCT p.doc_a, p.doc_b
         |  FROM pairs p
         |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b
         |  WHERE ${jaccardAtLeastSql("coalesce(i.n_inter, 0)", "sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)", 0.5)}),
         |words AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |hashed AS (SELECT doc_id, md5(word) AS h FROM words),
         |sums AS (SELECT doc_id, $simhashBitSumsSql FROM hashed GROUP BY doc_id),
         |fp AS (SELECT doc_id, CAST($simhashFpSql AS BIGINT) AS simhash FROM sums),
         |banded AS (
         |  SELECT doc_id, simhash, 0 AS band_id, simhash % 32768 AS band_val FROM fp
         |  UNION ALL SELECT doc_id, simhash, 1, (simhash // 32768) % 32768 FROM fp
         |  UNION ALL SELECT doc_id, simhash, 2, (simhash // 1073741824) % 32768 FROM fp
         |  UNION ALL SELECT doc_id, simhash, 3, (simhash // 35184372088832) % 32768 FROM fp),
         |sh_pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |${TextAnalysis.winnowSelSql},
         |ws2 AS (SELECT DISTINCT doc_id, fph FROM sel),
         |wsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM ws2 GROUP BY doc_id),
         |wrare AS (SELECT fph FROM ws2 GROUP BY fph HAVING count(*) <= 8),
         |wkept AS (SELECT ws2.* FROM ws2 JOIN wrare USING (fph)),
         |wp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM wkept a JOIN wkept b ON a.fph = b.fph AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |wn_pairs AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM wp p
         |  JOIN wsz za ON za.doc_id = p.doc_a
         |  JOIN wsz zb ON zb.doc_id = p.doc_b
         |  WHERE p.n_shared * 1000000 // least(za.n_fp, zb.n_fp) >= 500000),
         |allp AS (
         |  SELECT doc_a, doc_b FROM mh_pairs
         |  UNION SELECT doc_a, doc_b FROM sh_pairs
         |  UNION SELECT doc_a, doc_b FROM wn_pairs),
         |fl AS (
         |  SELECT a.doc_a, a.doc_b,
         |    CASE WHEN EXISTS (SELECT 1 FROM mh_pairs m
         |                      WHERE m.doc_a = a.doc_a AND m.doc_b = a.doc_b) THEN 1 ELSE 0 END AS in_mh,
         |    CASE WHEN EXISTS (SELECT 1 FROM sh_pairs s
         |                      WHERE s.doc_a = a.doc_a AND s.doc_b = a.doc_b) THEN 1 ELSE 0 END AS in_sh,
         |    CASE WHEN EXISTS (SELECT 1 FROM wn_pairs w
         |                      WHERE w.doc_a = a.doc_a AND w.doc_b = a.doc_b) THEN 1 ELSE 0 END AS in_wn
         |  FROM allp a)
         |SELECT route, CAST(n_pairs AS BIGINT) AS n_pairs FROM (
         |  SELECT 'minhash' AS route, sum(in_mh) AS n_pairs FROM fl
         |  UNION ALL SELECT 'simhash', sum(in_sh) FROM fl
         |  UNION ALL SELECT 'winnow', sum(in_wn) FROM fl
         |  UNION ALL SELECT 'minhash_simhash', sum(in_mh * in_sh) FROM fl
         |  UNION ALL SELECT 'minhash_winnow', sum(in_mh * in_wn) FROM fl
         |  UNION ALL SELECT 'simhash_winnow', sum(in_sh * in_wn) FROM fl
         |  UNION ALL SELECT 'all_three', sum(in_mh * in_sh * in_wn) FROM fl
         |  UNION ALL SELECT 'any_route', count(*) FROM fl)
         |ORDER BY route""".stripMargin),
    Query("dedup_minhash_lsh", dedupMinhashLsh,
      s"""WITH $shinglesSql,
         |$minhashSql,
         |$bandsSql,
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
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT p.doc_a, p.doc_b,
         |  coalesce(i.n_inter, 0) AS n_inter,
         |  sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS n_union,
         |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
         |FROM pairs p
         |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |JOIN sizes sa ON sa.doc_id = p.doc_a
         |JOIN sizes sb ON sb.doc_id = p.doc_b
         |ORDER BY p.doc_a, p.doc_b""".stripMargin),
    Query("dedup_simhash", dedupSimhash, {
      s"""WITH words AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |hashed AS (SELECT doc_id, md5(word) AS h FROM words),
         |sums AS (SELECT doc_id, $simhashBitSumsSql FROM hashed GROUP BY doc_id)
         |SELECT doc_id, CAST($simhashFpSql AS BIGINT) AS simhash FROM sums ORDER BY doc_id""".stripMargin
    }),
    Query("dedup_simhash_pairs", dedupSimhashPairs, {
      s"""WITH words AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |hashed AS (SELECT doc_id, md5(word) AS h FROM words),
         |sums AS (SELECT doc_id, $simhashBitSumsSql FROM hashed GROUP BY doc_id),
         |fp AS (SELECT doc_id, CAST($simhashFpSql AS BIGINT) AS simhash FROM sums),
         |banded AS (
         |  SELECT doc_id, simhash, 0 AS band_id, simhash % 32768 AS band_val FROM fp
         |  UNION ALL SELECT doc_id, simhash, 1, (simhash // 32768) % 32768 FROM fp
         |  UNION ALL SELECT doc_id, simhash, 2, (simhash // 1073741824) % 32768 FROM fp
         |  UNION ALL SELECT doc_id, simhash, 3, (simhash // 35184372088832) % 32768 FROM fp),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.simhash AS sim_a, b.simhash AS sim_b
         |  FROM banded a JOIN banded b
         |    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
         |FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    }),
    // the routed fallback: exact word-set Jaccard for bounded blocks,
    // the full MinHash-LSH chain (shingle CTEs FROM the quarantined
    // docs) for oversized ones, same-block-restricted and verified at
    // the same threshold — the oracle replays both routes end to end.
    Query("dedup_blocked_fallback", dedupBlockedFallback,
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS BIGINT) AS lb,
         |         list_distinct(string_split(text, ' ')) AS ws, text
         |  FROM documents),
         |bsz AS (SELECT lang, lb, count(*) AS n FROM d GROUP BY lang, lb),
         |bounded AS (SELECT d.* FROM d JOIN bsz ON d.lang = bsz.lang AND d.lb = bsz.lb WHERE bsz.n <= $fallbackCap),
         |quar AS (SELECT d.* FROM d JOIN bsz ON d.lang = bsz.lang AND d.lb = bsz.lb WHERE bsz.n > $fallbackCap),
         |exact_pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
         |    CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS n_union
         |  FROM bounded a JOIN bounded b
         |    ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id),
         |${shinglesSqlFrom("quar")},
         |$minhashSql,
         |$bandsSql,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |candsb AS (
         |  SELECT c.doc_a, c.doc_b FROM cand c
         |  JOIN quar qa ON qa.doc_id = c.doc_a
         |  JOIN quar qb ON qb.doc_id = c.doc_b AND qa.lang = qb.lang AND qa.lb = qb.lb),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM candsb p
         |  JOIN sh x ON x.doc_id = p.doc_a
         |  JOIN sh y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
         |  GROUP BY p.doc_a, p.doc_b),
         |lsh_pairs AS (
         |  SELECT p.doc_a, p.doc_b,
         |    coalesce(i.n_inter, 0) AS n_inter,
         |    sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS n_union,
         |    round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
         |  FROM candsb p
         |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, n_inter, n_union,
         |  round(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard, 'exact' AS method
         |FROM exact_pairs WHERE ${jaccardAtLeastSql("n_inter", "n_union", 0.5)}
         |UNION ALL
         |SELECT doc_a, doc_b, n_inter, n_union, jaccard, 'lsh' AS method
         |FROM lsh_pairs WHERE ${jaccardAtLeastSql("n_inter", "n_union", 0.5)}
         |ORDER BY doc_a, doc_b""".stripMargin),
    // incremental replay: one shingle/minhash pass over ALL documents
    // (per-doc signatures are corpus-independent, so signing even and
    // odd docs separately — as the Spark side does — gives identical
    // values), bands split by parity, candidates per route, and the
    // same k-of-8 agreement estimator.
    Query("dedup_incremental", dedupIncremental, {
      s"""WITH $incrementalPairCtes
         |SELECT new_id, ref_id, src, n_match,
         |  round(n_match / $numHashes.0, 6) AS est_jaccard
         |FROM scored WHERE n_match >= $incrementalMinMatches
         |ORDER BY new_id, ref_id, src""".stripMargin
    }, build = Some(FirstRun)),
    Query("dedup_ngram_jaccard", dedupNgramJaccard,
      s"""WITH docs AS (
        |  SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
        |         list_distinct(string_split(text, ' ')) AS ws
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS n_inter,
        |    CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS BIGINT) AS n_union
        |  FROM docs a JOIN docs b
        |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, n_inter, n_union,
        |  round(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard
        |FROM pairs WHERE ${jaccardAtLeastSql("n_inter", "n_union", 0.5)}
        |ORDER BY doc_a, doc_b""".stripMargin)
  )
}
