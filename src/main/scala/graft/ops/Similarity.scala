package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Query.FirstRun

/** Similarity search over an embedding column (`Array[Float]`) — the
  * BASELINE.json ANN component.
  *
  * Baseline: brute-force cosine top-k against a query vector. The
  * query side is a 1-row broadcast; the scan side computes dot/norm
  * with codegen'd higher-order functions (`zip_with` + `aggregate`) —
  * no UDFs, no collect. At 100 TB this is one pass, embarrassingly
  * parallel, with only the top-k rows shuffled (TakeOrderedAndProject).
  *
  * Scale path: random-hyperplane LSH — 8 deterministic hyperplanes
  * derived from an integer formula (no RNG at runtime), sign bits →
  * 256 buckets; search visits only the query's bucket, cutting the
  * scan ~256× at the cost of recall (the standard IVF/LSH trade).
  */
object Similarity {
  import Fixtures._

  private val dims = 64
  private val nPlanes = 8

  private def withVec(df: DataFrame): DataFrame =
    df.withColumn("v", col("embedding").cast("array<double>"))

  private val dotQ = "aggregate(zip_with(v, qv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
  private val normV = "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))"
  private val normQ = "sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))"

  /** Brute-force cosine top-k against the embedding of `queryId`,
    * using the fused codegen expression (graft.functions
    * .CosineSimilarity) — one loop per row instead of three
    * aggregate/zip_with folds; numerically identical (same
    * left-to-right summation, so the DuckDB oracle still
    * hash-matches).
    */
  def cosineTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = withVec(emb)
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** ROCCHIO relevance feedback (the classic query rewrite, SMART
    * weights α/β/γ = 1.0/0.75/0.15): q' = α·q + β·centroid(relevant)
    * − γ·centroid(non-relevant), then cosine top-k of q' with the
    * query and feedback vectors excluded (rank the residual
    * collection). Feedback sets are REQUEST-sized (one page of
    * clicks), so the centroids compute driver-side in vec_id order —
    * query-layer work, like every probe-id collect here — and q'
    * ships into the scan as ONE typed literal; the corpus pass is the
    * single cosine scan [[cosineTopK]] already pays. At 100 TB swap
    * the brute-force leg for the IVF route with q' as the probe
    * vector (the scan seam is identical).
    */
  def rocchioTopK(
      emb: DataFrame,
      queryId: Long,
      relIds: Seq[Long],
      nonRelIds: Seq[Long],
      k: Int
  ): DataFrame = {
    require(relIds.nonEmpty, "rocchio needs at least one relevant vector")
    // duplicate click ids would skew the centroid (a doc counted
    // twice); a typo'd id would silently shrink it (fetch returns
    // fewer vectors, the divisor follows) — validate BOTH feedback
    // sets the way the query id always was: fail loudly, don't rewrite
    // the query differently than the user asked
    require(
      relIds.distinct.size == relIds.size,
      s"rocchio: duplicate relevant ids: ${relIds.mkString(",")}"
    )
    require(
      nonRelIds.distinct.size == nonRelIds.size,
      s"rocchio: duplicate non-relevant ids: ${nonRelIds.mkString(",")}"
    )
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = withVec(emb)
    def fetch(ids: Seq[Long], what: String): Seq[Array[Double]] = {
      val vs = e
        .filter(col("vec_id").isin(ids: _*))
        .orderBy("vec_id")
        .select("v")
        .collect()
        .map(_.getSeq[Double](0).toArray)
        .toSeq
      require(
        vs.size == ids.size,
        s"rocchio: ${ids.size - vs.size} $what id(s) of ${ids.mkString(",")} missing " +
          "from the embedding relation"
      )
      vs
    }
    val q = fetch(Seq(queryId), "query")
    // dimension-wise mean in vec_id order — the one float-op order the
    // oracle replays (left-to-right sum, one division)
    def centroid(vs: Seq[Array[Double]]): Array[Double] =
      Array.tabulate(dims)(i => vs.map(_(i)).sum / vs.size)
    val rc = centroid(fetch(relIds.sorted, "relevant"))
    val nc =
      if (nonRelIds.isEmpty) None else Some(centroid(fetch(nonRelIds.sorted, "non-relevant")))
    val qv = q.head
    val qp = Array.tabulate(dims) { i =>
      qv(i) + 0.75 * rc(i) - (nc match { case Some(c) => 0.15 * c(i); case None => 0.0 })
    }
    val excluded = (queryId +: (relIds ++ nonRelIds)).distinct
    e.filter(!col("vec_id").isin(excluded: _*))
      .withColumn("qv", array(qp.map(lit(_)): _*))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  private[ops] val fixtureRocchioRel = Seq(3L, 5L)
  private[ops] val fixtureRocchioNonRel = Seq(7L)

  val annRocchio: Q = (s, d) =>
    rocchioTopK(embeddings(s, d), 0L, fixtureRocchioRel, fixtureRocchioNonRel, 20)

  /** RANGE (radius) search — "every vector within cosine ≥ τ of the
    * query", the dedup/recall-sweep primitive top-k can't express
    * (top-k bounds the page, a radius bounds the NEIGHBORHOOD: near-
    * duplicate harvesting and cluster seeding want ALL matches, not
    * the best k). One embarrassingly-parallel scan with the threshold
    * pushed into the filter, so only qualifying rows (result-set-
    * sized, not corpus-sized) ever shuffle — there is NO top-k heap
    * and no driver involvement; at 100 TB this is the same one-pass
    * shape as [[cosineTopK]] minus the global ordering bound. The
    * threshold compares the ROUND-6 cosine (the relation's published
    * precision), so the result set is engine-portable by construction.
    */
  def rangeSearch(emb: DataFrame, queryId: Long, minCos: Double): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = withVec(emb)
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .filter(col("cos_sim") >= minCos)
      .select(col("vec_id"), col("label"), col("cos_sim"))
  }

  /** [[rangeSearch]] served from the PERSISTED IVF index: the nProbe
    * nearest centroid lists are chosen driver-side (nLists rows), the
    * scan reads ONLY those list partitions (partition pruning), and
    * the radius filter runs inside them. At nProbe = nLists the probe
    * is EXACT and shares the brute oracle — that equality gates the
    * persisted layout + tombstone machinery; the recall trade of
    * nProbe < nLists is the same one ann_lsh_recall and the IVF golden
    * pin already measure.
    */
  def rangeSearchFromIndex(
      spark: SparkSession,
      dir: String,
      queryId: Long,
      minCos: Double,
      nProbe: Int
  ): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val assigned =
      Generations.liveRows(spark, dir, spark.read.parquet(s"$dir/assignments"), keyCol = "vec_id")
    val probeLists = probedListsFor(spark, dir, assigned, queryId, nProbe)
    val q = assigned.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    assigned
      .filter(col("list_id").isin(probeLists: _*))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .filter(col("cos_sim") >= minCos)
      .select(col("vec_id"), col("label"), col("cos_sim"))
  }

  /** Driver-side cosine shared by the probe-list pickers. */
  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The query's nProbe nearest centroid lists (nLists rows collected
    * driver-side — the IVF probe-selection step every probe route
    * runs).
    */
  private def probedListsFor(
      spark: SparkSession,
      dir: String,
      assigned: DataFrame,
      queryId: Long,
      nProbe: Int
  ): Seq[Int] = {
    val qv = assigned.filter(col("vec_id") === queryId).select("v").head().getSeq[Double](0).toArray
    spark.read
      .parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getAs[Int]("list_id"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
      .sortBy { case (id, c) => (-cosArr(qv, c), id) }
      .take(nProbe)
      .map(_._1)
      .toSeq
  }

  /** ANN RADIUS RECALL report — the recall-vs-cost readout for
    * [[rangeSearchFromIndex]] at nProbe < nLists, the radius analog of
    * the top-k hybrid's recall gate (search_rrf_recall): for each
    * threshold, how many of the TRUE radius matches (brute, all lists)
    * the pruned probe would return. An IVF radius hit set is a SUBSET
    * of the brute set at the same rounded threshold (same round-6
    * cosine filter, fewer lists), so recall = n_found / n_true needs
    * no intersection. ONE corpus scan computes every threshold's both
    * counts (the probed-list membership is a flag on the same row);
    * the report itself is thresholds-sized. recall_micro is the exact
    * integer floor(n_found·10⁶ / n_true) (10⁶ when n_true = 0 —
    * vacuously full recall).
    */
  def rangeRecallReport(
      spark: SparkSession,
      dir: String,
      queryId: Long,
      thresholds: Seq[Double],
      nProbe: Int
  ): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    require(thresholds.nonEmpty, "recall report needs at least one threshold")
    require(thresholds.distinct.size == thresholds.size, s"duplicate thresholds: $thresholds")
    val assigned =
      Generations.liveRows(spark, dir, spark.read.parquet(s"$dir/assignments"), keyCol = "vec_id")
    val probeLists = probedListsFor(spark, dir, assigned, queryId, nProbe)
    val q = assigned.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val scored = assigned
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .select(col("list_id"), col("cos_sim"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(when(col("cos_sim") >= t, 1L).otherwise(0L)).cast("long").as(s"nt_$i"),
        sum(
          when(col("cos_sim") >= t && col("list_id").isin(probeLists: _*), 1L).otherwise(0L)
        ).cast("long").as(s"nf_$i")
      )
    }
    val r = scored.agg(aggs.head, aggs.tail: _*).head()
    import spark.implicits._
    thresholds.zipWithIndex
      .map { case (t, i) =>
        val nt = r.getLong(2 * i)
        val nf = r.getLong(2 * i + 1)
        val recall = if (nt == 0) 1000000L else nf * 1000000L / nt
        (math.round(t * 1000000L).toLong, nt, nf, recall)
      }
      .toDF("min_cos_micro", "n_true", "n_found", "recall_micro")
  }

  /** MMR (maximal marginal relevance) diversified top-k — the standard
    * result-diversification re-rank (Carbonell & Goldstein '98):
    * greedily pick argmax over remaining candidates of
    * λ·rel(i) − (1−λ)·max_{j∈S} sim(i, j), λ = 7/10 here, in EXACT
    * integer micro-units scaled ×10 (score10 = 7·rel_micro −
    * 3·maxsim_micro) so the greedy's comparisons are engine-portable.
    * The candidate pool is the brute top-m page (query excluded) — the
    * re-rank is REQUEST-sized (m vectors), so the greedy runs
    * driver-side like every page-level pass here (Rocchio's posture);
    * the corpus pays only the one top-m scan, and at 100 TB the
    * candidate leg swaps for the IVF probe with the re-rank unchanged.
    * rel and pairwise sims are both round-6 cosines lifted to micro
    * ints — the relation's published precision — with ties broken by
    * vec_id asc at every pick.
    */
  def mmrTopK(emb: DataFrame, queryId: Long, m: Int, k: Int): DataFrame = {
    require(m >= k && k >= 1, s"mmr needs m >= k >= 1, got m=$m k=$k")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val s = emb.sparkSession
    import s.implicits._
    val e = withVec(emb)
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val cand = e
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(m)
      .select(col("vec_id"), col("label"), col("cos_sim"), col("v"))
      .collect()
      .map(r =>
        (
          r.getLong(0),
          r.get(1),
          math.round(r.getDouble(2) * 1000000L),
          r.getSeq[Double](3).toArray
        )
      )
    // round-6 cosine between two candidates, identical op order to the
    // engine expression (left-to-right sums, one divide, HALF_UP at 6)
    def cos6micro(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val c = if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
      val r6 = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.round(r6 * 1000000L)
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Any, Long)]
    val remaining = scala.collection.mutable.ArrayBuffer(cand: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val pick = remaining
        .map { c =>
          val maxSim =
            if (selected.isEmpty) 0L
            else selected.map(sel => cos6micro(c._4, cand.find(_._1 == sel._1).get._4)).max
          (c, 7L * c._3 - 3L * maxSim)
        }
        .minBy { case (c, sc10) => (-sc10, c._1) }
      selected += ((pick._1._1, pick._1._2, pick._2))
      remaining -= pick._1
    }
    selected.zipWithIndex.toSeq
      .map { case ((id, label, sc10), i) => (i + 1L, id, label.asInstanceOf[Int], sc10) }
      .toDF("rank", "vec_id", "label", "mmr10_micro")
  }

  /** Deterministic hyperplane component (j = plane, k = dimension):
    * integer formula, identical in the DuckDB oracle.
    */
  private def planeSql(j: Int): String =
    s"transform(sequence(0, ${dims - 1}), k -> CAST((k * 37 + $j * 101) % 19 - 9 AS DOUBLE))"

  /** Sign-bit LSH bucket id per vector. */
  def lshBuckets(emb: DataFrame): DataFrame = {
    val e = withVec(emb)
    val bits = (0 until nPlanes)
      .map { j =>
        val dot = s"aggregate(zip_with(v, ${planeSql(j)}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        s"(CASE WHEN $dot >= 0 THEN ${1 << j} ELSE 0 END)"
      }
      .mkString(" + ")
    e.withColumn("bucket_id", expr(s"CAST($bits AS BIGINT)"))
  }

  val annCosineTopk: Q = (s, d) => cosineTopK(embeddings(s, d), 0L, 20)

  val annLshBuckets: Q = (s, d) =>
    lshBuckets(embeddings(s, d))
      .groupBy(col("bucket_id"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .orderBy("bucket_id")

  /** CLUSTER-BALANCED diversity subsample: keep at most `cap` vectors
    * per LSH bucket, chosen by the engine-portable md5 draw (`bal|`
    * domain) with vec_id tie-break — the curation step that stops
    * dense regions of embedding space from dominating a subsample
    * (the cluster-based pruning recipe: sample evenly ACROSS
    * semantic regions, not uniformly over rows). Deterministic,
    * append-stable within a bucket's survivors, and a pure function
    * of (vector, id) — no fitted model.
    *
    * Scale shape: one projection pass for bucket + draw, then a
    * per-bucket top-cap which Spark 4 plans as WindowGroupLimit — the
    * cap applies BEFORE the shuffle, so each bucket moves at most
    * `cap` rows per map partition, never its full population.
    */
  def bucketBalancedSample(emb: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    lshBuckets(emb)
      .withColumn(
        "draw",
        conv(substring(md5(concat(lit("bal|"), col("vec_id").cast("string")).cast("binary")), 1, 12), 16, 10)
          .cast("long")
      )
      .withColumn(
        "rank",
        row_number()
          .over(Window.partitionBy(col("bucket_id")).orderBy(col("draw"), col("vec_id")))
          .cast("bigint")
      )
      .filter(col("rank") <= cap)
      .select(col("bucket_id"), col("rank"), col("vec_id"), col("label"))
  }

  val sampleBucketBalanced: Q = (s, d) =>
    bucketBalancedSample(embeddings(s, d), 3).orderBy("bucket_id", "rank")

  /** Top-k restricted to the query's LSH bucket (the ANN scale path). */
  val annLshTopk: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val bucketed = lshBuckets(embeddings(s, d))
    val q = bucketed
      .filter(col("vec_id") === 0L)
      .select(col("v").as("qv"), col("bucket_id").as("q_bucket"))
    bucketed
      .join(broadcast(q), col("bucket_id") === col("q_bucket"))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .select(col("vec_id"), col("label"), col("bucket_id"), col("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(10)
  }

  /** HARD-NEGATIVE mining for contrastive/embedding training: for
    * each anchor vector, the k most-similar vectors that are NOT
    * near-duplicates (cosine < dupThreshold) — the "closest wrong
    * answers" that make the strongest training negatives. Candidates
    * come from the anchor's sign-LSH bucket (the same neighborhood the
    * ANN serving path probes), so the miner inherits the ANN family's
    * scale shape: per-anchor candidate work is bucket-sized
    * (~N/2^planes), never corpus-sized.
    *
    * Scale design: the anchor set is a sample (broadcast here;
    * at anchor counts beyond the broadcast threshold the identical
    * plan runs as a shuffle hash join on bucket_id — the join key
    * doesn't change). The per-anchor top-k is a rank-limit window
    * Spark 4 executes as WindowGroupLimit: each map partition
    * forwards at most k rows per anchor, so the window shuffle is
    * anchors×k-sized. The dup-exclusion filter runs BEFORE ranking —
    * rank 1 is the closest NON-duplicate, which is the definition.
    */
  def hardNegatives(emb: DataFrame, anchorEvery: Long, k: Int, dupThreshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val bucketed = lshBuckets(emb)
    val anchors = bucketed
      .filter(col("vec_id") % anchorEvery === 0)
      .select(col("vec_id").as("anchor_id"), col("v").as("qv"), col("bucket_id").as("q_bucket"))
    bucketed
      .join(broadcast(anchors), col("bucket_id") === col("q_bucket"))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .filter(col("cos_sim") < dupThreshold && col("vec_id") =!= col("anchor_id"))
      .withColumn(
        "rank",
        row_number()
          .over(Window.partitionBy(col("anchor_id")).orderBy(desc("cos_sim"), asc("vec_id")))
          .cast("bigint")
      )
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("vec_id"), col("label"), col("cos_sim"))
  }

  val annHardNegatives: Q = (s, d) =>
    hardNegatives(embeddings(s, d), 50L, 5, 0.9).orderBy("anchor_id", "rank")

  /** [[hardNegatives]] served from the PERSISTED bucket index — the
    * production shape: the corpus is bucketed ONCE
    * ([[saveEmbeddingDedupIndex]], partitioned by bucket_id), and a
    * mining pass reads back ONLY the index partitions for buckets the
    * anchor set occupies (static isin pruning over a ≤2^planes-value
    * collected set — lands as a parquet PartitionFilter, spec-pinned).
    * Per-pass I/O is occupied-partitions-sized, never corpus-sized;
    * the rest of the arithmetic (dup filter before ranking, rank-limit
    * window) is identical to the in-memory route.
    */
  def hardNegativesFromIndex(
      anchorVecs: DataFrame,
      indexDir: String,
      k: Int,
      dupThreshold: Double,
      // false returns the live plan so callers/specs can inspect the
      // pruned index scan; the gated query materializes and releases.
      // On this path the anchor cache is unpersisted BEFORE returning
      // (it only needs to be hot for the probe-bucket collect) — the
      // live plan recomputes the anchor bucketing once at execution,
      // an anchor-set-sized cost, rather than leaking one cached
      // frame per non-materialized call for the session's lifetime
      materialize: Boolean = true
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = anchorVecs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val anchors = lshBuckets(anchorVecs)
      .select(col("vec_id").as("anchor_id"), col("v").as("qv"), col("bucket_id").as("q_bucket"))
      .cache()
    val probeBuckets = anchors.select("q_bucket").distinct().collect().map(_.getLong(0))
    val idxSchema = anchors
      .select(col("anchor_id").as("vec_id"), col("qv").as("v"), col("q_bucket").as("bucket_id"))
      .limit(0)
    val idx = spark.read
      .schema(idxSchema.schema)
      .parquet(s"$indexDir/buckets")
      .filter(col("bucket_id").isin(probeBuckets.toSeq: _*))
    val negs = idx
      .join(broadcast(anchors), col("bucket_id") === col("q_bucket"))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .filter(col("cos_sim") < dupThreshold && col("vec_id") =!= col("anchor_id"))
      .withColumn(
        "rank",
        row_number()
          .over(Window.partitionBy(col("anchor_id")).orderBy(desc("cos_sim"), asc("vec_id")))
          .cast("bigint")
      )
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("vec_id"), col("cos_sim"))
    if (materialize) Fixtures.materializedSorted(negs, Seq("anchor_id", "rank"), anchors)
    else { anchors.unpersist(); negs.orderBy("anchor_id", "rank") }
  }

  /** Index route gate: anchors are the %50 sample, candidates the
    * even-id demo index — index built once per process, reps measure
    * the steady-state pruned probe.
    */
  val annHardNegativesIndex: Q = (s, d) =>
    hardNegativesFromIndex(
      embeddings(s, d).filter(col("vec_id") % 50 === 0),
      demoEmbIndexDir(s, d),
      k = 5,
      dupThreshold = 0.9
    )

  /** MARGIN-BASED bitext mining (the mined-parallel-corpus recipe:
    * score a cross-lingual candidate pair not by raw cosine but by
    * how much it stands out against each side's neighborhood —
    * margin(x,y) = cos(x,y) ÷ mean(k-NN cos of x, k-NN cos of y).
    * Raw cosine mines hubs (vectors close to everything); the ratio
    * margin cancels hubness because a hub's denominator is as
    * inflated as its numerator. Sides here are the embedding table's
    * label split (0 = "source language", 1 = "target").
    *
    * Determinism contract: each pair cosine is rounded to 6 then
    * floored to integer MICRO-units once; every downstream quantity
    * (k-NN sums, the margin ratio) is pure integer arithmetic —
    * margin_micro = floor(cos_micro · 8·10⁶ ÷ (Σtop4ₓ + Σtop4ᵧ)) —
    * so no float-summation order can diverge between engines.
    *
    * Scale shape: this entry point builds the exact cross product
    * (the brute-force baseline, like ann_cosine_topk) and hands it to
    * [[minedBitextFrom]] — the candidate SEAM. At corpus scale a job
    * calls [[minedBitextFrom]] directly with bucket- or IVF-probe-
    * restricted candidates (dedupEmbeddingCosine / ivfTopK supply
    * those relations); the margin arithmetic is a pure function of
    * the supplied relation, so the scale path shares every line of
    * the gated tail. The two k-NN aggregations and the forward top-1
    * are rank-limit windows (WindowGroupLimit: k rows per key per
    * partition forwarded), and the pair relation is pinned ONCE so
    * the three consumers don't re-derive the candidate pass.
    */
  def minedBitext(emb: DataFrame, k: Int, minMarginMicro: Long): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = withVec(emb)
    val xs = e.filter(col("label") === 0).select(col("vec_id").as("x_id"), col("v").as("xv"))
    val ys = e.filter(col("label") === 1).select(col("vec_id").as("y_id"), col("v").as("yv"))
    val pairs = xs
      .crossJoin(ys)
      .withColumn(
        "cos_micro",
        expr("CAST(floor(round(cosine_sim(xv, yv), 6) * 1000000) AS BIGINT)")
      )
      .select("x_id", "y_id", "cos_micro")
    minedBitextFrom(pairs, k, minMarginMicro)
  }

  /** The margin/k-NN TAIL of bitext mining over a SUPPLIED candidate
    * relation (x_id, y_id, cos_micro) — the seam that makes the scale
    * path code instead of documentation: [[minedBitext]] feeds it the
    * brute-force cross product (the fixture baseline), a production
    * job feeds it bucket- or IVF-probe-restricted candidates (the
    * relations [[dedupEmbeddingCosine]] / [[ivfTopK]] produce), and
    * the margin arithmetic is IDENTICAL — a pure function of the
    * candidate relation (SimilaritySpec pins both: cross-product
    * equality with [[minedBitext]], and bucket-restricted margins
    * recomputed independently). Note the semantics: k-NN sums are
    * per-node over the candidates PRESENT, so a restricted relation
    * computes margins against the restricted neighborhoods — exactly
    * the approximation the mining literature runs at scale.
    */
  def minedBitextFrom(candidates: DataFrame, k: Int, minMarginMicro: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = candidates
      .select("x_id", "y_id", "cos_micro")
      // eager pin: three consumers (two k-NN aggs + forward top-1)
      // must not re-derive the candidate pass; released by the cleaner
      // once the returned plan's RDD goes out of scope
      .localCheckpoint(true)
    def knnSum(key: String): DataFrame =
      pairs
        .withColumn(
          "rk",
          row_number().over(
            Window
              .partitionBy(col(key))
              .orderBy(desc("cos_micro"), asc(if (key == "x_id") "y_id" else "x_id"))
          )
        )
        .filter(col("rk") <= k)
        .groupBy(col(key))
        .agg(sum(col("cos_micro")).as(s"knn_$key"))
    val fwd = pairs
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy(col("x_id")).orderBy(desc("cos_micro"), asc("y_id")))
      )
      .filter(col("rk") === 1)
      .drop("rk")
    fwd
      .join(knnSum("x_id"), "x_id")
      .join(knnSum("y_id"), "y_id")
      // Denominator guard: with orthogonal/antipodal embedding sets
      // both k-NN micro sums can be zero or negative, and double
      // division by a non-positive value yields Inf/negative-floor
      // values whose CAST semantics differ between engines. A hub
      // whose whole neighborhood is non-positive has no meaningful
      // ratio margin anyway — drop it identically on both sides
      // (the oracle carries the same `> 0` predicate).
      .filter(col("knn_x_id") + col("knn_y_id") > 0)
      .withColumn(
        "margin_micro",
        expr(s"CAST(floor(cos_micro * ${2 * k * 1000000}.0 / (knn_x_id + knn_y_id)) AS BIGINT)")
      )
      .filter(col("margin_micro") >= minMarginMicro)
      .select(col("x_id"), col("y_id"), col("cos_micro"), col("margin_micro"))
  }

  val bitextMine: Q = (s, d) =>
    minedBitext(embeddings(s, d), k = 4, minMarginMicro = 1010000L).orderBy("x_id")

  /** Persisted BITEXT candidate index: sign-LSH buckets WITH the side
    * label, partitioned by bucket — the artifact a production mining
    * job builds once per corpus snapshot and mines from repeatedly.
    * (The dedup bucket index drops the label; mining needs it to pair
    * across sides.)
    */
  def saveBitextBucketIndex(emb: DataFrame, dir: String): Unit =
    lshBuckets(emb)
      .select(col("vec_id"), col("label"), col("v"), col("bucket_id"))
      .repartition(col("bucket_id"))
      .write
      .mode("overwrite")
      .partitionBy("bucket_id")
      .parquet(s"$dir/buckets")

  /** Bitext mining AT INDEX SHAPE — the scale path [[minedBitextFrom]]
    * documents, now end to end from bytes: candidates are the
    * CROSS-SIDE pairs within each persisted LSH bucket (each vector
    * lives in exactly one bucket, so a pair arises at most once and
    * pair volume is Σ_b |x_b|·|y_b|, never |X|·|Y|), cos recomputed
    * exact per candidate, and the margin tail is [[minedBitextFrom]]
    * verbatim — margins against the RESTRICTED neighborhoods, the
    * approximation the mining literature runs at scale. The oracle
    * re-derives the same restricted relation (the LSH sign arithmetic
    * is engine-portable), so the approximation is oracle-gated, not
    * just documented.
    */
  def minedBitextFromIndex(s: SparkSession, dir: String, k: Int, minMarginMicro: Long): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val idx = s.read.parquet(s"$dir/buckets")
    val xs = idx
      .filter(col("label") === 0)
      .select(col("vec_id").as("x_id"), col("bucket_id"), col("v").as("xv"))
    val ys = idx
      .filter(col("label") === 1)
      .select(col("vec_id").as("y_id"), col("bucket_id").as("bucket_y"), col("v").as("yv"))
    // in-bucket shuffle join — never a broadcast of a corpus side
    val cand = xs
      .join(ys.hint("shuffle_hash"), col("bucket_id") === col("bucket_y"))
      .withColumn(
        "cos_micro",
        expr("CAST(floor(round(cosine_sim(xv, yv), 6) * 1000000) AS BIGINT)")
      )
      .select("x_id", "y_id", "cos_micro")
    minedBitextFrom(cand, k, minMarginMicro)
  }

  /** Once-per-process persisted bitext bucket index over the fixture
    * embeddings.
    */
  private[ops] def demoBitextIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "bitext", d)(saveBitextBucketIndex(embeddings(s, d), _))

  /** The index-restricted mining route, oracle-gated: same k and
    * margin floor as [[bitextMine]], margins recomputed against the
    * bucket-restricted neighborhoods (the oracle replays the
    * restriction).
    */
  val bitextMineIndex: Q = (s, d) =>
    minedBitextFromIndex(s, demoBitextIndexDir(s, d), k = 4, minMarginMicro = 1010000L)
      .orderBy("x_id")

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: candidate
    * pairs exist only within a sign-bucket (256 buckets → ~256× fewer
    * pairs than all-pairs), then exact cosine ≥ threshold confirms.
    * The dedup-by-embedding component of the BASELINE.json north-star.
    *
    * The self-join is a salted SHUFFLE join on bucket_id — never a
    * broadcast of the embedding table, which caps out at one
    * executor's memory. Two-sided salt grid (Salting.saltedGridJoin)
    * sub-splits each of the 256 buckets across grid² tasks so one hot
    * bucket cannot serialize the pair expansion, at 2·grid total
    * replication of the vector-carrying rows (the one-sided form paid
    * grid²× on one side); the shuffle_hash hint keeps the planner
    * from re-broadcasting the replicated side at small test scale (at
    * 100 TB both sides exceed the broadcast threshold anyway).
    */
  private val saltGrid = 4
  val dedupEmbeddingCosine: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val b = lshBuckets(embeddings(s, d)).select(col("vec_id"), col("bucket_id"), col("v"))
    val a2 = b.select(col("vec_id").as("vec_a"), col("bucket_id"), col("v").as("va"))
    val b2 = b.select(col("vec_id").as("vec_b"), col("bucket_id").as("bucket_b"), col("v").as("vb"))
    graft.core.Salting
      .saltedGridJoin(a2, "bucket_id", "vec_a", b2.hint("shuffle_hash"), "bucket_b", "vec_b", saltGrid)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(expr("cosine_sim(va, vb)"), 6))
      .filter(col("cos_sim") >= 0.9)
      .select("vec_a", "vec_b", "bucket_id", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  // ---- incremental embedding dedup vs a persisted bucket index ------

  /** Persist the sign-LSH bucket index for incremental vector dedup:
    * (vec_id, v, bucket_id) partitioned BY bucket — the vector twin of
    * Dedup.saveMinhashIndex. Unlike the text route, the index stores
    * the vectors themselves (they ARE the signature), so incremental
    * probes verify with EXACT cosine, not an estimator.
    */
  def saveEmbeddingDedupIndex(emb: DataFrame, dir: String): Unit =
    lshBuckets(emb)
      .select(col("vec_id"), col("v"), col("bucket_id"))
      // co-locate each bucket before the partitioned write: one file
      // per bucket directory instead of one per (task × bucket) — the
      // small-files guard every partitioned index write needs
      .repartition(col("bucket_id"))
      .write
      .mode("overwrite")
      .partitionBy("bucket_id")
      .parquet(s"$dir/buckets")

  /** Index MAINTENANCE twin of Dedup.appendToMinhashIndex: append an
    * increment's (vector, bucket) rows so the next batch probes this
    * one as history. Appends accrete one file per batch per bucket dir
    * — bound that with [[compactEmbeddingDedupIndex]].
    */
  def appendToEmbeddingDedupIndex(newVecs: DataFrame, dir: String): Unit =
    appendBucketsToIndex(lshBuckets(newVecs).select(col("vec_id"), col("v"), col("bucket_id")), dir)

  /** Append PRE-COMPUTED buckets (typically the cached relation from
    * [[incrementalEmbeddingDedupCached]], re-keyed to index column
    * names — one bucketing pass serves probe and append).
    */
  def appendBucketsToIndex(buckets: DataFrame, dir: String): Unit =
    buckets
      .repartition(col("bucket_id"))
      .write
      .mode("append")
      .partitionBy("bucket_id")
      .parquet(s"$dir/buckets")

  /** Compaction twin of Dedup.compactMinhashIndex: rewrite the bucket
    * index back to one file per bucket dir; values untouched, probes
    * bit-identical pre/post.
    */
  def compactEmbeddingDedupIndex(spark: SparkSession, dir: String): Unit =
    graft.core.Compaction.compact(spark, s"$dir/buckets", Some("bucket_id"), 1)

  /** Near-dup flags for an increment of NEW vectors against the
    * persisted bucket index: bucket only the increment, read back ONLY
    * the index partitions for buckets the increment actually occupies
    * (the bucket set is ≤ 2^nPlanes = 256 — a metadata-scale collect,
    * like IVF centroids — and the isin filter lands as a parquet
    * PartitionFilter, spec-proven), then exact-cosine verify within
    * buckets: index refs plus increment self-pairs (ref < new). Daily
    * cost is O(increment + occupied index partitions); the corpus is
    * bucketed once, never re-read in full.
    */
  def incrementalEmbeddingDedup(newVecs: DataFrame, indexDir: String, minCos: Double): DataFrame =
    incrementalEmbeddingDedupCached(newVecs, indexDir, minCos)._1

  /** [[incrementalEmbeddingDedup]] plus ownership of the cached
    * increment buckets: returns (flags, cached buckets — columns
    * (new_id, bucket_id, vn)). The caller materializes the flags (and
    * typically appends the buckets via [[appendBucketsToIndex]]), then
    * unpersists — a per-batch loop must not pin one dead delta-sized
    * relation per batch.
    */
  def incrementalEmbeddingDedupCached(
      newVecs: DataFrame,
      indexDir: String,
      minCos: Double,
      sortOutput: Boolean = true
  ): (DataFrame, DataFrame) = {
    val spark = newVecs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // cached: increment-sized (a day's delta), and materializing it
    // here (a) computes the 8 hyperplane dots once for the probe list,
    // the join and the output, and (b) keeps Spark's dynamic-partition
    // -pruning rule from planting a runtime subquery over the bucket
    // expression into the index scan — the probe-bucket pruning below
    // is already STATIC (isin over a collected ≤256-value set)
    val nb = lshBuckets(newVecs)
      .select(col("vec_id").as("new_id"), col("bucket_id"), col("v").as("vn"))
      .cache()
    val probeBuckets = nb.select("bucket_id").distinct().collect().map(_.getLong(0))
    // schema-explicit read: BIGINT bucket_id comes back directly
    // (partition-value inference would say INT), no footer-inference
    // pass, and a never-seeded index reads as the empty relation
    // (cold start — the first batch of a stream seeds it)
    val coldIdx = nb.select(col("new_id").as("vec_id"), col("vn").as("v"), col("bucket_id")).limit(0)
    val bucketsPath = new org.apache.hadoop.fs.Path(s"$indexDir/buckets")
    val fs = bucketsPath.getFileSystem(spark.sessionState.newHadoopConf())
    // list ONLY the occupied buckets' dirs (≤ 256 driver-side exists
    // probes) instead of letting the read enumerate the whole index
    // tree: per-batch listing cost tracks the increment's bucket set,
    // not the index's width — the file-listing twin of the isin
    // partition filter (guide §6: listing time is driver-side and
    // grows with the tree; JobProfile showed a ~0.5-1 s "Listing leaf
    // files ... 200 paths" job per micro-batch)
    val occupiedDirs =
      if (fs.exists(bucketsPath))
        probeBuckets.toSeq.sorted
          .map(b => new org.apache.hadoop.fs.Path(bucketsPath, s"bucket_id=$b"))
          .filter(fs.exists(_))
          .map(_.toString)
      else Seq.empty
    val idx = (if (occupiedDirs.nonEmpty)
                 spark.read
                   .option("basePath", bucketsPath.toString)
                   .schema(coldIdx.schema)
                   .parquet(occupiedDirs: _*)
               else coldIdx)
      .filter(col("bucket_id").isin(probeBuckets.toSeq: _*))
      .select(col("vec_id"), col("v"), col("bucket_id"))
    val refs = idx
      .select(col("vec_id").as("ref_id"), col("bucket_id").as("bucket_r"), col("v").as("vr"))
      .withColumn("src", lit("index"))
      .unionByName(
        nb.select(col("new_id").as("ref_id"), col("bucket_id").as("bucket_r"), col("vn").as("vr"))
          .withColumn("src", lit("increment"))
      )
    val flags = nb
      .join(
        refs,
        col("bucket_id") === col("bucket_r") &&
          when(col("src") === "increment", col("ref_id") < col("new_id"))
            .otherwise(col("ref_id") =!= col("new_id"))
      )
      .withColumn("cos_sim", round(expr("cosine_sim(vn, vr)"), 6))
      .filter(col("cos_sim") >= minCos)
      .select("new_id", "ref_id", "src", "bucket_id", "cos_sim")
      // replay tolerance: duplicate index rows from an at-least-once
      // re-append are value-identical — collapse at output size
      .dropDuplicates("new_id", "ref_id", "src")
    // the global sort costs a range-exchange (plus its sampling job);
    // a per-batch caller appending to a sink it re-sorts later skips it
    (if (sortOutput) flags.orderBy("new_id", "ref_id", "src") else flags, nb)
  }

  /** The incremental vector route as an oracle-gated query: index the
    * even vec_ids, dedup the odd ones against index + themselves. The
    * fixture corpus has no ≥0.5 in-bucket pairs of its own at the gate
    * scales, so the 0.3 floor keeps its natural in-bucket structure in
    * scope AND the query SEEDS genuine near-duplicates across the
    * parity split: the 20 lowest even vectors re-arrive in the
    * increment as ids 1000001+vec_id (odd — the clone lands on the
    * probe side, its source stays indexed). Each clone flags its
    * source through the index route at cosine ≈ 1.0, so the ≥0.5
    * regime the threshold exists for is exercised, not skated under
    * (SimilarityIvfSpec pins ≥1 index-route pair at ≥0.5). The oracle
    * replays the same union.
    *
    * Index built once per process (Fixtures.demoIndexDir): bench reps
    * measure the steady-state probe; flags are materialized so the
    * increment's bucket cache is released before returning.
    */
  private val cloneIdBase = 1000001L
  private val cloneSourceCap = 40L

  /** The even-id embedding index the incremental gates share, built
    * once per process — public so the STREAMING replay can seed its
    * private mutable copy from it.
    */
  def demoEmbIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "emb", d) { idx =>
      saveEmbeddingDedupIndex(embeddings(s, d).filter(col("vec_id") % 2 === 0), idx)
    }

  /** The odd-id increment WITH seeded clones (the 20 lowest even
    * vectors re-arriving as odd ids) — the exact increment both the
    * one-shot gate and the streaming replay probe, so the two can
    * share one oracle.
    */
  def embIncrementWithClones(s: SparkSession, d: String): DataFrame = {
    def emb = embeddings(s, d)
    def clones = emb
      .filter(col("vec_id") % 2 === 0 && col("vec_id") < cloneSourceCap)
      .select((col("vec_id") + lit(cloneIdBase)).as("vec_id"), col("label"), col("embedding"))
    emb.select("vec_id", "label", "embedding").unionByName(clones).filter(col("vec_id") % 2 =!= 0)
  }

  val dedupIncrementalEmbedding: Q = (s, d) => {
    val (flags, nb) = incrementalEmbeddingDedupCached(
      embIncrementWithClones(s, d),
      demoEmbIndexDir(s, d),
      minCos = 0.3
    )
    Fixtures.materializedSorted(flags, Seq("new_id", "ref_id", "src"), nb)
  }

  // ---- IVF (inverted-file) ANN -------------------------------------

  /** IVF index: k-means centroids over the embeddings; each vector is
    * assigned to its nearest centroid's list. Searches probe only the
    * `nProbe` nearest lists — the classic IVF recall/cost trade, and
    * the ANN structure that scales past LSH when vectors cluster.
    * KMeans is seeded for determinism within Spark, but centroid
    * arithmetic is not portable across engines, so this operator's
    * gate is the recall test (SimilarityIvfSpec), not a DuckDB oracle.
    */
  /** One KMeans FIT per (session, source-plan, k): the IVF index is
    * built once and served by every query against it — ann_ivf_lists
    * and ann_ivf_topk_index share the fitted model instead of each
    * paying the iterative build. Only the MODEL is memoized (nLists
    * centroids — metadata-scale); the assignment relation stays a
    * lazy plan over the source, because pinning a corpus-sized
    * DataFrame in memory is the sh.cache() mistake — at scale the
    * assignments are PERSISTED partitioned by list (saveIvfIndex) and
    * probes read that, not a cache. Keyed on the canonicalized source
    * plan (same source + k → same deterministic fit); WeakHashMap on
    * the session so stopped sessions collect.
    */
  private val ivfMemo =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[(String, Int), org.apache.spark.ml.clustering.KMeansModel]]()

  def ivfAssignmentsCached(emb: DataFrame, k: Int): (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = {
    val s = emb.sparkSession
    val perSession = ivfMemo.synchronized {
      var m = ivfMemo.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(String, Int), org.apache.spark.ml.clustering.KMeansModel]
        ivfMemo.put(s, m)
      }
      m
    }
    val key = (emb.queryExecution.logical.canonicalized.toString, k)
    perSession.get(key) match {
      case Some(model) => (assignWithModel(emb, model), model)
      case None =>
        val (assigned, model) = ivfAssignments(emb, k)
        perSession.put(key, model)
        (assigned, model)
    }
  }

  /** Assignment relation from an already-fitted model — the serve-side
    * plan (one scan, no iterations).
    */
  private def assignWithModel(
      emb: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel
  ): DataFrame =
    model.transform(featurized(emb)).withColumnRenamed("prediction", "list_id")

  /** The deterministic featurization shared by fit and serve — see
    * ivfAssignments for why the partitioning is FIXED and sorted.
    */
  private def featurized(emb: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    withVec(emb)
      .repartition(16, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .withColumn("features", array_to_vector(col("v")))
  }

  /** Centroid TRAINING reads a bounded sample (~samplePerList vectors
    * per list, the standard IVF train heuristic); ASSIGNMENT still
    * covers every vector. The sample is a deterministic hash filter
    * (keep vec_ids ≡ 0 mod ⌊N / target⌋), so the fit input — and with
    * it the centroids and the golden VALUES oracles — is a pure
    * function of the data. At the test scales N ≤ target, the modulus
    * is 1 and the sample IS the full table (pins unchanged); at
    * corpus scale the Lloyd iterations become corpus-size-independent
    * — you cannot run 5 full passes over 100 TB to build an index,
    * and you don't need to: list quality is sample-stable while the
    * one assignment pass is the only full scan.
    */
  private val fitSamplePerList = 256

  def ivfAssignments(
      emb: DataFrame,
      k: Int,
      samplePerList: Int = fitSamplePerList
  ): (DataFrame, org.apache.spark.ml.clustering.KMeansModel) = {
    import org.apache.spark.ml.clustering.KMeans
    // FIXED partition count (not defaultParallelism), see featurized:
    // k-means|| init draws per-partition seeded samples, so the fitted
    // centroids are deterministic only if the data distribution is —
    // this pins the assignment histogram across machines/core counts
    // and lets the query carry a golden VALUES oracle.
    // sortWithinPartitions: the shuffle delivers rows in whatever
    // order upstream blocks are fetched, and the sampler is
    // order-sensitive — sorting makes each partition's content AND
    // order a pure function of the data.
    val e = featurized(emb)
    // Bounded training WITHOUT a count pass: the fit input is the
    // `target` vectors smallest by vec_id hash — deterministic (a pure
    // function of the data), unbiased (hash order ≈ random), and ONE
    // TakeOrdered job (per-partition bounded top-N heaps) instead of
    // the former count + modulus-filter pair of passes. When the
    // corpus has ≤ target vectors the selection returns the whole
    // table, so the small-scale golden pins are unchanged.
    // The TakeOrdered runs over vec_id ALONE: its final merge lands
    // `target` rows on one point, and with the embedding projected
    // away those rows are 8-byte ids, not KB-wide vectors — at the
    // extreme-nLists scale the advisor flagged (10^5 lists × 256 ⇒
    // 25.6M samples) that is ~200 MB of ids through the narrow point
    // instead of tens of GB of vectors. The sampled ids then pull
    // their vectors back via a broadcast semi-join (id set is
    // target-bounded by construction), so the corpus itself is never
    // shuffled or single-point-merged for the fit.
    val target = k * samplePerList
    val sampleIds = emb.select(col("vec_id")).orderBy(xxhash64(col("vec_id"))).limit(target)
    val fitInput = featurized(emb.join(broadcast(sampleIds), Seq("vec_id"), "left_semi"))
    // bounded iterations: IVF lists need rough clusters, not converged
    // ones — recall is governed by nProbe, and index build cost matters
    // at scale
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(5).setFeaturesCol("features").fit(fitInput)
    (model.transform(e).withColumnRenamed("prediction", "list_id"), model)
  }

  /** Top-k cosine within the `nProbe` centroid lists nearest to the
    * query vector.
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int, nLists: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val (assigned, model) = ivfAssignmentsCached(emb, nLists)
    val qRow = assigned.filter(col("vec_id") === queryId).select("v").head()
    val qv = qRow.getSeq[Double](0).toArray
    val centroids = model.clusterCenters.zipWithIndex
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    // tie-break by list id: must match the batched kNN join's window
    // order (c_cos desc, list_id asc) or tied centroids could send the
    // two paths to different probe lists
    val probeLists =
      centroids.sortBy { case (c, i) => (-cos(qv, c.toArray), i) }.take(nProbe).map(_._2)
    val q = assigned.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    assigned
      .filter(col("list_id").isin(probeLists.toSeq: _*))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .select(col("vec_id"), col("label"), col("list_id"), col("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Persist the IVF index: per-vector list assignments plus the
    * centroid vectors, both as parquet. At 100 TB the index is built
    * once and served by many queries — the rebuild-per-query shape of
    * ivfTopK exists only so the oracle-gated query is self-contained.
    * Assignments are written partitioned BY list id, so a probe of
    * nProbe lists reads exactly those partitions (partition pruning
    * does the list selection for free) — the fitted model's own
    * assignments, through [[Generations.build]].
    */
  def saveIvfIndex(emb: DataFrame, nLists: Int, dir: String): Unit = {
    val (assigned, model) = ivfAssignmentsCached(emb, nLists)
    Generations.build(ivfIndex(_.select(col("vec_id"), col("label"), col("v"), col("list_id"))), assigned, dir)
    val spark = emb.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }
      .toDF("list_id", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/centroids")
  }

  /** Top-k cosine against a PERSISTED index: pick the nProbe nearest
    * centroids (centroid table is nLists rows — driver-side), then
    * scan only those list partitions. The list filter is a partition
    * filter on the parquet layout, so the scan touches nProbe/nLists
    * of the index.
    */
  def ivfTopKFromIndex(spark: SparkSession, dir: String, queryId: Long, k: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // tombstone-aware like every index probe here: zero plan change
    // when no tombstones exist, a broadcast anti-join otherwise
    val assigned = Generations.liveRows(spark, dir, spark.read.parquet(s"$dir/assignments"), keyCol = "vec_id")
    val qv = assigned.filter(col("vec_id") === queryId).select("v").head().getSeq[Double](0).toArray
    val centroids = spark.read.parquet(s"$dir/centroids").collect().map { r =>
      (r.getAs[Int]("list_id"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    // (-cos, list_id): centroid rows arrive in arbitrary parquet-collect
    // order and a bare stable sort would break ties by that order —
    // the batched kNN join's window breaks them by list_id asc, and the
    // two paths are spec-pinned row-for-row equal
    val probeLists = centroids.sortBy { case (id, c) => (-cos(qv, c), id) }.take(nProbe).map(_._1)
    val q = assigned.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    assigned
      .filter(col("list_id").isin(probeLists.toSeq: _*))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .select(col("vec_id"), col("label"), col("list_id"), col("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(k)
  }

  /** Assign vectors to their nearest persisted centroid IN-PLAN — the
    * serve-side of IVF maintenance, where no KMeansModel object exists
    * (a stream's executor has only the `dir/centroids` parquet):
    * squared-L2 against the broadcast centroid relation (nLists rows),
    * argmin per vector with the model's tie-break (lowest list id).
    * Must agree with KMeansModel.transform on the same centroids —
    * SimilarityIvfSpec pins the parity — so batch-built and
    * stream-appended rows land in the same lists.
    */
  private[ops] def assignToCentroidsInPlan(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vecs
      .crossJoin(broadcast(centroids))
      .withColumn(
        "l2",
        expr("aggregate(zip_with(v, centroid, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")
      )
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("vec_id")).orderBy(col("l2").asc, col("list_id").asc))
      )
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("v"), col("list_id"))
  }

  /** The IVF index as a [[Generations]] kind: the list-partitioned
    * assignments `assign` derives from a batch, keyed by vec_id, with
    * no stats — probes derive everything from the rows.
    */
  private def ivfIndex(assign: DataFrame => DataFrame): Generations.Kind =
    Generations.Kind(keyCol = "vec_id", relations = Seq(Generations.Relation("assignments", Some("list_id"), assign)))

  /** [[ivfIndex]] maintained against the persisted centroids: a batch's
    * vectors are assigned in-plan ([[assignToCentroidsInPlan]]).
    */
  private def ivfIndex(s: SparkSession, dir: String): Generations.Kind =
    ivfIndex(b => assignToCentroidsInPlan(withVec(b), s.read.parquet(s"$dir/centroids")))

  /** Apply ONE micro-batch of new vectors to the PERSISTED IVF index,
    * idempotently — the unit [[graft.streaming.StreamingIngest
    * .ivfIndexStream]] runs inside foreachBatch. Production IVF
    * maintenance holds the CENTROIDS fixed (they are the index's
    * geometry; refitting them would re-shuffle every list) and appends
    * each new vector to its nearest list (increment × nLists work),
    * under the [[Generations]] protocol every persisted index here
    * shares. A vector UPSERT (a re-embedded document) tombstones the
    * batch's ids at its generation. List skew accretes as the data
    * drifts from the fitted centroids; the rebuild (a fresh
    * [[saveIvfIndex]]) is the amortized maintenance op.
    */
  def applyIvfIndexBatch(batch: DataFrame, dir: String, batchId: Long, upsert: Boolean = false): Unit =
    Generations.apply(ivfIndex(batch.sparkSession, dir), batch, "vec_id", dir, batchId, upsert)

  /** DELETE vectors from the persisted IVF index — the batch-API entry
    * point (a stream replaces vectors through the upsert apply):
    * tombstones only, nothing to decrement; probes exclude dead rows
    * through [[Generations.liveRows]] and [[compactIvfIndex]] purges
    * physically.
    */
  def deleteFromIvfIndex(s: SparkSession, dir: String, ids: DataFrame): Unit =
    Generations.delete(ivfIndex(s, dir), s, dir, ids)

  /** Seq convenience overload of [[deleteFromIvfIndex]]. */
  def deleteFromIvfIndex(s: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    import s.implicits._
    deleteFromIvfIndex(s, dir, ids.toDF("vec_id"))
  }

  /** Compact the IVF assignments back to one file per list dir; with
    * live tombstones the rewrite is ALSO the physical purge, and the
    * tombstones are consumed.
    */
  def compactIvfIndex(spark: SparkSession, dir: String): Unit =
    Generations.compact(ivfIndex(spark, dir), spark, dir)

  /** IVF list histogram. Centroid arithmetic is not engine-portable,
    * but the seeded, fixed-partitioning KMeans build is deterministic
    * in-engine (verified identical at local[8] vs local[32]), so the
    * sf0.01 histogram is pinned as a golden VALUES oracle — the same
    * pattern as Movement's planner outputs. Recall quality is gated
    * separately by SimilarityIvfSpec.
    */
  val annIvfLists: Q = (s, d) =>
    ivfAssignmentsCached(embeddings(s, d), 16)._1
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("list_id")

  /** The AT-SCALE IVF path as an oracle-gated query: build + persist
    * the partitioned index, then answer top-k from the index with
    * partition-pruned probes (ivfTopKFromIndex). Deterministic like
    * annIvfLists (seeded fixed-partitioning KMeans), so its sf0.01
    * result is pinned as a golden VALUES oracle; SimilarityIvfSpec
    * additionally proves it equals the rebuild path (ivfTopK) and
    * that the probe scan carries parquet PartitionFilters. The index
    * dir is keyed by (sf-dir, application id) and built once per
    * process (Fixtures.demoIndexDir) — self-contained, race-free
    * across concurrent sessions, and bench reps after the first
    * measure the served probe, as a deployment would.
    */
  /** Once-per-process persisted IVF index over the fixture embeddings
    * (16 seeded lists) — shared by the ANN probes and the hybrid
    * retrieval page.
    */
  private[ops] def demoIvfIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "ivf", d)(saveIvfIndex(embeddings(s, d), 16, _))

  val annIvfTopkIndex: Q = (s, d) =>
    ivfTopKFromIndex(s, demoIvfIndexDir(s, d), queryId = 0L, k = 10, nProbe = 4)

  /** Range-search fixtures: τ = 0.25 keeps the neighborhood a genuine
    * SET (larger than any page at sf0.1, small enough to eyeball at
    * sf0.01); the query row itself qualifies at cos 1.0 — a radius
    * query over a relation containing the probe returns it, matching
    * the brute-oracle semantics.
    */
  private[ops] val fixtureRangeMinCos = 0.25

  val annRangeSearch: Q = (s, d) =>
    rangeSearch(embeddings(s, d), 0L, fixtureRangeMinCos)
      .orderBy(desc("cos_sim"), asc("vec_id"))

  /** Index-served radius probe at nProbe = nLists — exact, so it
    * shares ann_range_search's brute oracle: the equality gates the
    * persisted partitioned layout under the radius filter.
    */
  val annRangeIvf: Q = (s, d) =>
    rangeSearchFromIndex(s, demoIvfIndexDir(s, d), 0L, fixtureRangeMinCos, nProbe = 16)
      .orderBy(desc("cos_sim"), asc("vec_id"))

  /** Radius-recall fixtures: the production probe config (4 of 16
    * lists — ann_ivf_topk_index's pin config) swept across three
    * radius thresholds around the range-search fixture.
    */
  private[ops] val fixtureRecallThresholds = Seq(0.15, 0.2, 0.25)
  private[ops] val fixtureRecallNProbe = 4

  /** Radius recall gate: the oracle recomputes every n_true from the
    * brute leg and the integer recall arithmetic; n_found (probed-list
    * membership — seeded-KMeans assignment, not engine-portable) rides
    * the sf0.01 golden pin, the ann_ivf_topk_index posture.
    */
  val annRangeRecall: Q = (s, d) =>
    rangeRecallReport(
      s,
      demoIvfIndexDir(s, d),
      queryId = 0L,
      fixtureRecallThresholds,
      fixtureRecallNProbe
    ).orderBy("min_cos_micro")

  /** MMR fixtures: top-12 candidate pool, 4 diversified picks. */
  private[ops] val fixtureMmrM = 12
  private[ops] val fixtureMmrK = 4

  val annMmrTopk: Q = (s, d) =>
    mmrTopK(embeddings(s, d), 0L, fixtureMmrM, fixtureMmrK).orderBy("rank")

  /** Loud guard for the EVAL harnesses: their probe sets broadcast, so
    * `every = 1` at corpus scale would broadcast the corpus. The count
    * is one column-pruned pass over the (already filtered) probe
    * relation — eval-harness cost, not serving cost. Corpus-scale
    * evals belong on the PQ kNN join ([[pqKnnJoin]]'s shape), which
    * never broadcasts the probe side.
    */
  private def requireBoundedProbes(
      probes: DataFrame,
      every: Long,
      maxProbes: Long,
      op: String
  ): Unit = {
    require(
      maxProbes >= 1 && maxProbes < Int.MaxValue,
      s"maxProbes must be in [1, ${Int.MaxValue - 1}], got $maxProbes"
    )
    // count THROUGH a limit: the scan short-circuits at maxProbes + 1
    // rows, so the guard never pays a full corpus count — it only
    // answers "more than maxProbes?"
    val over =
      probes.select(col(probes.columns.head)).limit((maxProbes + 1).toInt).count() > maxProbes
    require(
      !over,
      s"$op: probe set exceeds maxProbes = $maxProbes (every = $every) — the probe " +
        "set BROADCASTS, so this would broadcast corpus-scale data; raise `every` (or " +
        "maxProbes deliberately), or run corpus-scale evals through the PQ kNN join"
    )
  }

  /** kNN MAJORITY-VOTE classification eval — the label-propagation
    * quality check a training pipeline runs on its embedding space
    * ("do neighbors share labels?"): for every probe vector (one per
    * `every` ids, the ann_lsh_recall sampling convention), predict the
    * modal label of its k nearest neighbors (self excluded; vote ties
    * break to the SMALLER label) and compare to the true label. One
    * scan × broadcast-probes pass — per-probe state is a k-deep heap
    * (window group-limit), votes are k-sized per probe; at 100 TB the
    * probe set is the small side by construction.
    */
  def knnClassifierEval(emb: DataFrame, k: Int, every: Long, maxProbes: Long = 65536L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"knn needs k >= 1, got $k")
    require(every >= 1, s"every must be >= 1, got $every")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = withVec(emb)
    val q = e
      .filter(col("vec_id") % every === 0)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"), col("v").as("qv"))
    requireBoundedProbes(q, every, maxProbes, "knnClassifierEval")
    val top = e
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id")))
      )
      .filter(col("rn") <= k)
    top
      .groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).cast("long").as("n"))
      .groupBy(col("q_id"), col("true_label"))
      .agg(max(struct(col("n"), (-col("label")).cast("long").as("nl"))).as("b"))
      .select(
        col("q_id"),
        col("true_label").cast("long").as("true_label"),
        (-col("b.nl")).cast("long").as("pred_label"),
        col("b.n").as("n_votes"),
        (col("true_label").cast("long") === -col("b.nl")).cast("long").as("correct")
      )
  }

  val annKnnClassifier: Q = (s, d) =>
    knnClassifierEval(embeddings(s, d), k = 10, every = 50L).orderBy("q_id")

  /** NEAREST-CENTROID classification eval (the Rocchio classifier —
    * the prototype-based sibling of [[knnClassifierEval]]): one
    * centroid per label (dimension-wise mean, components rounded at 6
    * — the [[embeddingDrift]] convention that keeps float summation
    * engine-portable), each probe assigned to the label whose centroid
    * is nearest by cosine (ties to the smaller label). Centroids are
    * labels×dims rows — broadcast-sized at any corpus scale — and the
    * probe×centroid scoring is a pos-join over exploded components,
    * so the corpus pays ONE centroid pass; the classifier itself costs
    * probes×labels.
    */
  def nearestCentroidEval(emb: DataFrame, every: Long, maxProbes: Long = 65536L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(every >= 1, s"every must be >= 1, got $every")
    val e = withVec(emb)
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("x")), 6).as("c"))
    val probes = e.filter(col("vec_id") % every === 0)
    requireBoundedProbes(probes, every, maxProbes, "nearestCentroidEval")
    val qp = probes
      .select(
        col("vec_id").as("q_id"),
        col("label").as("true_label"),
        posexplode(col("v")).as(Seq("pos", "qx"))
      )
    val scored = qp
      .join(broadcast(cent), "pos")
      .groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(
        sum(col("qx") * col("c")).as("dot"),
        sum(col("qx") * col("qx")).as("nq"),
        sum(col("c") * col("c")).as("nc")
      )
      .withColumn("cos_sim", round(col("dot") / (sqrt(col("nq")) * sqrt(col("nc"))), 6))
    scored
      .withColumn(
        "pr",
        row_number().over(
          Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("label"))
        )
      )
      .filter(col("pr") === 1)
      .select(
        col("q_id"),
        col("true_label").cast("long").as("true_label"),
        col("label").cast("long").as("pred_label"),
        col("cos_sim"),
        (col("true_label").cast("long") === col("label").cast("long")).cast("long").as("correct")
      )
  }

  val annNearestCentroid: Q = (s, d) =>
    nearestCentroidEval(embeddings(s, d), every = 50L).orderBy("q_id")

  /** Tombstoned IVF lifecycle demo: full build, every vec_id % 9 == 2
    * vector deleted — NO compaction, so probes serve through the
    * tombstone anti-join.
    */
  private[ops] def demoDeletedIvfIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "ivf_del", d) { dir =>
      saveIvfIndex(embeddings(s, d), 16, dir)
      deleteFromIvfIndex(s, dir, embeddings(s, d).filter(col("vec_id") % 9 === 2).select("vec_id"))
    }

  /** [[demoDeletedIvfIndexDir]] plus the purge. */
  private[ops] def demoDeleteCompactedIvfIndexDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "ivf_delc", d) { dir =>
      saveIvfIndex(embeddings(s, d), 16, dir)
      deleteFromIvfIndex(s, dir, embeddings(s, d).filter(col("vec_id") % 9 === 2).select("vec_id"))
      compactIvfIndex(s, dir)
    }

  /** Vector-DELETE gate: exhaustive probe over the tombstoned index —
    * every list scanned, so the result is the exact cosine top-k over
    * the LIVE vectors and the oracle is brute force over the
    * restricted corpus (a dead vector that still serves, or a live one
    * the anti-join wrongly killed, hash-mismatches).
    */
  val annDeleteTopk: Q = (s, d) =>
    ivfTopKFromIndex(s, demoDeletedIvfIndexDir(s, d), queryId = 0L, k = 20, nProbe = 16)
      .select(col("vec_id"), col("label"), col("cos_sim"))

  /** Post-purge twin sharing [[annDeleteTopk]]'s oracle: compaction
    * must be invisible to the probe.
    */
  val annDeleteCompacted: Q = (s, d) =>
    ivfTopKFromIndex(s, demoDeleteCompactedIvfIndexDir(s, d), queryId = 0L, k = 20, nProbe = 16)
      .select(col("vec_id"), col("label"), col("cos_sim"))

  /** SemDeDup (Abbas et al. 2023): semantic dedup scoped to embedding
    * clusters — pairwise exact cosine runs ONLY within a k-means list,
    * so pair volume is Σ|list|² instead of N², the published recipe
    * for semantic-level dedup at web scale. A vector is dropped when
    * any smaller-id vector in its list sits at cosine ≥ τ (keep-lowest,
    * like the text dedup family); `kept_by` names its keeper.
    * Reuses the memoized deterministic IVF fit — the SemDeDup
    * clustering IS an IVF build, so one fit serves both ANN probes and
    * dedup sweeps.
    */
  def semanticDedup(emb: DataFrame, k: Int, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val assigned = ivfAssignmentsCached(emb, k)._1.select(col("vec_id"), col("v"), col("list_id"))
    val a = assigned.select(col("list_id"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = assigned.select(col("list_id"), col("vec_id").as("vec_b"), col("v").as("vb"))
    val dropped = a
      .join(b, Seq("list_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(expr("cosine_sim(va, vb)"), 6))
      .filter(col("cos_sim") >= tau)
      .groupBy(col("list_id"), col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("kept_by"))
    assigned
      .select(col("vec_id"), col("list_id"))
      .join(dropped, Seq("list_id", "vec_id"), "left")
      .withColumn("keep", when(col("kept_by").isNull, 1L).otherwise(0L))
      .withColumn("kept_by", coalesce(col("kept_by"), lit(-1L)))
  }

  /** Per-list SemDeDup accounting at τ=0.35 — chosen because the
    * fixture's within-list cosine tops out at 0.48 (uniform-ish
    * vectors; measured max/p99.9/p99 = 0.48/0.44/0.34 at sf0.01), so
    * 0.35 exercises the drop regime with ~77 qualifying pairs instead
    * of skating under it; a production sweep on real embeddings runs
    * τ≈0.95+. Deterministic like the other IVF queries (seeded
    * fixed-partitioning fit), so the sf0.01 result is pinned as a
    * golden VALUES oracle; the per-vector semantics (drop iff a
    * smaller-id list-mate at ≥ τ, keeper = the smallest such) are
    * spec-gated in SimilarityIvfSpec.
    */
  val dedupSemantic: Q = (s, d) =>
    semanticDedup(embeddings(s, d), 16, 0.35)
      .groupBy(col("list_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_vectors"),
        sum(lit(1L) - col("keep")).cast("bigint").as("n_dropped"),
        min(when(col("keep") === 0L, col("vec_id"))).as("first_dropped")
      )
      .na.fill(-1L, Seq("first_dropped"))
      .orderBy("list_id")

  // ---- IVF-PQ ------------------------------------------------------

  /** Per-subspace product-quantization codebooks:
    * `codebooks(s)(c)` is the `subDim`-wide centroid for code `c` of
    * subspace `s`. Driver-resident metadata: m · codes · subDim
    * doubles (8·16·8 = 1 KB at the defaults) — the WHOLE point of PQ
    * is that this tiny table plus one byte-ish code per subspace per
    * vector replaces the vector itself (64 doubles → 8 small ints
    * here; 4-bit packing is a storage detail left to parquet).
    */
  final case class PqModel(subDim: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def codes: Int = codebooks.head.length
  }

  /** Typed literal Columns for the PQ driver metadata (codebooks,
    * centroid tables, ADC LUTs). One `Literal` node of `array<...>`
    * type, NOT values rendered as SQL text: at production PQ shape
    * (m=16, codes=256, dim 768) the text form
    * (`array(array(CAST('…' AS DOUBLE),…),…)`) is hundreds of KB of
    * expression tree re-parsed and re-analyzed on EVERY query and
    * carried in every task's serialized plan — the typed Literal is
    * built once, optimizes to the same folded constant, and
    * serializes as packed values. SQL fragments reference these via
    * a `_graft_*` helper column (CollapseProject inlines the Literal
    * into the consuming expression).
    */
  private def arrayCol(xs: Array[Double]): Column = typedLit(xs.toSeq)

  private def nestedArrayCol(a: Array[Array[Double]]): Column =
    typedLit(a.map(_.toSeq).toSeq)

  private def codebooksCol(a: Array[Array[Array[Double]]]): Column =
    typedLit(a.map(_.map(_.toSeq).toSeq).toSeq)

  /** Train the PQ codebooks: one seeded bounded-iteration KMeans per
    * subspace, every fit over the SAME deterministic hash-sample of
    * vectors (the ivfAssignments discipline — fixed 16-partition
    * sorted featurization, TakeOrdered id sample), re-sliced to the
    * subspace. Training cost is corpus-size-independent; the fitted
    * model is 1 KB of driver metadata.
    */
  def pqTrain(emb: DataFrame, m: Int = 8, codes: Int = 16, samplePerCode: Int = fitSamplePerList): PqModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    val target = codes * samplePerCode
    val sampleIds = emb.select(col("vec_id")).orderBy(xxhash64(col("vec_id"))).limit(target)
    val base = withVec(emb.join(broadcast(sampleIds), Seq("vec_id"), "left_semi"))
      .repartition(16, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .cache()
    try {
      val cbs = (0 until m).map { s =>
        val f = base.withColumn(
          "features",
          array_to_vector(expr(s"slice(v, ${s * subDim + 1}, $subDim)"))
        )
        new KMeans()
          .setK(codes)
          .setSeed(42L + s)
          .setMaxIter(5)
          .setFeaturesCol("features")
          .fit(f)
          .clusterCenters
          .map(_.toArray)
      }.toArray
      PqModel(subDim, cbs)
    } finally base.unpersist()
  }

  /** Add (vnorm, pq) to a frame that already carries `v`: nearest
    * codebook centroid per subspace by squared L2, first-min
    * tie-break — one codegen'd projection against the constant-folded
    * codebook literal, no UDF, no shuffle.
    */
  private def pqEncodeCols(df: DataFrame, model: PqModel): DataFrame =
    df
      .withColumn("_graft_cb", codebooksCol(model.codebooks))
      .withColumn("vnorm", expr(s"round($normV, 9)"))
      .withColumn(
        "pq",
        expr(
          s"transform(transform(sequence(0, ${model.m - 1}), s -> " +
            s"transform(element_at(_graft_cb, s + 1), c -> " +
            s"aggregate(zip_with(slice(v, s * ${model.subDim} + 1, ${model.subDim}), c, " +
            s"(x, y) -> (x - y) * (x - y)), 0D, (a, b) -> a + b))), " +
            s"ds -> CAST(array_position(ds, array_min(ds)) - 1 AS INT))"
        )
      )
      .drop("_graft_cb")

  def pqEncode(emb: DataFrame, model: PqModel): DataFrame = pqEncodeCols(withVec(emb), model)

  /** Persist the IVF-PQ index: the same partitioned-by-list layout as
    * [[saveIvfIndex]], but each vector stored as its m PQ codes plus
    * its true norm instead of the raw embedding — the 100 TB ANN
    * memory lever past int8 (64 doubles → 8 codes + 1 float here;
    * probes read codes only). Sidecars: the IVF centroids (list
    * routing) and the PQ codebooks (ADC tables) — both driver-scale.
    * Reuses the memoized deterministic IVF fit, so the list layout is
    * IDENTICAL to the plain IVF index over the same source.
    */
  def savePqIndex(emb: DataFrame, nLists: Int, m: Int, codes: Int, dir: String): Unit = {
    val (assigned, model) = ivfAssignmentsCached(emb, nLists)
    val pq = pqTrain(emb, m, codes)
    pqEncodeCols(assigned, pq)
      .select(col("vec_id"), col("label"), col("pq"), col("vnorm"),
        lit(0).cast("int").as("generation"), col("list_id"))
      .repartition(col("list_id"))
      .write
      .mode("overwrite")
      .partitionBy("list_id")
      .parquet(s"$dir/assignments")
    val spark = emb.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }
      .toDF("list_id", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/centroids")
    pq.codebooks.zipWithIndex.toSeq
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, i) => (s, i, c) } }
      .toDF("sub_id", "code_id", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/pq_codebooks")
  }

  /** Append an INCREMENT of new vectors to a persisted PQ index: list
    * assignment and codes both come from the index's OWN persisted
    * model (centroids + codebooks) — the fitted structures are frozen
    * at build time, increments ride them (the IVF/PQ maintenance
    * contract; re-fit is a rebuild). Assignment is the same
    * constant-literal argmin the encoder uses, with the centroid
    * table as a one-subspace codebook — no ML model object needed on
    * the serve path, just the parquet sidecars. Appends accrete one
    * file per batch per touched list dir; bound that with
    * [[compactPqIndex]].
    *
    * Each append stamps its rows with the next GENERATION number
    * (build = 0), so [[pqDriftReport]] can watch the frozen codebooks
    * degrade on drifted increments. The generation read is one
    * column-pruned aggregate, not a row scan of the codes.
    */
  def appendToPqIndex(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    // next generation = max stored + 1; a missing/empty assignments dir
    // (re-seeding a wiped scratch copy) restarts at 0. One column-
    // pruned aggregate, not a row scan.
    val assignPath = new org.apache.hadoop.fs.Path(s"$dir/assignments")
    val fs = assignPath.getFileSystem(spark.sessionState.newHadoopConf())
    val nextGen =
      if (!fs.exists(assignPath)) 0
      else {
        val existing = spark.read.parquet(s"$dir/assignments")
        require(
          existing.columns.contains("generation"),
          s"$dir/assignments predates generation stamping — rebuild the index (savePqIndex) before appending"
        )
        val mx = existing.agg(max(col("generation"))).head()
        if (mx.isNullAt(0)) 0 else mx.getInt(0) + 1
      }
    val pq = readPqModel(spark, dir)
    val cents = spark.read
      .parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getAs[Int]("list_id"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
      .sortBy(_._1)
    require(
      cents.map(_._1).toSeq == cents.indices.toSeq,
      s"centroid table of $dir is not densely list-indexed"
    )
    val assigned = withVec(newVecs)
      .withColumn("_graft_cents", nestedArrayCol(cents.map(_._2)))
      .withColumn(
        "list_id",
        expr(
          s"CAST(array_position(transform(_graft_cents, c -> " +
            s"aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), 0D, (a, b) -> a + b)), " +
            s"array_min(transform(_graft_cents, c -> " +
            s"aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), 0D, (a, b) -> a + b)))) - 1 AS INT)"
        )
      )
      .drop("_graft_cents")
    pqEncodeCols(assigned, pq)
      .select(col("vec_id"), col("label"), col("pq"), col("vnorm"),
        lit(nextGen).cast("int").as("generation"), col("list_id"))
      .repartition(col("list_id"))
      .write
      .mode("append")
      .partitionBy("list_id")
      .parquet(s"$dir/assignments")
  }

  /** Compaction twin for the PQ index's accreting list dirs. */
  def compactPqIndex(spark: SparkSession, dir: String): Unit =
    graft.core.Compaction.compact(spark, s"$dir/assignments", Some("list_id"), 1)

  private def readPqModel(spark: SparkSession, dir: String): PqModel = {
    val rows = spark.read
      .parquet(s"$dir/pq_codebooks")
      .collect()
      .map(r => (r.getAs[Int]("sub_id"), r.getAs[Int]("code_id"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
    val m = rows.map(_._1).max + 1
    val codes = rows.map(_._2).max + 1
    val cbs = Array.ofDim[Array[Double]](m, codes)
    rows.foreach { case (s, c, v) => cbs(s)(c) = v }
    PqModel(cbs(0)(0).length, cbs.map(_.toArray))
  }

  /** Top-k against the PERSISTED PQ index by asymmetric distance: the
    * query stays float; per subspace a lookup table of
    * query-subvector · codebook-centroid dot products (m·codes driver
    * ops) turns each stored code array into an approximate dot
    * product by m table lookups — the scan reads ONLY the probed list
    * partitions' codes, never a raw vector. `rerank = Some((emb, R))`
    * re-scores the top-R ADC candidates with exact cosine against the
    * true vectors (the standard two-stage PQ serve: R·dims exact work
    * instead of listSize·dims).
    */
  def pqTopKFromIndex(
      spark: SparkSession,
      dir: String,
      qv: Array[Double],
      k: Int,
      nProbe: Int,
      rerank: Option[(DataFrame, Int)] = None
  ): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids").collect().map { r =>
      (r.getAs[Int]("list_id"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    // (-cos, list_id): centroid rows arrive in arbitrary parquet-collect
    // order and a bare stable sort would break ties by that order —
    // the batched kNN join's window breaks them by list_id asc, and the
    // two paths are spec-pinned row-for-row equal
    val probeLists = centroids.sortBy { case (id, c) => (-cos(qv, c), id) }.take(nProbe).map(_._1)
    val pq = readPqModel(spark, dir)
    val lut = Array.tabulate(pq.m, pq.codes) { (s, c) =>
      val cb = pq.codebooks(s)(c)
      var d = 0.0; var j = 0
      while (j < pq.subDim) { d += qv(s * pq.subDim + j) * cb(j); j += 1 }
      d
    }
    val qnorm = math.sqrt(qv.map(x => x * x).sum)
    val scanned = spark.read
      .parquet(s"$dir/assignments")
      .filter(col("list_id").isin(probeLists.toSeq: _*))
      .withColumn("_graft_lut", nestedArrayCol(lut))
      .withColumn(
        "adc_dot",
        expr(
          s"aggregate(transform(sequence(0, ${pq.m - 1}), s -> " +
            s"element_at(element_at(_graft_lut, s + 1), element_at(pq, s + 1) + 1)), 0D, (a, b) -> a + b)"
        )
      )
      .withColumn(
        "adc_cos",
        when(col("vnorm") === 0d || lit(qnorm) === 0d, 0d)
          .otherwise(round(col("adc_dot") / (col("vnorm") * lit(qnorm)), 6))
      )
      .drop("_graft_lut")
    rerank match {
      case None =>
        scanned
          .select(col("vec_id"), col("label"), col("list_id"), col("adc_cos"))
          .orderBy(desc("adc_cos"), asc("vec_id"))
          .limit(k)
      case Some((emb, shortlist)) =>
        graft.functions.GraftFunctions.register(spark)
        val cand = scanned
          .orderBy(desc("adc_cos"), asc("vec_id"))
          .limit(shortlist)
          .select(col("vec_id"), col("label"), col("list_id"))
        val q = spark.range(1).select(arrayCol(qv).as("qv"))
        cand
          .join(withVec(emb).select(col("vec_id"), col("v")), Seq("vec_id"))
          .crossJoin(broadcast(q))
          .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
          .select(col("vec_id"), col("label"), col("list_id"), col("cos_sim"))
          .orderBy(desc("cos_sim"), asc("vec_id"))
          .limit(k)
    }
  }

  /** BATCH k-NN against the PQ index — the serving shape that matters
    * at 100 TB: a whole table of query vectors joined to the corpus
    * at once, not one driver round-trip per query. Per-query probe
    * lists come from a broadcast cross of the (nLists-row) centroid
    * table with a per-qid top-nProbe window (query-table-sized —
    * never corpus-keyed); the index side then joins the broadcast
    * (qid, list) pairs on list_id, so only probed partitions' CODE
    * rows flow (dynamic partition pruning can elide the rest), and
    * the ADC score folds each code through the constant codebook
    * literal. Top-k per query is a qid-partitioned window — a
    * partition is one query's candidates. Tie-breaks match
    * [[pqTopKFromIndex]] exactly (spec-pinned equal per query).
    */
  def pqKnnJoin(
      spark: SparkSession,
      dir: String,
      queries: DataFrame, // (qid, qv: array<double>)
      k: Int,
      nProbe: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val pq = readPqModel(spark, dir)
    val cents = spark.read.parquet(s"$dir/centroids")
    val probes = queries
      .crossJoin(broadcast(cents))
      .withColumn("c_cos", expr("cosine_sim(qv, centroid)"))
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("c_cos").desc, col("list_id").asc)
        )
      )
      .filter(col("rk") <= nProbe)
      .select(col("qid"), col("qv"), col("list_id"))
    spark.read
      .parquet(s"$dir/assignments")
      // NO broadcast hint: probes carry |Q|·nProbe rows WITH query
      // vectors — bounded only by the caller's query table, which at
      // serve scale can be arbitrarily large (the forced-broadcast
      // defect class). AQE broadcasts it when it is actually small;
      // past that the join shuffles on list_id, AQE-skew-safe.
      .join(probes, Seq("list_id"))
      .withColumn("_graft_cb", codebooksCol(pq.codebooks))
      .withColumn(
        "adc_dot",
        expr(
          s"aggregate(transform(sequence(0, ${pq.m - 1}), s -> " +
            s"aggregate(zip_with(slice(qv, s * ${pq.subDim} + 1, ${pq.subDim}), " +
            s"element_at(element_at(_graft_cb, s + 1), element_at(pq, s + 1) + 1), " +
            s"(x, y) -> x * y), 0D, (a, b) -> a + b)), 0D, (a, b) -> a + b)"
        )
      )
      .drop("_graft_cb")
      .withColumn("qnorm", expr("sqrt(aggregate(qv, 0D, (a, x) -> a + x * x))"))
      .withColumn(
        "adc_cos",
        when(col("vnorm") === 0d || col("qnorm") === 0d, 0d)
          .otherwise(round(col("adc_dot") / (col("vnorm") * col("qnorm")), 6))
      )
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc_cos").desc, col("vec_id").asc)
        )
      )
      .filter(col("rank") <= k)
      .select(
        col("qid"),
        col("rank").cast("bigint").as("rank"),
        col("vec_id"),
        col("label"),
        col("list_id"),
        col("adc_cos")
      )
      .orderBy("qid", "rank")
  }

  /** The fixture (qid, qv) query table the PQ serving gates share —
    * public so the STREAMING serve loop can replay exactly this set
    * against exactly this index and reuse the golden pin.
    */
  def fixtureQueryVectors(s: SparkSession, d: String, ids: Seq[Long]): DataFrame =
    withVec(embeddings(s, d))
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))

  /** The process-memoized demo PQ index, public for the same reason. */
  def demoPqIndexDir(s: SparkSession, d: String): String = demoPqIndex(s, d)

  /** Three fixture query vectors k-NN-joined against the persisted PQ
    * index — golden-pinned like the other seeded-KMeans queries.
    */
  val annPqKnnJoin: Q = (s, d) =>
    pqKnnJoin(s, demoPqIndex(s, d), fixtureQueryVectors(s, d, Seq(0L, 1L, 2L)), k = 5, nProbe = 4)

  private val pqDefaults = (8, 16) // m subspaces, codes per subspace

  private def demoPqIndex(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "ivfpq", d)(savePqIndex(embeddings(s, d), 16, pqDefaults._1, pqDefaults._2, _))

  /** The at-scale PQ serve path as a gated query: build + persist the
    * PQ index once per process, answer top-10 by pure ADC (no raw
    * vector read). Deterministic like the IVF twins (seeded fits,
    * fixed featurization) → golden VALUES pin at sf0.01.
    */
  val annPqTopkIndex: Q = (s, d) => {
    val dir = demoPqIndex(s, d)
    val qv = withVec(embeddings(s, d)).filter(col("vec_id") === 0L).select("v").head().getSeq[Double](0).toArray
    pqTopKFromIndex(s, dir, qv, k = 10, nProbe = 4)
  }

  /** PQ reconstruction-quality report in [[embeddingQuality]]'s
    * micro-unit shape: per label, vector norms and the worst/mean
    * reconstruction L2 error against the codebook decode — the gate a
    * pipeline checks before switching its serve path to ADC. Reads
    * the persisted index (codes) and the source table (true vectors).
    */
  val pqQuality: Q = (s, d) => {
    val dir = demoPqIndex(s, d)
    val pq = readPqModel(s, dir)
    s.read
      .parquet(s"$dir/assignments")
      .select(col("vec_id"), col("label"), col("pq"))
      .join(withVec(embeddings(s, d)).select(col("vec_id"), col("v")), Seq("vec_id"))
      .withColumn("_graft_cb", codebooksCol(pq.codebooks))
      .withColumn(
        "recon",
        expr(
          s"flatten(transform(sequence(0, ${pq.m - 1}), s -> " +
            s"element_at(element_at(_graft_cb, s + 1), element_at(pq, s + 1) + 1)))"
        )
      )
      .drop("_graft_cb")
      .withColumn(
        "err_micro",
        expr(
          "CAST(floor(sqrt(aggregate(zip_with(v, recon, (x, r) -> (x - r) * (x - r)), " +
            "0D, (a, b) -> a + b)) * 1000000) AS BIGINT)"
        )
      )
      .withColumn(
        "norm_micro",
        expr("CAST(floor(sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x)) * 1000000) AS BIGINT)")
      )
      .groupBy(col("label").cast("bigint").as("label"))
      .agg(
        count(lit(1)).cast("bigint").as("n_vecs"),
        max(col("err_micro")).as("max_err_micro"),
        expr("CAST(sum(err_micro) div count(1) AS BIGINT)").as("avg_err_micro"),
        expr("CAST(sum(norm_micro) div count(1) AS BIGINT)").as("norm_avg_micro")
      )
      .orderBy("label")
  }

  /** ADC-vs-exact reconstruction error PER INDEX GENERATION — the
    * maintenance gate for frozen PQ codebooks. [[appendToPqIndex]]
    * rides the build-time codebooks; when the data distribution
    * drifts, later generations' vectors sit farther from every
    * codebook centroid and their reconstruction error climbs while
    * generation 0's stays put. Same micro-unit arithmetic as
    * [[pqQuality]] (floor(err·10⁶), BIGINT aggregates — hash-oracle
    * safe), keyed by generation instead of label.
    *
    * RE-TRAIN TRIGGER: rebuild the index (a fresh [[savePqIndex]]
    * fit) when the newest generation's `avg_err_micro` exceeds
    * ~1.5× generation 0's — past that the ADC ranking degrades on
    * exactly the fresh data a serving index is most asked about.
    * `emb` must cover every indexed vec_id (base + increments).
    */
  def pqDriftReport(spark: SparkSession, dir: String, emb: DataFrame): DataFrame = {
    val pq = readPqModel(spark, dir)
    spark.read
      .parquet(s"$dir/assignments")
      .select(col("vec_id"), col("generation"), col("pq"))
      .join(withVec(emb).select(col("vec_id"), col("v")), Seq("vec_id"))
      .withColumn("_graft_cb", codebooksCol(pq.codebooks))
      .withColumn(
        "recon",
        expr(
          s"flatten(transform(sequence(0, ${pq.m - 1}), s -> " +
            s"element_at(element_at(_graft_cb, s + 1), element_at(pq, s + 1) + 1)))"
        )
      )
      .drop("_graft_cb")
      .withColumn(
        "err_micro",
        expr(
          "CAST(floor(sqrt(aggregate(zip_with(v, recon, (x, r) -> (x - r) * (x - r)), " +
            "0D, (a, b) -> a + b)) * 1000000) AS BIGINT)"
        )
      )
      .groupBy(col("generation").cast("bigint").as("generation"))
      .agg(
        count(lit(1)).cast("bigint").as("n_vecs"),
        max(col("err_micro")).as("max_err_micro"),
        expr("CAST(sum(err_micro) div count(1) AS BIGINT)").as("avg_err_micro")
      )
      .orderBy("generation")
  }

  /** The drifted fixture increment behind [[annPqDriftReport]]: the
    * first 100 fixture vectors shifted +0.5 in every dimension (off
    * the unit-ball manifold the codebooks were fit on) under fresh
    * ids — a deterministic stand-in for a distribution shift.
    */
  private def driftedIncrement(s: SparkSession, d: String): DataFrame =
    withVec(embeddings(s, d))
      .filter(col("vec_id") < 100L)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        col("label"),
        expr("transform(v, x -> CAST(x + 0.5D AS FLOAT))").as("embedding")
      )

  private def demoPqDriftIndex(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "ivfpq_drift", d) { dir =>
      savePqIndex(embeddings(s, d), 16, pqDefaults._1, pqDefaults._2, dir)
      appendToPqIndex(driftedIncrement(s, d), dir)
    }

  /** Gated drift report over a crafted two-generation index: build on
    * the fixture, append the shifted increment, report per-generation
    * error — generation 1's avg error must dwarf generation 0's
    * (golden-pinned at sf0.01 like the other seeded-fit queries).
    */
  val annPqDriftReport: Q = (s, d) => {
    val dir = demoPqDriftIndex(s, d)
    pqDriftReport(s, dir, embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .unionByName(driftedIncrement(s, d)))
  }

  /** INT8 scalar quantization of the embedding column — the storage/
    * bandwidth lever an ANN index pulls at 100 TB (4 bytes→1 per dim;
    * IVF lists and brute-force rerank both read 4× fewer bytes).
    * Symmetric per-vector scaling: q_k = floor(v_k·127/maxabs + 0.5),
    * reconstruction q_k·maxabs/127. One codegen'd projection; no
    * shuffle; all-zero vectors quantize to zeros (scale guard).
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    withVec(emb)
      .withColumn("maxabs", expr("aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x)))"))
      .withColumn(
        "qvec",
        expr(
          "CASE WHEN maxabs = 0D THEN transform(v, x -> 0) " +
            "ELSE transform(v, x -> CAST(floor(x * 127.0 / maxabs + 0.5) AS INT)) END"
        )
      )

  /** Per-label quantization-quality report: vector norms and the worst
    * per-vector int8 reconstruction error, in integer micro-units (the
    * only float math is per-vector and expression-identical in the
    * oracle; aggregates are integer min/max/avg). The acceptance gate
    * a pipeline checks before switching its index to int8.
    */
  val embeddingQuality: Q = (s, d) => {
    val e = quantizeInt8(embeddings(s, d))
      .withColumn(
        "norm_micro",
        expr("CAST(floor(sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x)) * 1000000) AS BIGINT)")
      )
      .withColumn(
        "err_micro",
        expr(
          "CAST(floor(aggregate(zip_with(v, qvec, (x, q) -> abs(x - q * maxabs / 127.0)), " +
            "0D, (acc, x) -> greatest(acc, x)) * 1000000) AS BIGINT)"
        )
      )
    e.groupBy(col("label").cast("bigint").as("label"))
      .agg(
        count(lit(1)).cast("bigint").as("n_vecs"),
        min(col("norm_micro")).as("norm_min_micro"),
        max(col("norm_micro")).as("norm_max_micro"),
        expr("CAST(sum(norm_micro) div count(1) AS BIGINT)").as("norm_avg_micro"),
        max(col("err_micro")).as("max_err_micro")
      )
      .orderBy("label")
  }

  /** EMBEDDING-DISTRIBUTION DRIFT between two corpus generations —
    * the data-side twin of the PQ codebook drift report: per label,
    * the cosine between the old half's centroid and the new half's
    * centroid. A label whose centroid moved is a class whose content
    * shifted between crawls — the signal that retrains the IVF/PQ
    * models and re-audits the mixture before the next training run.
    *
    * Determinism discipline: per-(label, half, dimension) centroids
    * are component means ROUNDED to 6 decimals (the fused-cosine
    * oracle convention — summation-order noise is ~1e-14 relative,
    * nine orders below the round), and the final cosine of the two
    * rounded centroids rounds to 6 again. Everything between the two
    * rounds is arithmetic over dim-sized relations.
    *
    * Scale shape: one posexplode pass → (label × half × dim)-sized
    * aggregate; the centroid join and cosine run over label × dim
    * rows — metadata scale. Vectors never pair with vectors.
    */
  def embeddingDrift(emb: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val comps = emb
      .select(
        col(labelCol).cast("bigint").as("label"),
        when(col(idCol) % 2 === 0, "old").otherwise("new").as("half"),
        posexplode(col(vecCol)).as(Seq("pos", "x"))
      )
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(round(avg(col("x")), 6).as("c"), count(lit(1)).cast("bigint").as("n"))
    val o = comps
      .filter(col("half") === "old")
      .select(col("label"), col("pos"), col("c").as("co"), col("n").as("n_old"))
    val nw = comps
      .filter(col("half") === "new")
      .select(col("label"), col("pos"), col("c").as("cn"), col("n").as("n_new"))
    o.join(nw, Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(
        min(col("n_old")).cast("bigint").as("n_old"),
        min(col("n_new")).cast("bigint").as("n_new"),
        sum(col("co") * col("cn")).as("dot"),
        sum(col("co") * col("co")).as("no"),
        sum(col("cn") * col("cn")).as("nn")
      )
      .withColumn("cos_sim", round(col("dot") / (sqrt(col("no")) * sqrt(col("nn"))), 6))
      .select(col("label"), col("n_old"), col("n_new"), col("cos_sim"))
      .orderBy("label")
  }

  val embeddingDriftQ: Q = (s, d) => embeddingDrift(embeddings(s, d), "vec_id", "embedding", "label")

  /** MEASURED LSH RECALL report — the serving-quality number an ANN
    * deployment decision actually reads: for a deterministic sample of
    * query vectors, exact brute-force top-k versus the sign-LSH
    * bucket route's top-k, with the candidate count each query paid.
    * Low recall + tiny candidate sets says add probes or planes; high
    * recall + big candidate sets says the buckets aren't pruning.
    * Recall evaluation is sample-sized by construction (queries are a
    * sample, candidates are bucket-bounded) — the corpus never pairs
    * with itself.
    */
  val annLshRecall: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val bucketed = lshBuckets(embeddings(s, d))
    val qs = bucketed
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket_id").as("q_bucket"))
    val scored = bucketed
      .select(col("vec_id"), col("v"), col("bucket_id"))
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", round(expr("cosine_sim(v, qv)"), 6))
    val byQ = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))
    val gt = scored
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id"))
    val inBucket = scored.filter(col("bucket_id") === col("q_bucket"))
    val lsh = inBucket
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id").as("cand_id"))
    val nc = inBucket.groupBy(col("q_id")).agg(count(lit(1)).cast("bigint").as("n_candidates"))
    val hits = gt
      .join(lsh, gt("q_id") === lsh("q_id") && gt("vec_id") === lsh("cand_id"))
      .groupBy(gt("q_id"))
      .agg(count(lit(1)).cast("bigint").as("n_hits"))
    qs.select(col("q_id"))
      .join(nc, Seq("q_id"), "left")
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_candidates", "n_hits"))
      .withColumn("recall_micro", expr("n_hits * 1000000 div 10"))
      .orderBy("q_id")
  }

  // ---- DuckDB oracles ------------------------------------------------

  /** The sf0.01 golden result of the persisted-IVF probe at the
    * PRODUCTION recall configuration (nProbe = 4 of 16 lists) —
    * (vec_id, label, list_id, round-6 cosine), already in serving
    * order (cos desc, vec_id asc). One pinned place, shared by the
    * ann_ivf_topk_index oracle and the hybrid page's recall gate
    * (search_rrf_recall replays it as the vector leg's ranks):
    * KMeans centroid arithmetic is not engine-portable, so the vector
    * leg is gated by this pin while the lexical leg and the fusion
    * arithmetic stay engine-recomputed.
    */
  private[ops] val ivfTopkGoldenSf001: Seq[(Long, Int, Int, String)] = Seq(
    (0L, 2, 0, "1.0"),
    (365L, 8, 0, "0.369994"),
    (334L, 0, 0, "0.362722"),
    (387L, 6, 0, "0.331139"),
    (73L, 6, 5, "0.295434"),
    (320L, 2, 5, "0.287861"),
    (190L, 7, 0, "0.281795"),
    (464L, 4, 0, "0.276628"),
    (388L, 1, 10, "0.276301"),
    (323L, 0, 0, "0.256455")
  )

  private val cosSqlBase =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)""".stripMargin

  /** Radius-search oracle: brute force with the threshold applied to
    * the ROUND-6 cosine — shared by the exact IVF-served twin.
    */
  private lazy val oracleRangeSearch: String =
    s"""$cosSqlBase,
       |sc AS (
       |  SELECT vec_id, label,
       |    round(list_dot_product(v, qv) /
       |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
       |  FROM e, q)
       |SELECT vec_id, label, cos_sim FROM sc
       |WHERE cos_sim >= $fixtureRangeMinCos
       |ORDER BY cos_sim DESC, vec_id ASC""".stripMargin

  /** Radius-recall oracle: n_true per threshold recomputed from the
    * brute leg (round-6 cosine over the full corpus), the integer
    * recall arithmetic recomputed in SQL, and n_found pinned at the
    * sf0.01 golden (probed-list membership is the seeded-KMeans
    * assignment — the ann_ivf_topk_index determinism argument).
    */
  private lazy val oracleRangeRecall: String = {
    val thrRows = fixtureRecallThresholds
      .map(t => s"(${math.round(t * 1000000L)}, $t)")
      .mkString(", ")
    // sf0.01 golden n_found at nProbe = 4 of 16 (engine run, committed
    // with the route; SimilarityRangeMmrSpec re-derives the subset
    // relation that makes these counts checkable)
    val pins = "(150000, 31), (200000, 17), (250000, 10)"
    s"""$cosSqlBase,
       |sc AS (
       |  SELECT vec_id,
       |    round(list_dot_product(v, qv) /
       |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
       |  FROM e, q),
       |thr AS (SELECT * FROM (VALUES $thrRows) t(min_cos_micro, t)),
       |nt AS (
       |  SELECT thr.min_cos_micro, CAST(count(*) AS BIGINT) AS n_true
       |  FROM thr, sc WHERE sc.cos_sim >= thr.t GROUP BY thr.min_cos_micro),
       |nf AS (SELECT * FROM (VALUES $pins) t(min_cos_micro, n_found))
       |SELECT CAST(nt.min_cos_micro AS BIGINT) AS min_cos_micro, nt.n_true,
       |  CAST(nf.n_found AS BIGINT) AS n_found,
       |  CAST((nf.n_found * 1000000) // nt.n_true AS BIGINT) AS recall_micro
       |FROM nt JOIN nf ON nf.min_cos_micro = nt.min_cos_micro
       |ORDER BY min_cos_micro""".stripMargin
  }

  /** kNN-classifier oracle: the same probe sampling, k-deep window,
    * vote counting and (n desc, label asc) modal pick in SQL.
    */
  private lazy val oracleKnnClassifier: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv FROM e WHERE vec_id % 50 = 0),
      |sc AS (
      |  SELECT e.vec_id, e.label, q.q_id, q.true_label,
      |    round(list_dot_product(e.v, q.qv) /
      |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
      |  FROM e, q WHERE e.vec_id <> q.q_id),
      |top AS (
      |  SELECT q_id, true_label, label FROM (
      |    SELECT q_id, true_label, label,
      |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
      |    FROM sc) WHERE rn <= 10),
      |votes AS (
      |  SELECT q_id, true_label, label, CAST(count(*) AS BIGINT) AS n
      |  FROM top GROUP BY q_id, true_label, label),
      |pick AS (
      |  SELECT q_id, true_label, label AS pred_label, n,
      |    row_number() OVER (PARTITION BY q_id ORDER BY n DESC, label ASC) AS pr
      |  FROM votes)
      |SELECT q_id,
      |  CAST(true_label AS BIGINT) AS true_label,
      |  CAST(pred_label AS BIGINT) AS pred_label,
      |  n AS n_votes,
      |  CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM pick WHERE pr = 1 ORDER BY q_id""".stripMargin

  /** Nearest-centroid oracle: per-label dimension-wise means rounded
    * at 6 (the embedding_drift convention), probe×centroid cosine via
    * the same pos-join sums, argmax with the smaller-label tie.
    */
  private lazy val oracleNearestCentroid: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (
      |  SELECT label, i AS pos, round(avg(v[i]), 6) AS c
      |  FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)
      |  GROUP BY label, i),
      |qp AS (
      |  SELECT vec_id AS q_id, label AS true_label, i AS pos, v[i] AS qx
      |  FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)
      |  WHERE vec_id % 50 = 0),
      |j AS (
      |  SELECT qp.q_id, qp.true_label, c.label,
      |    sum(qp.qx * c.c) AS dot, sum(qp.qx * qp.qx) AS nq, sum(c.c * c.c) AS nc
      |  FROM qp JOIN c ON c.pos = qp.pos
      |  GROUP BY qp.q_id, qp.true_label, c.label),
      |sc AS (SELECT q_id, true_label, label, round(dot / (sqrt(nq) * sqrt(nc)), 6) AS cos_sim FROM j),
      |pick AS (
      |  SELECT q_id, true_label, label AS pred_label, cos_sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, label ASC) AS pr
      |  FROM sc)
      |SELECT q_id,
      |  CAST(true_label AS BIGINT) AS true_label,
      |  CAST(pred_label AS BIGINT) AS pred_label,
      |  cos_sim,
      |  CAST(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM pick WHERE pr = 1 ORDER BY q_id""".stripMargin

  /** MMR oracle, unrolled at the fixture's k = 4: each pick is an
    * argmax CTE over the remaining candidates with the running
    * max-similarity-to-selected in integer micro-units — the greedy's
    * comparisons replayed exactly.
    */
  private lazy val oracleMmrTopk: String = {
    assert(fixtureMmrK == 4, "oracle is hand-unrolled at k = 4")
    val m = fixtureMmrM
    s"""$cosSqlBase,
       |sc AS (
       |  SELECT vec_id, label, v,
       |    round(list_dot_product(v, qv) /
       |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
       |  FROM e, q WHERE vec_id <> 0),
       |cand AS (
       |  SELECT vec_id, label, v, CAST(round(cos_sim * 1000000, 0) AS BIGINT) AS rel_micro
       |  FROM sc ORDER BY cos_sim DESC, vec_id ASC LIMIT $m),
       |pr AS (
       |  SELECT a.vec_id AS ai, b.vec_id AS bi,
       |    CAST(round(round(list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) * 1000000, 0) AS BIGINT) AS sim_micro
       |  FROM cand a, cand b),
       |s1 AS (SELECT vec_id, label, 7 * rel_micro AS sc10 FROM cand
       |       ORDER BY rel_micro DESC, vec_id ASC LIMIT 1),
       |r2 AS (
       |  SELECT c.vec_id, c.label, 7 * c.rel_micro - 3 * p1.sim_micro AS sc10
       |  FROM cand c JOIN pr p1 ON p1.ai = c.vec_id AND p1.bi = (SELECT vec_id FROM s1)
       |  WHERE c.vec_id <> (SELECT vec_id FROM s1)),
       |s2 AS (SELECT vec_id, label, sc10 FROM r2 ORDER BY sc10 DESC, vec_id ASC LIMIT 1),
       |r3 AS (
       |  SELECT c.vec_id, c.label,
       |    7 * c.rel_micro - 3 * greatest(p1.sim_micro, p2.sim_micro) AS sc10
       |  FROM cand c
       |  JOIN pr p1 ON p1.ai = c.vec_id AND p1.bi = (SELECT vec_id FROM s1)
       |  JOIN pr p2 ON p2.ai = c.vec_id AND p2.bi = (SELECT vec_id FROM s2)
       |  WHERE c.vec_id NOT IN ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2))),
       |s3 AS (SELECT vec_id, label, sc10 FROM r3 ORDER BY sc10 DESC, vec_id ASC LIMIT 1),
       |r4 AS (
       |  SELECT c.vec_id, c.label,
       |    7 * c.rel_micro - 3 * greatest(p1.sim_micro, p2.sim_micro, p3.sim_micro) AS sc10
       |  FROM cand c
       |  JOIN pr p1 ON p1.ai = c.vec_id AND p1.bi = (SELECT vec_id FROM s1)
       |  JOIN pr p2 ON p2.ai = c.vec_id AND p2.bi = (SELECT vec_id FROM s2)
       |  JOIN pr p3 ON p3.ai = c.vec_id AND p3.bi = (SELECT vec_id FROM s3)
       |  WHERE c.vec_id NOT IN
       |    ((SELECT vec_id FROM s1), (SELECT vec_id FROM s2), (SELECT vec_id FROM s3))),
       |s4 AS (SELECT vec_id, label, sc10 FROM r4 ORDER BY sc10 DESC, vec_id ASC LIMIT 1)
       |SELECT CAST(1 AS BIGINT) AS rank, vec_id, label, sc10 AS mmr10_micro FROM s1
       |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, label, sc10 FROM s2
       |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, label, sc10 FROM s3
       |UNION ALL SELECT CAST(4 AS BIGINT), vec_id, label, sc10 FROM s4
       |ORDER BY rank""".stripMargin
  }

  /** Brute-force cosine top-k over the LIVE vectors (the fixture
    * delete drops vec_id % 9 == 2) — ann_delete_topk's oracle, shared
    * by the post-purge twin.
    */
  private val oracleDeleteCosineTopk =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id % 9 <> 2),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  round(list_dot_product(v, qv) /
      |        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
      |FROM e, q ORDER BY cos_sim DESC, vec_id ASC LIMIT 20""".stripMargin

  private def planeDuckSql(j: Int): String =
    s"list_transform(generate_series(0, ${dims - 1}), k -> CAST((k * 37 + $j * 101) % 19 - 9 AS DOUBLE))"

  private def bucketDuckSql: String =
    (0 until nPlanes)
      .map(j => s"(CASE WHEN list_dot_product(v, ${planeDuckSql(j)}) >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")

  lazy val registry: Seq[Query] = Seq(
    Query("ann_lsh_recall", annLshRecall,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, bucket_id AS q_bucket FROM b WHERE vec_id % 50 = 0),
         |sc AS (
         |  SELECT b.vec_id, b.bucket_id, q.q_id, q.q_bucket,
         |    round(list_dot_product(b.v, q.qv) /
         |          (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
         |      AS cos_sim
         |  FROM b, q WHERE b.vec_id <> q.q_id),
         |gt AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |    FROM sc) WHERE rn <= 10),
         |ls AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
         |    FROM sc WHERE bucket_id = q_bucket) WHERE rn <= 10),
         |nc AS (
         |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM sc WHERE bucket_id = q_bucket GROUP BY q_id),
         |h AS (
         |  SELECT g.q_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM gt g JOIN ls ON ls.q_id = g.q_id AND ls.vec_id = g.vec_id GROUP BY g.q_id)
         |SELECT q.q_id,
         |  CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) * 1000000 // 10 AS BIGINT) AS recall_micro
         |FROM q LEFT JOIN nc USING (q_id) LEFT JOIN h USING (q_id) ORDER BY q.q_id""".stripMargin),
    Query("embedding_drift", embeddingDriftQ,
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |h AS (
        |  SELECT label, CASE WHEN vec_id % 2 = 0 THEN 'old' ELSE 'new' END AS half, v FROM e),
        |c AS (
        |  SELECT label, half, i AS pos, round(avg(v[i]), 6) AS c, CAST(count(*) AS BIGINT) AS n
        |  FROM h, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)
        |  GROUP BY label, half, i),
        |o AS (SELECT label, pos, c AS co, n AS n_old FROM c WHERE half = 'old'),
        |nw AS (SELECT label, pos, c AS cn, n AS n_new FROM c WHERE half = 'new'),
        |j AS (SELECT o.label, o.n_old, nw.n_new, o.co, nw.cn
        |      FROM o JOIN nw ON o.label = nw.label AND o.pos = nw.pos)
        |SELECT label, CAST(min(n_old) AS BIGINT) AS n_old, CAST(min(n_new) AS BIGINT) AS n_new,
        |  round(sum(co * cn) / (sqrt(sum(co * co)) * sqrt(sum(cn * cn))), 6) AS cos_sim
        |FROM j GROUP BY label ORDER BY label""".stripMargin),
    Query("embedding_quality", embeddingQuality,
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |w AS (
        |  SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
        |m AS (
        |  SELECT label,
        |    CAST(floor(sqrt(list_dot_product(v, v)) * 1000000) AS BIGINT) AS norm_micro,
        |    CAST(floor(CASE WHEN maxabs = 0 THEN 0
        |      ELSE list_max(list_transform(v,
        |             x -> abs(x - floor(x * 127.0 / maxabs + 0.5) * maxabs / 127.0)))
        |      END * 1000000) AS BIGINT) AS err_micro
        |  FROM w)
        |SELECT CAST(label AS BIGINT) AS label,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  min(norm_micro) AS norm_min_micro,
        |  max(norm_micro) AS norm_max_micro,
        |  CAST(sum(norm_micro) // count(*) AS BIGINT) AS norm_avg_micro,
        |  max(err_micro) AS max_err_micro
        |FROM m GROUP BY label ORDER BY label""".stripMargin),
    Query("ann_cosine_topk", annCosineTopk,
      s"""$cosSqlBase
         |SELECT vec_id, label,
         |  round(list_dot_product(v, qv) /
         |        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
         |FROM e, q ORDER BY cos_sim DESC, vec_id ASC LIMIT 20""".stripMargin),
    // radius search: brute and the exact (nProbe = nLists) IVF-served
    // twin share the threshold-over-round-6 semantics
    Query("ann_range_search", annRangeSearch, oracleRangeSearch),
    Query("ann_range_ivf", annRangeIvf, oracleRangeSearch),
    Query("ann_mmr_topk", annMmrTopk, oracleMmrTopk),
    Query("ann_range_recall", annRangeRecall, oracleRangeRecall),
    Query("ann_knn_classifier", annKnnClassifier, oracleKnnClassifier),
    Query("ann_nearest_centroid", annNearestCentroid, oracleNearestCentroid),
    // Rocchio: q' rebuilt in SQL with the same float-op order (vec_id-
    // ordered centroid sums, same α/β/γ term order), feedback excluded
    Query("ann_rocchio", annRocchio, {
      val rel = fixtureRocchioRel.sorted
      val non = fixtureRocchioNonRel.sorted
      val relCtes = rel.zipWithIndex.map { case (id, j) => s"rv$j AS (SELECT v AS r$j FROM e WHERE vec_id = $id)" }
      val nonCtes = non.zipWithIndex.map { case (id, j) => s"nv$j AS (SELECT v AS n$j FROM e WHERE vec_id = $id)" }
      val relSum = rel.indices.map(j => s"r$j[i]").mkString(" + ")
      val nonSum = non.indices.map(j => s"n$j[i]").mkString(" + ")
      val nonTerm = if (non.isEmpty) "" else s" - 0.15 * (($nonSum) / ${non.size}.0)"
      val fromAll = (Seq("q") ++ rel.indices.map(j => s"rv$j") ++ non.indices.map(j => s"nv$j")).mkString(", ")
      val excl = (0L +: (rel ++ non)).distinct.mkString(", ")
      s"""$cosSqlBase,
         |${(relCtes ++ nonCtes).mkString(",\n")},
         |qp AS (
         |  SELECT list_transform(range(1, ${dims + 1}),
         |    i -> qv[i] + 0.75 * (($relSum) / ${rel.size}.0)$nonTerm) AS pv
         |  FROM $fromAll)
         |SELECT vec_id, label,
         |  round(list_dot_product(v, pv) /
         |        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 6) AS cos_sim
         |FROM e, qp WHERE vec_id NOT IN ($excl)
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 20""".stripMargin
    }),
    // vector deletes: brute force over the LIVE vectors only — shared
    // by the tombstone-served and the post-purge probe
    Query("ann_delete_topk", annDeleteTopk, oracleDeleteCosineTopk, build = Some(FirstRun)),
    Query("ann_delete_compacted", annDeleteCompacted, oracleDeleteCosineTopk, build = Some(FirstRun)),
    Query("ann_lsh_buckets", annLshBuckets,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e)
         |SELECT bucket_id, CAST(count(*) AS BIGINT) AS n_vectors, min(vec_id) AS min_vec_id
         |FROM b GROUP BY bucket_id ORDER BY bucket_id""".stripMargin),
    Query("sample_bucket_balanced", sampleBucketBalanced,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, label, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e),
         |d AS (
         |  SELECT bucket_id, vec_id, label,
         |    CAST(${Dedup.hex12ValSql("md5('bal|' || CAST(vec_id AS VARCHAR))", 1)} AS BIGINT) AS draw
         |  FROM b),
         |r AS (
         |  SELECT bucket_id, vec_id, label,
         |    row_number() OVER (PARTITION BY bucket_id ORDER BY draw, vec_id) AS rank
         |  FROM d)
         |SELECT bucket_id, CAST(rank AS BIGINT) AS rank, vec_id, label
         |FROM r WHERE rank <= 3 ORDER BY bucket_id, rank""".stripMargin),
    Query("ann_lsh_topk", annLshTopk,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, label, v, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e),
         |q AS (SELECT v AS qv, bucket_id AS q_bucket FROM b WHERE vec_id = 0)
         |SELECT vec_id, label, bucket_id,
         |  round(list_dot_product(v, qv) /
         |        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
         |FROM b, q WHERE bucket_id = q_bucket
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin),
    // index route: even ids are the indexed candidates (the demo
    // index), anchors the %50 sample; no label column in the index
    Query("ann_hard_negatives_index", annHardNegativesIndex,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e),
         |a AS (SELECT vec_id AS anchor_id, v AS qv, bucket_id AS q_bucket FROM b WHERE vec_id % 50 = 0),
         |cand AS (
         |  SELECT a.anchor_id, b.vec_id,
         |    round(list_dot_product(b.v, a.qv) /
         |          (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(a.qv, a.qv))), 6) AS cos_sim
         |  FROM b JOIN a ON b.bucket_id = a.q_bucket AND b.vec_id % 2 = 0),
         |neg AS (
         |  SELECT anchor_id, vec_id, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY anchor_id
         |                            ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
         |  FROM cand WHERE cos_sim < 0.9 AND vec_id <> anchor_id)
         |SELECT anchor_id, rank, vec_id, cos_sim
         |FROM neg WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin, build = Some(FirstRun)),
    Query("bitext_mine", bitextMine,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |x AS (SELECT vec_id AS x_id, v AS xv FROM e WHERE label = 0),
         |y AS (SELECT vec_id AS y_id, v AS yv FROM e WHERE label = 1),
         |p AS (
         |  SELECT x_id, y_id,
         |    CAST(floor(round(list_dot_product(xv, yv) /
         |         (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv))), 6) * 1000000) AS BIGINT) AS cos_micro
         |  FROM x, y),
         |rx AS (SELECT x_id, y_id, cos_micro,
         |  row_number() OVER (PARTITION BY x_id ORDER BY cos_micro DESC, y_id ASC) AS rk FROM p),
         |ry AS (SELECT x_id, y_id, cos_micro,
         |  row_number() OVER (PARTITION BY y_id ORDER BY cos_micro DESC, x_id ASC) AS rk FROM p),
         |kx AS (SELECT x_id, CAST(sum(cos_micro) AS BIGINT) AS knn_x FROM rx WHERE rk <= 4 GROUP BY x_id),
         |ky AS (SELECT y_id, CAST(sum(cos_micro) AS BIGINT) AS knn_y FROM ry WHERE rk <= 4 GROUP BY y_id),
         |f AS (SELECT x_id, y_id, cos_micro FROM rx WHERE rk = 1),
         |m AS (
         |  SELECT f.x_id, f.y_id, f.cos_micro,
         |    CAST(floor(f.cos_micro * 8000000.0 / (kx.knn_x + ky.knn_y)) AS BIGINT) AS margin_micro
         |  FROM f JOIN kx USING (x_id) JOIN ky USING (y_id)
         |  WHERE kx.knn_x + ky.knn_y > 0)
         |SELECT x_id, y_id, cos_micro, margin_micro
         |FROM m WHERE margin_micro >= 1010000 ORDER BY x_id""".stripMargin),
    // index-restricted mining: the SAME margin tail over the in-bucket
    // cross-side candidate relation (LSH sign arithmetic is portable),
    // so the documented at-scale approximation is itself oracle-gated
    Query("bitext_mine_index", bitextMineIndex,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, label, v, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e),
         |x AS (SELECT vec_id AS x_id, bucket_id, v AS xv FROM b WHERE label = 0),
         |y AS (SELECT vec_id AS y_id, bucket_id, v AS yv FROM b WHERE label = 1),
         |p AS (
         |  SELECT x_id, y_id,
         |    CAST(floor(round(list_dot_product(xv, yv) /
         |         (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv))), 6) * 1000000) AS BIGINT) AS cos_micro
         |  FROM x JOIN y USING (bucket_id)),
         |rx AS (SELECT x_id, y_id, cos_micro,
         |  row_number() OVER (PARTITION BY x_id ORDER BY cos_micro DESC, y_id ASC) AS rk FROM p),
         |ry AS (SELECT x_id, y_id, cos_micro,
         |  row_number() OVER (PARTITION BY y_id ORDER BY cos_micro DESC, x_id ASC) AS rk FROM p),
         |kx AS (SELECT x_id, CAST(sum(cos_micro) AS BIGINT) AS knn_x FROM rx WHERE rk <= 4 GROUP BY x_id),
         |ky AS (SELECT y_id, CAST(sum(cos_micro) AS BIGINT) AS knn_y FROM ry WHERE rk <= 4 GROUP BY y_id),
         |f AS (SELECT x_id, y_id, cos_micro FROM rx WHERE rk = 1),
         |m AS (
         |  SELECT f.x_id, f.y_id, f.cos_micro,
         |    CAST(floor(f.cos_micro * 8000000.0 / (kx.knn_x + ky.knn_y)) AS BIGINT) AS margin_micro
         |  FROM f JOIN kx USING (x_id) JOIN ky USING (y_id)
         |  WHERE kx.knn_x + ky.knn_y > 0)
         |SELECT x_id, y_id, cos_micro, margin_micro
         |FROM m WHERE margin_micro >= 1010000 ORDER BY x_id""".stripMargin, build = Some(FirstRun)),
    Query("ann_hard_negatives", annHardNegatives,
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, label, v, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e),
         |a AS (SELECT vec_id AS anchor_id, v AS qv, bucket_id AS q_bucket FROM b WHERE vec_id % 50 = 0),
         |cand AS (
         |  SELECT a.anchor_id, b.vec_id, b.label,
         |    round(list_dot_product(b.v, a.qv) /
         |          (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(a.qv, a.qv))), 6) AS cos_sim
         |  FROM b JOIN a ON b.bucket_id = a.q_bucket),
         |neg AS (
         |  SELECT anchor_id, vec_id, label, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY anchor_id
         |                            ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
         |  FROM cand WHERE cos_sim < 0.9 AND vec_id <> anchor_id)
         |SELECT anchor_id, rank, vec_id, label, cos_sim
         |FROM neg WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin),
    Query("dedup_embedding_cosine", dedupEmbeddingCosine,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e),
         |pairs AS (
         |  SELECT a.vec_id AS vec_a, x.vec_id AS vec_b, a.bucket_id,
         |    round(list_dot_product(a.v, x.v) /
         |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(x.v, x.v))), 6) AS cos_sim
         |  FROM b a JOIN b x ON a.bucket_id = x.bucket_id AND a.vec_id < x.vec_id)
         |SELECT vec_a, vec_b, bucket_id, cos_sim
         |FROM pairs WHERE cos_sim >= 0.9
         |ORDER BY vec_a, vec_b""".stripMargin),
    // incremental replay: buckets over all vectors (per-vector bucket
    // ids are corpus-independent), parity split, routed pairs, exact
    // cosine at the same threshold. The UNION ALL replays the Spark
    // side's seeded clones — the 20 lowest even vectors re-arriving as
    // odd ids, flagging their indexed sources at cosine ≈ 1.0.
    Query("dedup_incremental_embedding", dedupIncrementalEmbedding,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  UNION ALL
         |  SELECT $cloneIdBase + vec_id, CAST(embedding AS DOUBLE[])
         |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < $cloneSourceCap),
         |b AS (SELECT vec_id, v, CAST($bucketDuckSql AS BIGINT) AS bucket_id FROM e),
         |bnew AS (SELECT * FROM b WHERE vec_id % 2 <> 0),
         |bidx AS (SELECT * FROM b WHERE vec_id % 2 = 0),
         |cand AS (
         |  SELECT n.vec_id AS new_id, r.vec_id AS ref_id, 'index' AS src,
         |         n.bucket_id, n.v AS vn, r.v AS vr
         |  FROM bnew n JOIN bidx r
         |    ON n.bucket_id = r.bucket_id AND r.vec_id <> n.vec_id
         |  UNION ALL
         |  SELECT n.vec_id, r.vec_id, 'increment' AS src, n.bucket_id, n.v, r.v
         |  FROM bnew n JOIN bnew r
         |    ON n.bucket_id = r.bucket_id AND r.vec_id < n.vec_id),
         |scored AS (
         |  SELECT new_id, ref_id, src, bucket_id,
         |    round(list_dot_product(vn, vr) /
         |          (sqrt(list_dot_product(vn, vn)) * sqrt(list_dot_product(vr, vr))), 6) AS cos_sim
         |  FROM cand)
         |SELECT new_id, ref_id, src, bucket_id, cos_sim
         |FROM scored WHERE cos_sim >= 0.3
         |ORDER BY new_id, ref_id, src""".stripMargin, build = Some(FirstRun)),
    // golden pin of the per-list SemDeDup sweep at sf0.01 (same
    // determinism argument as ann_ivf_lists; per-vector semantics are
    // spec-gated — see dedupSemantic scaladoc for the τ=0.35 choice).
    Query("dedup_semantic", dedupSemantic, {
      val pinned = Seq(
        (0, 41, 3, 333), (1, 39, 5, 287), (2, 49, 8, 152), (3, 17, 1, 232),
        (4, 17, 1, 498), (5, 23, 3, 143), (6, 59, 8, 185), (7, 11, 0, -1),
        (8, 33, 5, 148), (9, 25, 4, 276), (10, 44, 8, 118), (11, 61, 5, 204),
        (12, 54, 6, 162), (13, 1, 0, -1), (14, 21, 5, 291), (15, 5, 1, 264)
      ).map { case (l, n, dr, fd) => s"($l, $n, $dr, $fd)" }.mkString(", ")
      s"""SELECT CAST(list_id AS INTEGER) AS list_id, CAST(n_vectors AS BIGINT) AS n_vectors,
         |  CAST(n_dropped AS BIGINT) AS n_dropped, CAST(first_dropped AS BIGINT) AS first_dropped
         |FROM (VALUES $pinned) AS t(list_id, n_vectors, n_dropped, first_dropped)
         |ORDER BY list_id""".stripMargin
    }),
    // golden pin of the deterministic seeded-KMeans histogram at
    // sf0.01 (the correctness-gate scale); see annIvfLists scaladoc.
    Query("ann_ivf_lists", annIvfLists, {
      val pinned = Seq(
        0 -> 41, 1 -> 39, 2 -> 49, 3 -> 17, 4 -> 17, 5 -> 23, 6 -> 59, 7 -> 11,
        8 -> 33, 9 -> 25, 10 -> 44, 11 -> 61, 12 -> 54, 13 -> 1, 14 -> 21, 15 -> 5
      ).map { case (l, n) => s"($l, $n)" }.mkString(", ")
      s"""SELECT CAST(list_id AS INTEGER) AS list_id, CAST(n_vectors AS BIGINT) AS n_vectors
         |FROM (VALUES $pinned) AS t(list_id, n_vectors) ORDER BY list_id""".stripMargin
    }),
    // golden pin of the persisted-index probe at sf0.01 (same
    // determinism argument as ann_ivf_lists; SimilarityIvfSpec proves
    // index-path = rebuild-path, this pin makes it driver-checked).
    Query("ann_ivf_topk_index", annIvfTopkIndex, {
      val pinned = ivfTopkGoldenSf001.map { case (v, lb, li, c) => s"($v, $lb, $li, $c)" }.mkString(", ")
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INTEGER) AS label,
         |  CAST(list_id AS INTEGER) AS list_id, CAST(cos_sim AS DOUBLE) AS cos_sim
         |FROM (VALUES $pinned) AS t(vec_id, label, list_id, cos_sim)
         |ORDER BY cos_sim DESC, vec_id""".stripMargin
    }, build = Some(FirstRun), sharesScanWith = Some("ann_ivf_lists")),
    // golden pin of the PQ asymmetric-distance probe at sf0.01 (same
    // determinism argument: seeded per-subspace fits over the fixed
    // featurization; SimilarityIvfSpec gates recall vs the exact
    // within-probed-lists answer and rerank equality).
    Query("ann_pq_topk_index", annPqTopkIndex, {
      val pinned = Seq(
        (0L, 2, 0, "0.505653"),
        (73L, 6, 5, "0.302942"),
        (464L, 4, 0, "0.255418"),
        (108L, 8, 3, "0.251693"),
        (334L, 0, 0, "0.226521"),
        (190L, 7, 0, "0.224367"),
        (478L, 7, 0, "0.204726"),
        (303L, 9, 0, "0.196847"),
        (444L, 6, 3, "0.178288"),
        (365L, 8, 0, "0.175798")
      ).map { case (v, lb, li, c) => s"($v, $lb, $li, $c)" }.mkString(", ")
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INTEGER) AS label,
         |  CAST(list_id AS INTEGER) AS list_id, CAST(adc_cos AS DOUBLE) AS adc_cos
         |FROM (VALUES $pinned) AS t(vec_id, label, list_id, adc_cos)
         |ORDER BY adc_cos DESC, vec_id""".stripMargin
    }, sharesScanWith = Some("ann_pq_knn_join")),
    // golden pin of the batched PQ k-NN join at sf0.01 (SimilarityIvf
    // Spec pins batch == per-query path row for row).
    Query("ann_pq_knn_join", annPqKnnJoin, {
      val pinned = Seq(
        (0L, 1L, 0L, 2, 0, "0.505653"),
        (0L, 2L, 73L, 6, 5, "0.302942"),
        (0L, 3L, 464L, 4, 0, "0.255418"),
        (0L, 4L, 108L, 8, 3, "0.251693"),
        (0L, 5L, 334L, 0, 0, "0.226521"),
        (1L, 1L, 1L, 0, 6, "0.427173"),
        (1L, 2L, 64L, 0, 5, "0.240053"),
        (1L, 3L, 386L, 3, 11, "0.214099"),
        (1L, 4L, 409L, 8, 6, "0.199529"),
        (1L, 5L, 203L, 9, 6, "0.195878"),
        (2L, 1L, 2L, 1, 11, "0.452185"),
        (2L, 2L, 145L, 9, 11, "0.213893"),
        (2L, 3L, 395L, 3, 1, "0.205619"),
        (2L, 4L, 247L, 0, 11, "0.200971"),
        (2L, 5L, 102L, 6, 1, "0.183372")
      ).map { case (q, r, v, lb, li, c) => s"($q, $r, $v, $lb, $li, $c)" }.mkString(", ")
      s"""SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |  CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS INTEGER) AS label,
         |  CAST(list_id AS INTEGER) AS list_id, CAST(adc_cos AS DOUBLE) AS adc_cos
         |FROM (VALUES $pinned) AS t(qid, rank, vec_id, label, list_id, adc_cos)
         |ORDER BY qid, rank""".stripMargin
    }, build = Some(FirstRun)),
    // golden pin of the PQ reconstruction report at sf0.01. The ~0.82
    // avg error against unit-norm vectors is EXPECTED for 16-code
    // PQ over synthetic near-uniform embeddings (no cluster structure
    // to exploit) — the gate is that ADC RANKING still surfaces the
    // true neighbors (the recall spec), and that these numbers are
    // stable.
    Query("pq_quality", pqQuality, {
      val pinned = Seq(
        (0L, 50L, 813426L, 738583L, 999999L),
        (1L, 46L, 839433L, 742926L, 999999L),
        (2L, 47L, 808156L, 737841L, 999999L),
        (3L, 59L, 821376L, 740594L, 999999L),
        (4L, 52L, 831172L, 739602L, 999999L),
        (5L, 44L, 832850L, 734156L, 999999L),
        (6L, 46L, 843415L, 735089L, 999999L),
        (7L, 53L, 809605L, 736651L, 999999L),
        (8L, 49L, 836446L, 738352L, 999999L),
        (9L, 54L, 825029L, 735361L, 999999L)
      ).map { case (l, n, mx, av, nm) => s"($l, $n, $mx, $av, $nm)" }.mkString(", ")
      s"""SELECT CAST(label AS BIGINT) AS label, CAST(n_vecs AS BIGINT) AS n_vecs,
         |  CAST(max_err_micro AS BIGINT) AS max_err_micro,
         |  CAST(avg_err_micro AS BIGINT) AS avg_err_micro,
         |  CAST(norm_avg_micro AS BIGINT) AS norm_avg_micro
         |FROM (VALUES $pinned) AS t(label, n_vecs, max_err_micro, avg_err_micro, norm_avg_micro)
         |ORDER BY label""".stripMargin
    }, sharesScanWith = Some("ann_pq_knn_join")),
    // golden pin of the per-generation drift report at sf0.01: the
    // +0.5-shifted generation-1 increment reconstructs ~5x worse than
    // the build generation through the frozen codebooks — the jump the
    // re-train trigger (pqDriftReport scaladoc) watches for.
    Query("pq_drift_report", annPqDriftReport, {
      val pinned = Seq(
        (0L, 500L, 843415L, 737970L),
        (1L, 100L, 3911406L, 3681276L)
      ).map { case (g, n, mx, av) => s"($g, $n, $mx, $av)" }.mkString(", ")
      s"""SELECT CAST(generation AS BIGINT) AS generation, CAST(n_vecs AS BIGINT) AS n_vecs,
         |  CAST(max_err_micro AS BIGINT) AS max_err_micro,
         |  CAST(avg_err_micro AS BIGINT) AS avg_err_micro
         |FROM (VALUES $pinned) AS t(generation, n_vecs, max_err_micro, avg_err_micro)
         |ORDER BY generation""".stripMargin
    }, build = Some(FirstRun))
  )
}
