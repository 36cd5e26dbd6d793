package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Query.FirstRun

/** Graph centrality over the near-duplicate similarity graph — the
  * keeper-policy upgrade for dedup clusters: instead of "lowest id
  * wins" (arrival order) or "best quality score wins"
  * ([[GraphDedup.qualityReps]]), keep the most CENTRAL member of each
  * near-dup cluster — the document the rest of the cluster is
  * derived from (re-crawls, boilerplate-wrapped mirrors and partial
  * copies all point back at it), which PageRank on the similarity
  * graph surfaces as the highest-rank node. The reference ships this
  * as its graph-analytics pass over candidate-pair output; here it is
  * re-expressed as the standard Pregel-on-DataFrame power iteration.
  *
  * Determinism contract (oracle-gated): ranks live in integer
  * micro-units. Per-node mass starts at 10⁶; a node of out-degree g
  * sends `rank div g` to each neighbor (integer floor division — the
  * ≤ g−1 micro leak per node per step is deterministic and identical
  * in both engines); damping 0.85 is applied as `150000 + (17·Σ
  * contrib) div 20` — pure BIGINT arithmetic (17/20 = 0.85 exactly),
  * no float anywhere, so K unrolled iterations agree bit for bit with
  * the DuckDB oracle. 17·Σ overflows signed 64-bit only past ~5·10¹⁷
  * total incoming micro-mass ≈ 5·10¹¹ documents — beyond any corpus.
  *
  * Dangling handling: every node gets a SELF-LOOP (the lazy-walk
  * trick), so out-degree ≥ 1 always — no dangling mass to
  * redistribute, which keeps the per-iteration step a single
  * edge-relation join + aggregate on both engines (a dangling-mass
  * term would need a second pass over the rank relation per step).
  *
  * Scale shape (the part that must survive 100×): the edge relation
  * is near-dup-pair-sized (output-sized, NOT corpus-sized — the LSH
  * pass that produced it did the corpus-scale work). Degrees are
  * joined into the edge relation ONCE, outside the loop, and that
  * enriched edge relation is localCheckpoint-pinned so K iterations
  * re-read bytes instead of re-deriving the LSH plan. Each iteration
  * is one shuffle: contributions hash-partitioned by dst with
  * map-side partial sums (sum is associative), then the new rank
  * relation (node-sized) is eagerly checkpointed so the logical plan
  * stays iteration-bounded instead of growing a 2^K lineage. On a
  * real cluster the edge relation would be bucketed by src so the
  * rank⋈edges probe co-partitions; the aggregate's skew (a mega-hub
  * dst) is AQE's skewed-aggregate case, and self-loops add exactly
  * |V| edges — never the quadratic blowup a dense similarity graph
  * would need guarding against, because edges are Jaccard-confirmed
  * pairs, not raw candidates.
  */
object Centrality {
  import Fixtures._

  /** Oracle-pinned knobs: 6 power iterations at damping 17/20. */
  private[ops] val iterations = 6
  private val baseMicro = 1000000L

  /** Undirected near-dup edges + a self-loop per node, with each
    * edge's source out-degree attached — the loop-invariant relation.
    */
  private def loopGraph(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // edges arrive as distinct (src < dst) pairs, so the reversal
    // cannot collide with the forward set and self-loops collide with
    // neither — no distinct() (and its shuffle) needed
    val und = edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
    val deg = und.groupBy("src").agg(count(lit(1)).cast("long").as("deg"))
    und.join(deg, "src")
  }

  /** Integer-micro PageRank: (node, deg, rank_micro) after
    * [[iterations]] synchronous steps from a uniform 10⁶ start.
    * `edges` must be distinct (src < dst) confirmed pairs.
    */
  def pageRank(docs: DataFrame, edges: DataFrame, idCol: String): DataFrame =
    pageRankFrom(docs, edges, idCol, None, iterations)

  /** RESUMABLE power iteration: start from `startRanks` (a persisted
    * (node, rank_micro) snapshot from an earlier run) instead of the
    * uniform base. Because each step is a pure function of the
    * previous rank relation, running j iterations, persisting, and
    * resuming for k more is BIT-IDENTICAL to running j+k in one job
    * (CentralitySpec pins 3+3 ≡ 6) — which is what makes a long rank
    * job on a huge graph checkpointable at iteration granularity: a
    * preempted cluster job resumes from its last snapshot instead of
    * re-walking from iteration zero.
    */
  def pageRankFrom(
      docs: DataFrame,
      edges: DataFrame,
      idCol: String,
      startRanks: Option[DataFrame],
      iters: Int
  ): DataFrame = {
    val nodes = docs.select(col(idCol).cast("long").as("node"))
    // the undirected union references the edge plan TWICE (forward +
    // reversed) — pin it first so an expensive upstream (the LSH
    // verification pass) materializes once, not per-reference
    val e = edges.localCheckpoint(true)
    // edge-sized and reused K+1 times: pin eagerly, release at exit
    val g = loopGraph(nodes, e).localCheckpoint(true)
    var pinned = startRanks
      .getOrElse(nodes.withColumn("rank_micro", lit(baseMicro)))
      .select(col("node"), col("rank_micro"))
      .localCheckpoint(true)
    var ranks = pinned
    var sinceCp = 0
    try {
      // iterations CHAIN LAZILY and pin every `rankCpEvery` steps (the
      // BpeTrain.trainLoop cadence): each un-pinned step is one more
      // join+agg layer in a single plan — referenced exactly once, so
      // lineage grows linearly — and a pin every few steps bounds the
      // plan while cutting the per-iteration eager-materialization job
      // (K jobs → K/cpEvery; the per-iteration agg Exchange is the
      // fundamental cost and is unchanged)
      for (_ <- 1 to iters) {
        ranks = g
          .join(ranks, g("src") === ranks("node"))
          .select(col("dst"), expr("rank_micro div deg").as("contrib"))
          .groupBy(col("dst"))
          .agg(expr("CAST(150000 + (17 * sum(contrib)) div 20 AS BIGINT)").as("rank_micro"))
          .withColumnRenamed("dst", "node")
        sinceCp += 1
        if (sinceCp >= rankCpEvery) {
          val next = ranks.localCheckpoint(true)
          GraphDedup.releaseCheckpoints(pinned)
          pinned = next
          ranks = next
          sinceCp = 0
        }
      }
      // self-loops guarantee every node received mass, so this join
      // is total; deg here is the true out-degree incl. the self-loop
      ranks
        .join(g.filter(col("src") === col("dst")).select(col("src").as("node"), col("deg")), "node")
        .localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(e, g, pinned)
  }

  /** Pin cadence of the power-iteration loops — see the loop comment
    * in [[pageRankFrom]].
    */
  private val rankCpEvery = 3

  /** Seeded trust propagation (TrustRank): the restart mass goes to a
    * SEED set of known-good documents instead of uniformly everywhere,
    * so rank flows outward from trusted content through the
    * similarity graph — documents near-duplicating trusted material
    * inherit trust; content with no similarity path to any seed
    * converges to zero. The curation read: a cheap corpus-wide
    * quality prior from a small audited sample, before any model-based
    * scorer exists.
    *
    * Same integer contract as [[pageRank]]: restart_base = N·10⁶ div S
    * micro on each of the S seeds (total mass N·10⁶, like the uniform
    * start), per-step rank = (3·restart_base) div 20 + (17·Σcontrib)
    * div 20 — 3/20 + 17/20 = 0.15/0.85 exactly, pure BIGINT. The
    * restart relation is node-sized and joined once per iteration on
    * the aggregate's own key, a node-sized shuffle that AQE coalesces;
    * everything else is [[pageRank]]'s loop shape.
    */
  def trustRank(
      docs: DataFrame,
      edges: DataFrame,
      idCol: String,
      isSeed: org.apache.spark.sql.Column
  ): DataFrame = {
    val nodes = docs.select(col(idCol).cast("long").as("node"), isSeed.cast("boolean").as("is_seed"))
    val e = edges.localCheckpoint(true)
    val g = loopGraph(nodes.select("node"), e).localCheckpoint(true)
    // two metadata scalars (corpus size, seed count) — driver-side by
    // the same standard as the partition planner's counts
    val cnt = nodes.agg(count(lit(1)), sum(when(col("is_seed"), 1L).otherwise(0L))).head()
    val (n, sCount) = (cnt.getLong(0), cnt.getLong(1))
    require(sCount > 0, "trustRank needs at least one seed")
    val restartBase = n * baseMicro / sCount
    val restart = nodes
      .withColumn("restart_micro", when(col("is_seed"), lit(restartBase)).otherwise(lit(0L)))
      .select(col("node"), col("is_seed"), col("restart_micro"))
      .localCheckpoint(true)
    var pinned = restart
      .select(col("node"), col("restart_micro").as("rank_micro"))
      .localCheckpoint(true)
    var ranks = pinned
    var sinceCp = 0
    try {
      // same lazy-chain + periodic-pin loop as [[pageRankFrom]]
      for (_ <- 1 to iterations) {
        ranks = g
          .join(ranks, g("src") === ranks("node"))
          .select(col("dst"), expr("rank_micro div deg").as("contrib"))
          .groupBy(col("dst"))
          .agg(expr("CAST((17 * sum(contrib)) div 20 AS BIGINT)").as("walk_micro"))
          .withColumnRenamed("dst", "node")
          // self-loops make the aggregate total over nodes, so this is
          // a node⟷node join, never an outer-join repair
          .join(restart.select(col("node"), col("restart_micro")), "node")
          .select(
            col("node"),
            expr("CAST((3 * restart_micro) div 20 + walk_micro AS BIGINT)").as("rank_micro")
          )
        sinceCp += 1
        if (sinceCp >= rankCpEvery) {
          val next = ranks.localCheckpoint(true)
          GraphDedup.releaseCheckpoints(pinned)
          pinned = next
          ranks = next
          sinceCp = 0
        }
      }
      ranks
        .join(restart.select(col("node"), col("is_seed")), "node")
        .localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(e, g, restart, pinned)
  }

  // ---- Persisted graph + rank serving (the production lifecycle) ----

  /** Src-hash bucket count for the persisted graph layout. */
  private[ops] val graphBuckets = 16L

  /** Persist the confirmed near-dup edge relation — build the graph
    * ONCE (the LSH→Jaccard verification pass is the corpus-scale
    * cost), then every consumer (rank jobs, cluster maintenance,
    * neighborhood probes) reads bytes instead of re-deriving the LSH
    * plan. Stored UNDIRECTED (both orientations of each confirmed
    * pair) and partitioned by `ebucket = src mod 16`, so a "who
    * near-duplicates doc X" probe prunes to ONE bucket dir (static
    * PartitionFilters, spec-pinned) and sees the node's full
    * neighborhood there; a whole-graph consumer scans all 16.
    * `edges` arrive as distinct (src < dst) confirmed pairs, the
    * convention every producer here emits.
    */
  def saveNearDupGraph(edges: DataFrame, dir: String): Unit =
    edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("ebucket", pmod(col("src"), lit(graphBuckets)))
      .repartition(col("ebucket"))
      .sortWithinPartitions(col("src"), col("dst"))
      .write
      .option("partitionOverwriteMode", "static")
      .mode("overwrite")
      .partitionBy("ebucket")
      .parquet(s"$dir/edges")

  private val edgeSchema = new org.apache.spark.sql.types.StructType()
    .add("src", "long")
    .add("dst", "long")
    .add("ebucket", "long")

  /** The persisted graph back in canonical distinct-(src < dst) form —
    * what [[pageRankFrom]]/[[trustRank]]/the cluster chain consume.
    */
  def readNearDupGraph(s: SparkSession, dir: String): DataFrame =
    s.read
      .schema(edgeSchema)
      .parquet(s"$dir/edges")
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))

  /** One node's confirmed near-dups, served partition-pruned: the
    * node's bucket dir holds BOTH orientations of every edge touching
    * it, so the probe is one dir + one src-equality filter — the
    * "show me this document's duplicates" serving path, I/O bounded
    * by 1/16 of the graph however large the corpus.
    */
  def neighborhoodFromGraph(s: SparkSession, dir: String, nodes: Seq[Long]): DataFrame = {
    val buckets = nodes.map(n => ((n % graphBuckets) + graphBuckets) % graphBuckets).distinct
    s.read
      .schema(edgeSchema)
      .parquet(s"$dir/edges")
      .filter(col("ebucket").isin(buckets: _*) && col("src").isin(nodes: _*))
      .select(col("src").as("node"), col("dst").as("neighbor"))
  }

  /** Persist a (node, rank_micro) snapshot — the other half of the
    * preemptible-rank-job lifecycle: [[pageRankFrom]] resumes from it
    * at iteration granularity (3 then 3 ≡ 6, spec- and oracle-pinned).
    */
  def savePageRankSnapshot(ranks: DataFrame, dir: String): Unit =
    ranks.select(col("node"), col("rank_micro")).write.mode("overwrite").parquet(dir)

  def readPageRankSnapshot(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir).select(col("node"), col("rank_micro"))

  /** Once-per-process demo of the persisted lifecycle: graph built and
    * saved ONCE, a 3-iteration rank job persisted mid-flight (the
    * preempted half).
    */
  private[ops] def demoGraphDir(s: SparkSession, d: String): String =
    Fixtures.demoIndexDir(s, "ndgraph", d) { dir =>
      val docs = documents(s, d)
      saveNearDupGraph(confirmedEdges(docs), dir)
      val half = pageRankFrom(docs, readNearDupGraph(s, dir), "doc_id", None, iterations / 2)
      savePageRankSnapshot(half.select("node", "rank_micro"), s"$dir/ranks")
    }

  /** The full production serving shape in one gated query: resume the
    * remaining iterations from the PERSISTED snapshot over the
    * PERSISTED edge relation — no LSH pass, no restart from iteration
    * zero — and land on centrality_pagerank's exact oracle (6
    * one-shot iterations): the equality proves persisted-graph +
    * snapshot-resume serving is bit-identical to the monolithic job.
    */
  val centralityFromGraph: Q = (s, d) => {
    val dir = demoGraphDir(s, d)
    pageRankFrom(
      documents(s, d),
      readNearDupGraph(s, dir),
      "doc_id",
      Some(readPageRankSnapshot(s, s"$dir/ranks")),
      iterations - iterations / 2
    )
      .select(col("node").as("doc_id"), col("deg"), col("rank_micro"))
      .orderBy("doc_id")
  }

  /** TrustRank served from the PERSISTED graph — same seed set and
    * iteration count as [[centralityTrustrank]], whose oracle it
    * shares: the seeded walk must be bit-identical whether the edges
    * come from the LSH pass or from bytes.
    */
  val trustrankFromGraph: Q = (s, d) => {
    val dir = demoGraphDir(s, d)
    trustRank(documents(s, d), readNearDupGraph(s, dir), "doc_id", col("doc_id") % seedEvery === 0)
      .select(
        col("node").as("doc_id"),
        col("is_seed").cast("long").as("is_seed"),
        col("rank_micro").as("trust_micro")
      )
      .orderBy("doc_id")
  }

  /** Centrality reps served from the PERSISTED graph: rank resumes
    * from the persisted snapshot (the remaining iterations), the
    * cluster map labels the SAME persisted edges — no LSH pass
    * anywhere in the serving job. Shares centrality_reps' oracle.
    */
  val repsFromGraph: Q = (s, d) => {
    val dir = demoGraphDir(s, d)
    val docs = documents(s, d)
    val edges = readNearDupGraph(s, dir)
    val ranks = pageRankFrom(
      docs,
      edges,
      "doc_id",
      Some(readPageRankSnapshot(s, s"$dir/ranks")),
      iterations - iterations / 2
    ).select(col("node").as("doc_id"), col("rank_micro"))
    GraphDedup
      .clusterMap(docs, GraphDedup.connectedComponents(edges))
      .join(ranks, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).cast("long").as("cluster_size"),
        min(struct((-col("rank_micro")).as("nr"), col("doc_id").as("id"))).as("best")
      )
      .select(
        col("cluster_id"),
        col("cluster_size"),
        col("best.id").as("rep_id"),
        (-col("best.nr")).as("rep_rank_micro")
      )
      .orderBy("cluster_id")
  }

  /** Neighborhood serving gate: probes are the 5 lowest node ids
    * present in the graph — a ceiling-bounded driver read (≤ 5 ids,
    * the [[GraphDedup]] probe standard) standing in for the request
    * ids a real serving call supplies; the probe itself reads ONLY
    * the probes' bucket dirs (PartitionFilters, spec-pinned).
    */
  val graphNeighborhood: Q = (s, d) => {
    val dir = demoGraphDir(s, d)
    val probes = s.read
      .schema(edgeSchema)
      .parquet(s"$dir/edges")
      .select(col("src"))
      .distinct()
      .orderBy("src")
      .limit(5)
      .collect()
      .map(_.getLong(0))
      .toSeq
    neighborhoodFromGraph(s, dir, probes).orderBy("node", "neighbor")
  }

  /** Fixture seed set: every 25th doc — the "audited sample". */
  private val seedEvery = 25L

  val centralityTrustrank: Q = (s, d) => {
    // one pinned (doc_id, text) projection feeds the LSH pass's two
    // corpus scans and the node/seed projection (§2.4/§6)
    val docs = documents(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
    try {
      trustRank(docs, confirmedEdges(docs), "doc_id", col("doc_id") % seedEvery === 0)
        .select(
          col("node").as("doc_id"),
          col("is_seed").cast("long").as("is_seed"),
          col("rank_micro").as("trust_micro")
        )
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(docs)
  }

  /** Confirmed near-dup edges at the clustering family's threshold —
    * shared with dedup_clusters so centrality ranks the SAME graph
    * the cluster map labels.
    */
  private def confirmedEdges(docs: DataFrame): DataFrame =
    Dedup
      .lshCandidatesWithJaccard(docs, "doc_id", "text")
      .filter(Dedup.jaccardAtLeast(0.5))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))

  val centralityPagerank: Q = (s, d) => {
    // same shared-scan pin as centrality_trustrank (§2.4/§6)
    val docs = documents(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
    try {
      pageRank(docs, confirmedEdges(docs), "doc_id")
        .select(col("node").as("doc_id"), col("deg"), col("rank_micro"))
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(docs)
  }

  /** Per-cluster representative by CENTRALITY: the highest-PageRank
    * member, ties to the lowest id. Single partial-aggregated
    * `min(struct(-rank, id))` per cluster (the [[GraphDedup.qualityReps]]
    * shape) — no window over members, so a mega-cluster is a skewed
    * aggregate for AQE, never a single-partition sort. The edge
    * relation feeds both the rank loop and the cluster map, so it is
    * eagerly pinned once.
    */
  val centralityReps: Q = (s, d) => {
    // shared-scan pin: the LSH pass (2 corpus scans), the rank loop's
    // node projection and the cluster-map label join all read it
    val docs = documents(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
    val edges = confirmedEdges(docs).localCheckpoint(true)
    try {
      val ranks = pageRank(docs, edges, "doc_id")
        .select(col("node").as("doc_id"), col("rank_micro"))
      GraphDedup
        .clusterMap(docs, GraphDedup.connectedComponents(edges))
        .join(ranks, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).cast("long").as("cluster_size"),
          min(struct((-col("rank_micro")).as("nr"), col("doc_id").as("id"))).as("best")
        )
        .select(
          col("cluster_id"),
          col("cluster_size"),
          col("best.id").as("rep_id"),
          (-col("best.nr")).as("rep_rank_micro")
        )
        .orderBy("cluster_id")
        .localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(docs, edges)
  }

  /** Degree histogram of the near-dup graph (self-loops excluded —
    * this is the how-duplicated-is-the-corpus datasheet): degree 0 =
    * unique docs, 1-2 = pairs/small chains, 3+ = boilerplate cores.
    * Degrees come from one aggregate over the output-sized edge
    * relation; docs absent from it are the degree-0 bucket, counted
    * by difference from one corpus count — no corpus-sized join.
    */
  val graphDegreeHist: Q = (s, d) => {
    val docs = documents(s, d)
    val edges = confirmedEdges(docs).localCheckpoint(true)
    try {
      val deg = edges
        .select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .groupBy("node")
        .agg(count(lit(1)).as("deg"))
      val bucketed = deg
        .withColumn("deg_bucket", when(col("deg") >= 3, lit(3L)).otherwise(col("deg").cast("long")))
        .groupBy("deg_bucket")
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val nDocs = docs.count()
      val withEdges = bucketed.agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0)
      import s.implicits._
      val zero = Seq((0L, nDocs - withEdges)).toDF("deg_bucket", "n_docs")
      bucketed.unionByName(zero).orderBy("deg_bucket").localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(edges)
  }

  /** TRIANGLE count via DEGREE-RANKED orientation (the Latapy /
    * compact-forward scheme): every edge points from lower (degree,
    * id) rank to higher, wedges form among each node's OUT-neighbors
    * only, and a membership join closes them. The count is identical
    * to any other total-order orientation — so the oracle keeps the
    * simple id-ordered SQL — but the WORK is not: with id ordering a
    * boilerplate hub of degree d sitting at a low id builds O(d²)
    * wedges; degree ordering caps every node's out-degree at O(√m),
    * bounding the wedge relation at O(m^1.5) however skewed the
    * graph. That asymmetry IS the 100 TB story here: triangle
    * counting survives a mega-hub only if the hub ends up on the
    * receiving side of its edges. The density signal separates
    * chain-shaped near-dup clusters (re-crawl sequences,
    * triangle-free) from clique-shaped boilerplate cores.
    */
  def triangleCount(edges: DataFrame): Long = {
    val deg = edges
      .select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    // rank = (deg, id): attach both endpoints' degrees, orient toward
    // the higher rank. deg is edge-derived (output-sized), broadcast
    // when small; at scale it's a hash join on the edge relation.
    val withDeg = edges
      .join(deg.select(col("node").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("ddst")), "dst")
    val oriented = withDeg
      .select(
        when(
          col("dsrc") < col("ddst") ||
            (col("dsrc") === col("ddst") && col("src") < col("dst")),
          struct(col("src").as("u"), col("dst").as("v"))
        ).otherwise(struct(col("dst").as("u"), col("src").as("v"))).as("e")
      )
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val w1 = oriented.select(col("u"), col("v").as("x"))
    val w2 = oriented.select(col("u").as("u2"), col("v").as("y"))
    // wedges among out-neighbors, deduped by x < y; closed by an
    // oriented edge in either rank direction between x and y
    val wedges = w1
      .join(w2, col("u") === col("u2") && col("x") < col("y"))
      .select(col("x"), col("y"))
    val closing = oriented
      .select(least(col("u"), col("v")).as("x2"), greatest(col("u"), col("v")).as("y2"))
    wedges
      .join(closing, col("x") === col("x2") && col("y") === col("y2"), "left_semi")
      .count()
  }

  val graphTriangles: Q = (s, d) => {
    import s.implicits._
    val docs = documents(s, d)
    val edges = confirmedEdges(docs).localCheckpoint(true)
    try {
      val n = triangleCount(edges)
      val nEdges = edges.count()
      Seq((nEdges, n)).toDF("n_edges", "n_triangles").localCheckpoint(true)
    } finally GraphDedup.releaseCheckpoints(edges)
  }

  // ---- DuckDB oracles ------------------------------------------------

  /** K unrolled rank CTEs over the shared cluster-chain edge SQL
    * (recursion-free: fixed iteration count on both engines). Expects
    * `und` (undirected confirmed edges) in scope from
    * [[GraphDedup.clusterChainSql]].
    */
  /** The self-loop graph + degree CTEs (gu/gdeg/pg), shared by both
    * rank chains. Expects `und` in scope from
    * [[GraphDedup.clusterChainSql]].
    */
  private val graphSql: String =
    """gu AS (
      |  SELECT src, dst FROM und
      |  UNION ALL SELECT doc_id, doc_id FROM documents),
      |gdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM gu GROUP BY src),
      |pg AS (SELECT g.src, g.dst, d.deg FROM gu g JOIN gdeg d ON d.src = g.src)""".stripMargin

  private def rankChainSql(k: Int): String = {
    val steps = (1 to k)
      .map { i =>
        s"""r$i AS (
           |  SELECT g.dst AS node,
           |    CAST(150000 + (17 * sum(r.rank_micro // g.deg)) // 20 AS BIGINT) AS rank_micro
           |  FROM r${i - 1} r JOIN pg g ON g.src = r.node GROUP BY g.dst)""".stripMargin
      }
      .mkString(",\n")
    s"""$graphSql,
       |r0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS rank_micro FROM documents),
       |$steps""".stripMargin
  }

  /** Seeded chain: restart mass on the seeds only, per-step
    * rank = (3·restart) div 20 + (17·Σcontrib) div 20.
    */
  private def trustChainSql(k: Int): String = {
    val steps = (1 to k)
      .map { i =>
        s"""tr$i AS (
           |  SELECT w.node,
           |    CAST((3 * t.restart_micro) // 20 + w.walk_micro AS BIGINT) AS rank_micro
           |  FROM (
           |    SELECT g.dst AS node,
           |      CAST((17 * sum(r.rank_micro // g.deg)) // 20 AS BIGINT) AS walk_micro
           |    FROM tr${i - 1} r JOIN pg g ON g.src = r.node GROUP BY g.dst) w
           |  JOIN trseed t ON t.node = w.node)""".stripMargin
      }
      .mkString(",\n")
    s"""$graphSql,
       |ts0 AS (
       |  SELECT doc_id AS node,
       |    CASE WHEN doc_id % $seedEvery = 0 THEN 1 ELSE 0 END AS is_seed
       |  FROM documents),
       |tsc AS (SELECT count(*) AS n, sum(is_seed) AS s FROM ts0),
       |trseed AS (
       |  SELECT node, is_seed,
       |    CASE WHEN is_seed = 1
       |      THEN ((SELECT n FROM tsc) * 1000000) // (SELECT s FROM tsc)
       |      ELSE 0 END AS restart_micro
       |  FROM ts0),
       |tr0 AS (SELECT node, CAST(restart_micro AS BIGINT) AS rank_micro FROM trseed),
       |$steps""".stripMargin
  }

  /** Shared by centrality_pagerank (monolithic 6-iteration job) and
    * centrality_from_graph (persisted graph + snapshot resume) — the
    * equality IS the serving gate.
    */
  private lazy val oraclePagerank: String =
    s"""${GraphDedup.clusterChainSql},
       |${rankChainSql(iterations)}
       |SELECT r.node AS doc_id, d.deg, r.rank_micro
       |FROM r$iterations r JOIN gdeg d ON d.src = r.node
       |ORDER BY doc_id""".stripMargin

  /** Shared by centrality_reps (LSH-pass route) and
    * centrality_reps_graph (persisted-graph + snapshot serving).
    */
  private lazy val oracleReps: String =
    s"""${GraphDedup.clusterChainSql},
       |${rankChainSql(iterations)},
       |mem AS (
       |  SELECT l.cluster_id, l.doc_id, r.rank_micro,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY r.rank_micro DESC, l.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY l.cluster_id) AS csz
       |  FROM lab l JOIN r$iterations r ON r.node = l.doc_id)
       |SELECT cluster_id, CAST(csz AS BIGINT) AS cluster_size,
       |  doc_id AS rep_id, rank_micro AS rep_rank_micro
       |FROM mem WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Shared by centrality_trustrank and centrality_trustrank_graph. */
  private lazy val oracleTrustrank: String =
    s"""${GraphDedup.clusterChainSql},
       |${trustChainSql(iterations)}
       |SELECT t.node AS doc_id, CAST(t.is_seed AS BIGINT) AS is_seed,
       |  r.rank_micro AS trust_micro
       |FROM tr$iterations r JOIN trseed t ON t.node = r.node
       |ORDER BY doc_id""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("centrality_pagerank", centralityPagerank, oraclePagerank),
    Query("centrality_from_graph", centralityFromGraph, oraclePagerank, build = Some(FirstRun)),
    Query("graph_neighborhood", graphNeighborhood,
      s"""${GraphDedup.clusterChainSql},
         |pn AS (SELECT src AS node FROM und GROUP BY src ORDER BY src LIMIT 5)
         |SELECT u.src AS node, u.dst AS neighbor
         |FROM und u JOIN pn ON pn.node = u.src
         |ORDER BY node, neighbor""".stripMargin, build = Some(FirstRun)),
    Query("centrality_reps", centralityReps, oracleReps),
    // reps served wholly from the persisted graph + snapshot must
    // equal the LSH-pass route — the shared oracle is the gate
    Query("centrality_reps_graph", repsFromGraph, oracleReps, build = Some(FirstRun)),
    Query("centrality_trustrank", centralityTrustrank, oracleTrustrank),
    // the seeded walk over persisted edges must be bit-identical
    Query("centrality_trustrank_graph", trustrankFromGraph, oracleTrustrank, build = Some(FirstRun)),
    Query("graph_degree_hist", graphDegreeHist,
      s"""${GraphDedup.clusterChainSql},
         |dg AS (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges),
         |dgc AS (SELECT node, count(*) AS deg FROM dg GROUP BY node),
         |bh AS (
         |  SELECT CAST(CASE WHEN deg >= 3 THEN 3 ELSE deg END AS BIGINT) AS deg_bucket,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM dgc GROUP BY 1),
         |z AS (
         |  SELECT CAST(0 AS BIGINT) AS deg_bucket,
         |    CAST((SELECT count(*) FROM documents) - (SELECT count(*) FROM dgc) AS BIGINT) AS n_docs)
         |SELECT deg_bucket, n_docs FROM bh
         |UNION ALL SELECT deg_bucket, n_docs FROM z
         |ORDER BY deg_bucket""".stripMargin),
    Query("graph_triangles", graphTriangles,
      s"""${GraphDedup.clusterChainSql},
         |t1 AS (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst),
         |tr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n
         |  FROM t1 JOIN edges e3 ON e3.src = t1.a AND e3.dst = t1.c)
         |SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
         |  (SELECT n FROM tr) AS n_triangles""".stripMargin)
  )
}
