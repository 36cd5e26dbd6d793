package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}
import graft.Query.EveryRun

/** Cluster-level dedup: connected components over the near-duplicate
  * pair graph.
  *
  * Pair lists (dedup_minhash_lsh & co.) are evidence; what a corpus
  * pipeline actually consumes is a CLUSTER id per document — "these 7
  * docs are one piece of content, keep one" (the reference's analogous
  * grouping step is the FK-group union-find of
  * post_load_optimization/convert_datatypes.sql:148-196, which walks
  * its edge graph on the driver because FK graphs are metadata-sized;
  * a 100 TB near-dup graph is NOT, so the walk must be distributed).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) —
  * converges to per-component stars rooted at the component minimum in
  * O(log n) rounds, each round two shuffles on node id. Both steps are
  * join + aggregate only: no `collect_list` of neighborhoods (a hub
  * node's neighbor list is the classic OOM), no driver-side graph, no
  * assumption about component diameter (plain min-label propagation
  * needs O(diameter) rounds — a chain of pairwise near-dups, e.g.
  * successive crawl snapshots, defeats it).
  */
object GraphDedup {
  import Fixtures._

  /** Connected components of an undirected graph given as (src, dst)
    * edge rows (any orderable id type). Returns (node, cluster_id)
    * where cluster_id is the component's minimum node id; singleton
    * nodes (no edges) simply don't appear — callers left-join and
    * coalesce to the node's own id.
    *
    * Each round materializes the shrunken edge set with an EAGER
    * `localCheckpoint`: iterative plans otherwise nest one join tree
    * per round and re-execute the whole history each action (on a
    * cluster you'd use a reliable `checkpoint` to survive executor
    * loss; the lineage-truncation point is the same). Convergence is
    * detected by the edge set's (count, order-insensitive hash-sum)
    * signature going stable — one tiny aggregate per round over an
    * output-sized relation, not a driver collect of the edges.
    */
  /** Release the executor cache behind an eager `localCheckpoint` once
    * every consumer has materialized. A localCheckpoint truncates
    * lineage, so this must only run on DEAD frames — recomputation is
    * impossible afterwards. Without explicit release, per-cycle
    * checkpoints on a long-running stream wait for the async
    * ContextCleaner and accumulate between GCs. Shared with
    * [[Pipeline.pipelineFull]], whose stage frames have the same
    * lifecycle (pin → consume once → dead).
    */
  private[graft] def releaseCheckpoints(dfs: DataFrame*): Unit = dfs.foreach { df =>
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _                                             => ()
    }
  }

  def connectedComponents(
      edges: DataFrame,
      maxIter: Int = 25,
      maxDriverEdges: Long = defaultMaxDriverRootEdges
  ): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("src"), col("dst")).as("lo"), greatest(col("src"), col("dst")).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()

    // order-insensitive and overflow-free under ANSI mode (a SUM of
    // 64-bit hashes overflows; XOR cannot) — safe because the edge set
    // is distinct, so there are no even-multiplicity cancellations
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(lo, hi))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    val e0 = canon(edges).localCheckpoint(true)
    // Bounded driver fast path (§1.2 — one limit-fused collect instead
    // of O(log n) rounds × 4 shuffles + a signature job + a checkpoint
    // job each): near-dup pair graphs are OUTPUT-sized, so at fixture
    // scale — and for any daily increment — the whole canonical edge
    // set fits the same 2²⁰-edge / ~16 MB driver ceiling the
    // incremental path's root-graph solve already uses
    // ([[solveRootGraph]], the reference's own FK-graph move). Same
    // union-by-min arithmetic, same postcondition (min reachable id =
    // cluster_id; GraphDedupSpec pins the paths equal); a corpus whose
    // PAIR graph outgrows the ceiling takes the distributed
    // large-star/small-star loop below, unchanged.
    if (maxDriverEdges > 0L &&
        e0.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)) {
      val probed = e0.limit(probeLimit(maxDriverEdges)).collect()
      if (probed.length <= maxDriverEdges) {
        releaseCheckpoints(e0)
        return driverUnionFind(
          probed.map(r => (r.getLong(0), r.getLong(1))),
          edges.sparkSession
        )
      }
    }

    var e = e0
    var sig = signature(e)
    var stable = false
    var iter = 0
    while (!stable && iter < maxIter) {
      // large-star: every node u links its LARGER neighbors to the
      // minimum of its closed neighborhood — long chains contract
      // toward small ids without ever growing a node's degree beyond
      // what small-star can absorb.
      val nbr = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val minN = nbr.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = canon(
        nbr.filter(col("v") > col("u"))
          .join(minN, "u")
          .select(col("v").as("src"), col("m").as("dst"))
      )
      // small-star: on the downward-oriented result, every node links
      // its smaller neighbors (and itself) to their common minimum —
      // this is the step that actually flattens into stars.
      val down = large.select(col("hi").as("u"), col("lo").as("v"))
      val minD = down.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = canon(
        down.join(minD, "u")
          .select(col("v").as("src"), col("m").as("dst"))
          .union(minD.select(col("u").as("src"), col("m").as("dst")))
      ).localCheckpoint(true)
      val nextSig = signature(small)
      stable = nextSig == sig
      sig = nextSig
      // the superseded round's checkpoint is dead once the new one is
      // materialized — O(log n) rounds must not stack O(log n) caches
      releaseCheckpoints(e)
      e = small
      iter += 1
    }
    // an unconverged edge set is NOT a star map — serving it would hand
    // downstream consumers a node with multiple cluster_ids undetected
    require(
      stable || sig._1 == 0L,
      s"connected components did not converge in $maxIter rounds (edge signature still moving)"
    )
    // converged: the edge set IS the component map (hi = member,
    // lo = component-minimum root; roots appear only on the lo side)
    e.select(col("hi").as("node"), col("lo").as("cluster_id"))
      .union(e.select(col("lo"), col("lo")).distinct())
  }

  /** The root-contraction merge core shared by [[incrementalComponents]]
    * and [[maintainClusterMap]]: the CHANGE SET a batch of new edges
    * induces on an existing component map.
    *
    * Each new edge is contracted to an edge between its endpoints'
    * CURRENT ROOTS (a previously-unseen node is its own root) — valid
    * because a path through members corresponds exactly to a path
    * through their roots. Connected components then run over the
    * root graph ONLY, which is increment-sized BY NODE COUNT (touched
    * roots + new nodes), so the O(log n) iterative rounds shuffle
    * nothing corpus-scale; cluster members never ride the rounds and
    * relabel afterwards through ONE broadcast join against the map.
    * Clusters that keep their root (the absorbing side of a merge)
    * produce NO change rows at all — their map rows are reusable
    * byte-for-byte.
    *
    * Returns (node, cluster_id) rows to upsert: every member of a
    * cluster whose root moved, plus every new node. Equality with
    * full CC over (old ∪ new) is pinned by GraphDedupSpec (random
    * split invariance, merge/extend/pass-through cases).
    *
    * @param prevLookup  (node, cluster_id) view of the existing map
    * @param endpointRoots (node, cluster_id) for the increment's
    *        endpoints that exist in the map (callers with a
    *        partitioned layout compute this bucket-pruned)
    */
  /** Default ceiling for solving a ROOT graph on the driver: 2²⁰ edges
    * ≈ 16 MB of longs — metadata-scale by the same standard as the
    * partition planner's driver-side bin packing. A micro-batch or
    * daily increment's root graph sits far below it; anything above
    * runs the distributed large-star/small-star path.
    */
  val defaultMaxDriverRootEdges: Long = 1L << 20

  /** Solve the (increment-sized) root graph: a bounded driver-side
    * union-find when the edge set is metadata-scale with integral ids
    * — the reference's own FK-graph move
    * (convert_datatypes.sql:148-196), applied where it is actually
    * safe — else the distributed [[connectedComponents]]. Union always
    * attaches the larger root under the smaller, so the final root is
    * the component minimum, exactly [[connectedComponents]]'s
    * postcondition (GraphDedupSpec pins both paths equal).
    */
  private def solveRootGraph(rootEdges: DataFrame, maxDriverEdges: Long): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val s = rootEdges.sparkSession
    val longIds = rootEdges.schema.fields.forall(_.dataType == LongType)
    if (!longIds || maxDriverEdges <= 0L) return connectedComponents(rootEdges)
    // duplicates and orientation don't matter to union-find, so no
    // distinct: the materialization is map-side only. The size probe
    // is fused into the collect (limit bound+1): one job decides AND
    // fetches — an oversized increment falls back before the driver
    // holds more than the ceiling
    val e = rootEdges.filter(col("src") =!= col("dst")).localCheckpoint(true)
    val probed = e.limit(probeLimit(maxDriverEdges)).collect()
    if (probed.length > maxDriverEdges) {
      // the distributed solve eagerly re-checkpoints its canonical
      // form up front, so e is dead as soon as the call returns
      val out = connectedComponents(e)
      releaseCheckpoints(e)
      out
    } else {
      releaseCheckpoints(e) // fully consumed by the probe collect
      driverUnionFind(probed.map(r => (r.getLong(0), r.getLong(1))), s)
    }
  }

  /** The size-probe `limit` for a driver edge ceiling: one edge past
    * it, clamped BEFORE the +1 — `Long.MaxValue + 1` wraps negative and
    * `limit(0)` would collect nothing, passing the empty probe off as
    * the graph.
    */
  private def probeLimit(maxDriverEdges: Long): Int = (math.min(maxDriverEdges, Int.MaxValue - 1L) + 1).toInt

  /** Union-find over a driver-collected edge array: union always
    * attaches the larger root under the smaller, so the final root is
    * the component minimum — [[connectedComponents]]' postcondition.
    * Shared by [[solveRootGraph]] and the bounded fast path of
    * [[connectedComponents]].
    */
  private def driverUnionFind(edges: Array[(Long, Long)], s: SparkSession): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = edges.flatMap(t => Seq(t._1, t._2)).distinct.map(n => (n, find(n))).toSeq
    import s.implicits._
    rows.toDF("node", "cluster_id")
  }

  /** @param relabelMembers given the (old_root, new_root) map of roots
    *        that MOVED (root-level, increment-bounded, eagerly
    *        materialized), produce the member-level relabel rows
    *        (node, cluster_id=new_root). The in-memory path scans its
    *        prev frame; the persisted path reads only the moved roots'
    *        cluster-index buckets (partition-pruned).
    * @return (changes to upsert, the materialized changedRootMap —
    *         callers with a persisted cluster index reuse it for the
    *         index's own touched-bucket rewrite)
    */
  private def changeSet(
      relabelMembers: DataFrame => DataFrame,
      endpointRoots: DataFrame,
      newEdges: DataFrame,
      maxDriverRootEdges: Long
  ): (DataFrame, DataFrame) = {
    val srcRoots = endpointRoots.select(col("node").as("src"), col("cluster_id").as("src_root"))
    val dstRoots = endpointRoots.select(col("node").as("dst"), col("cluster_id").as("dst_root"))
    val rootEdges = newEdges
      .join(broadcast(srcRoots), Seq("src"), "left")
      .join(broadcast(dstRoots), Seq("dst"), "left")
      .select(
        coalesce(col("src_root"), col("src")).as("src"),
        coalesce(col("dst_root"), col("dst")).as("dst")
      )
    // (old root | new node) → merged root; intra-cluster edges contract
    // to self-loops and vanish, so absent = unchanged
    val newRoots = solveRootGraph(rootEdges, maxDriverRootEdges)
    val rootsOld = endpointRoots.select(col("cluster_id").as("node")).distinct()
    // root-level and consumed by several downstream actions (the
    // relabel join, and — on the persisted path — the cluster-index
    // bucket-id collect and keep-filter): one tiny eager job
    val changedRootMap = newRoots
      .filter(col("node") =!= col("cluster_id"))
      .join(broadcast(rootsOld), Seq("node"), "left_semi")
      .select(col("node").as("old_root"), col("cluster_id").as("new_root"))
      .localCheckpoint(true)
    val relabeled = relabelMembers(changedRootMap)
    val newNodeRows = newRoots
      .join(broadcast(rootsOld), Seq("node"), "left_anti")
      .select(col("node"), col("cluster_id"))
    (relabeled.union(newNodeRows), changedRootMap)
  }

  /** INCREMENTAL connected components: merge a batch of NEW edges into
    * an existing component map without re-walking the whole graph —
    * the cluster-level twin of the incremental dedup probe (a daily
    * increment's pairs must not recluster a 100 TB corpus).
    *
    * [[changeSet]] computes the rows that move (root-contraction: the
    * iterative CC sees only the root graph); everything else passes
    * through by a broadcast node-level anti-join. The result provably
    * equals full CC over (old ∪ new) edges: any cluster containing a
    * new-edge endpoint contracts into the root graph by construction,
    * so no merge can escape it (GraphDedupSpec pins the equivalence,
    * including the two-clusters-merged-by-one-edge case).
    */
  /** Components of an INCREMENT-sized edge set (a micro-batch's flag
    * pairs): the bounded driver union-find under the same ceiling as
    * root graphs, falling back to the distributed solve above it. The
    * cold-start path of a streaming cluster map — NOT for corpus-scale
    * pair graphs, which go straight to [[connectedComponents]].
    */
  def incrementComponents(
      edges: DataFrame,
      maxDriverEdges: Long = defaultMaxDriverRootEdges
  ): DataFrame =
    solveRootGraph(edges.select(col("src"), col("dst")), maxDriverEdges)

  def incrementalComponents(
      prevStars: DataFrame,
      newEdges: DataFrame,
      maxDriverRootEdges: Long = defaultMaxDriverRootEdges
  ): DataFrame = {
    val endpoints = newEdges
      .select(col("src").as("node"))
      .union(newEdges.select(col("dst").as("node")))
      .distinct()
    val endpointRoots = prevStars
      .join(endpoints, Seq("node"))
      .select(col("node"), col("cluster_id"))
    // the change set is MEMBER-level (a touched mega-cluster makes it
    // big), so the pass-through anti-join is left to AQE rather than
    // hinted broadcast — root-level relations inside changeSet are the
    // ones with a structural size bound
    val relabel = (crm: DataFrame) =>
      prevStars
        .join(broadcast(crm), prevStars("cluster_id") === col("old_root"))
        .select(prevStars("node"), col("new_root").as("cluster_id"))
    val (changes0, changedRootMap) = changeSet(relabel, endpointRoots, newEdges, maxDriverRootEdges)
    val changes = changes0.localCheckpoint(true)
    // the root map's only consumers (the relabel join inside changes0)
    // just materialized into the changes checkpoint — release it here
    // instead of leaving every micro-batch's copy to the ContextCleaner
    releaseCheckpoints(changedRootMap)
    prevStars
      .join(changes.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("cluster_id"))
      .union(changes)
  }

  /** Persisted component-map lifecycle — the cluster-level analog of
    * saveMinhashIndex: the map lives as hash(node)-PARTITIONED parquet
    * dirs (`bucket=K/`, sorted by node within each dir), because daily
    * maintenance must satisfy two asymmetries at once:
    *
    *  - READ: "which clusters do the increment's endpoints belong to"
    *    scans only the endpoint buckets (partition pruning on the
    *    `bucket` dirs — metadata-scale filter, the map never shuffles;
    *    the root-keyed joins that follow broadcast, since touched
    *    roots are increment-sized), and "which members do the moved
    *    clusters have" scans only the moved roots' dirs of the
    *    cluster-keyed SECONDARY index (`_graft_byroot/cbucket=K`,
    *    maintained touched-bucket-only alongside the primary) — no
    *    maintenance read is ever O(map);
    *  - WRITE: a maintenance cycle rewrites ONLY the bucket dirs whose
    *    contents change (the Compaction staged-swap, per dir) and
    *    leaves every other dir byte-untouched — the reference's MERGE
    *    state discipline (s3_to_exasol.sql:236-244: update what
    *    changed, never rewrite the world). A managed bucketed table
    *    cannot do this: saveAsTable-overwrite is all-or-nothing, which
    *    made each micro-batch's maintenance O(corpus clusters) I/O.
    *
    * Each rewritten dir is one file (repartition by bucket), so the
    * layout never accretes small files and needs no separate
    * compaction pass. At corpus scale pick nBuckets so a bucket is a
    * few hundred MB; changing nBuckets requires a full rewrite
    * ([[saveClusterMap]] again).
    */
  private def bucketExpr(nBuckets: Int) =
    pmod(xxhash64(col("node")), lit(nBuckets.toLong)).cast("int").as("bucket")

  /** Cluster-keyed SECONDARY index bucket: hash of the cluster_id, so
    * "members of these moved clusters" is a partition-pruned read of
    * the moved roots' `cbucket` dirs instead of a full scan of the
    * node-keyed primary (the O(map)-per-cycle relabel cost the
    * streaming clustering loop used to pay). A degenerate mega-cluster
    * concentrates its members in one cbucket dir — but those are
    * exactly the rows the relabel must read anyway, so pruning still
    * strictly wins.
    */
  private[ops] def cbucketExpr(nBuckets: Int, c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(nBuckets.toLong)).cast("int")

  /** The secondary index lives INSIDE the map dir under an
    * underscore-prefixed name, which Spark's file listing hides — so
    * `spark.read.parquet(dir)` serves the primary exactly as before.
    */
  private val byrootName = "_graft_byroot"
  private def byrootDir(dir: String) = s"$dir/$byrootName"

  // ---- on-disk layout + crash-recovery metadata --------------------
  // The map's bucket count is LOAD-BEARING: probing with a different
  // nBuckets than the one the dirs were hashed with silently misses
  // existing nodes and corrupts the map with conflicting rows. So the
  // count is persisted next to the data (underscore-prefixed files are
  // invisible to the parquet reader) and the maintenance cycle commits
  // its per-dir swap through a manifest so a crash mid-swap ROLLS
  // FORWARD instead of losing bucket dirs.
  private val layoutFile = "_graft_layout"
  private val manifestFile = "_graft_swap_manifest"

  private def fsFor(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def writeTextFile(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8"))
    finally out.close()
  }

  private def readTextFile(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def persistedBuckets(fs: org.apache.hadoop.fs.FileSystem, dir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir, layoutFile)
    if (fs.exists(p)) Some(readTextFile(fs, p).trim.stripPrefix("nBuckets=").toInt) else None
  }

  /** Manifest tokens: bare ints are PRIMARY bucket dirs (`bucket=N`,
    * the round-8 format — old manifests recover unchanged); `s:N` are
    * secondary cluster-index dirs (`_graft_byroot/cbucket=N`). Each
    * token maps to a (staged, live) dir pair for the roll-forward.
    */
  private def manifestSwapPairs(dir: String, manifest: String): Seq[(String, String)] =
    manifest.trim.split(",").filter(_.nonEmpty).toSeq.map { t =>
      if (t.startsWith("s:")) {
        val b = t.stripPrefix("s:").toInt
        (s"${dir}__maintain/$byrootName/cbucket=$b", s"${byrootDir(dir)}/cbucket=$b")
      } else (s"${dir}__maintain/bucket=${t.toInt}", s"$dir/bucket=${t.toInt}")
    }

  /** Roll forward a maintenance swap the process died inside of. The
    * commit protocol (see [[maintainClusterMap]]) deletes no live dir
    * before the manifest is durable and keeps every staged dir until
    * its rename — so whatever the crash point, each manifest entry is
    * in exactly one of three states, all recoverable: staged present
    * (rename it in, deleting any stale live copy first), staged absent
    * (its swap already completed), or untouched (staged present, live
    * still old — same as the first). A staging dir WITHOUT a manifest
    * is an incomplete staged write over an intact live map: deleted.
    * One `exists` probe when the map is healthy.
    *
    * DESTRUCTIVE — reserved for the write path ([[maintainClusterMap]]
    * entry, which the single-writer maintenance discipline already
    * serializes) and explicit administrative repair. Readers must NOT
    * run this: against a LIVE writer mid-swap, a concurrent recovery
    * re-executes the delete/rename pairs and can destroy a bucket the
    * writer just committed (reader deletes the new live dir, then its
    * rename fails because the writer already moved the staged dir).
    * [[readClusterMap]] instead resolves the committed generation
    * non-destructively.
    */
  def recoverClusterMap(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fsFor(spark, dir)
    val man = new Path(dir, manifestFile)
    val staged = new Path(dir + "__maintain")
    if (fs.exists(man)) {
      manifestSwapPairs(dir, readTextFile(fs, man)).foreach { case (stagedDir, liveDir) =>
        val st = new Path(stagedDir)
        if (fs.exists(st)) {
          val live = new Path(liveDir)
          fs.delete(live, true)
          fs.mkdirs(live.getParent)
          if (!fs.rename(st, live))
            throw new java.io.IOException(s"cluster-map recovery failed: $st -> $live")
        }
      }
      if (fs.exists(staged)) fs.delete(staged, true)
      fs.delete(man, false)
    }
  }

  def saveClusterMap(cc: DataFrame, dir: String, nBuckets: Int = 32): Unit = {
    // overwrite mode pinned STATIC per-write: under a session-level
    // spark.sql.sources.partitionOverwriteMode=dynamic, re-saving a
    // smaller map would only replace the bucket dirs the new map
    // writes, leaving stale bucket (and stale _graft_byroot cbucket)
    // dirs behind — a silently diverged primary/secondary pair that
    // corrupts every later pruned relabel
    cc.select(col("node"), col("cluster_id"), bucketExpr(nBuckets))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("node"))
      .write
      .option("partitionOverwriteMode", "static")
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(dir)
    // cluster-keyed secondary index: the same rows keyed the other way,
    // so maintenance reads "members of these moved clusters" pruned.
    // Written after the primary (the overwrite above clears the dir):
    // a crash between the two leaves a map WITHOUT the index, which
    // maintenance detects and serves with the legacy full-scan relabel.
    cc.select(col("cluster_id"), col("node"))
      .withColumn("cbucket", cbucketExpr(nBuckets, col("cluster_id")))
      .repartition(col("cbucket"))
      .sortWithinPartitions(col("cluster_id"), col("node"))
      .write
      .option("partitionOverwriteMode", "static")
      .mode("overwrite")
      .partitionBy("cbucket")
      .parquet(byrootDir(dir))
    val fs = fsFor(cc.sparkSession, dir)
    writeTextFile(fs, new org.apache.hadoop.fs.Path(dir, layoutFile), s"nBuckets=$nBuckets\n")
  }

  /** The served map (node, cluster_id). Filters on `bucket` prune to
    * partition dirs (SimilarityIvf-style PartitionFilters proof in
    * GraphDedupSpec).
    *
    * When a swap manifest is present (maintenance in flight, or a
    * crash nobody recovered yet), the reader resolves the COMMITTED
    * new generation NON-destructively: for each manifest bucket it
    * prefers the staged dir when that still exists (not yet renamed
    * in) and the live dir otherwise (that swap already completed).
    * The commit protocol makes exactly one of the two present-and-
    * complete for every entry, so the overlay is the post-recovery
    * map without touching disk — a reader can never destroy a bucket
    * a live writer just committed (the round-8 destructive-recovery
    * hazard). Actual roll-forward stays with the write path
    * ([[recoverClusterMap]] at [[maintainClusterMap]] entry). The
    * overlay resolves PRIMARY buckets only (`/bucket=` entries) by
    * design: readers serve the primary; the secondary index's `s:`
    * manifest entries are resolved exclusively by the writer's
    * recovery at maintenance entry.
    */
  def readClusterMap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = fsFor(spark, dir)
    val man = new Path(dir, manifestFile)
    if (!fs.exists(man)) return spark.read.parquet(dir)
    val stagedOverlay = manifestSwapPairs(dir, readTextFile(fs, man)).collect {
      case (stagedDir, liveDir) if liveDir.contains("/bucket=") =>
        liveDir.split("/bucket=").last.toInt -> stagedDir
    }.toMap
    val liveBuckets = fs
      .listStatus(new Path(dir))
      .map(_.getPath.getName)
      .filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt)
      .toSet
    val parts = (liveBuckets ++ stagedOverlay.keySet).toSeq.sorted.map { b =>
      val staged = stagedOverlay.get(b).filter(p => fs.exists(new Path(p)))
      // staged vanished (or the bucket is brand-new and absent from
      // the live listing snapshot): the writer completed that swap
      // between our listing and now — re-probe the LIVE dir directly
      // instead of trusting the stale snapshot. If neither source
      // exists for a manifest bucket, fail LOUDLY: silently dropping
      // it would serve a map missing a committed bucket.
      val src = staged.orElse {
        val livePath = s"$dir/bucket=$b"
        if (liveBuckets(b) || fs.exists(new Path(livePath))) Some(livePath) else None
      }
      val p = src.getOrElse(
        throw new IllegalStateException(
          s"cluster map at $dir: the swap manifest names bucket=$b but neither its staged nor its " +
            "live dir exists — a maintenance writer is racing this read; retry, or run " +
            "recoverClusterMap if no writer is live"
        )
      )
      spark.read.parquet(p).withColumn("bucket", lit(b))
    }
    require(parts.nonEmpty, s"cluster map at $dir has a manifest but no bucket dirs")
    parts.reduce(_.unionByName(_))
  }

  def clusterMapExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** One maintenance cycle: merge a batch of new edges into the
    * persisted map, rewriting ONLY the touched bucket dirs.
    *
    * Work per cycle: the touched-cluster merge of
    * [[incrementalComponents]] (increment-sized compute), plus I/O
    * proportional to the TOUCHED buckets — the buckets of nodes whose
    * cluster_id might change (members of touched clusters) or that are
    * new. Untouched dirs are never read for the rewrite and never
    * written (GraphDedupSpec pins them byte-identical across a cycle).
    *
    * Swap discipline: the merged touched-bucket rows are materialized
    * (eager localCheckpoint) BEFORE any dir is replaced — the rewrite
    * reads the same dirs it replaces — then staged to `dir__maintain`
    * and swapped per-dir through the FileSystem. The swap is committed
    * through a manifest (`_graft_swap_manifest`, written after the
    * staged write succeeds and before the first live dir is touched):
    * a crash at ANY point either leaves the live map untouched (no
    * manifest yet — the cycle re-runs) or rolls FORWARD to the new
    * generation via [[recoverClusterMap]] (manifest present — staged
    * dirs are renamed in, completed swaps detected by their absence).
    * A concurrent reader during the per-dir swap window sees the same
    * INSERT OVERWRITE contract as compaction; run under the lake's
    * usual maintenance coordination.
    */
  def maintainClusterMap(
      spark: SparkSession,
      dir: String,
      newEdges: DataFrame,
      nBuckets: Int = 32,
      maxDriverRootEdges: Long = defaultMaxDriverRootEdges
  ): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fsFor(spark, dir)
    // roll forward any crashed swap, then clear manifest-less staging
    // garbage (an incomplete staged write over an intact live map)
    recoverClusterMap(spark, dir)
    val stalestage = new Path(dir + "__maintain")
    if (fs.exists(stalestage)) fs.delete(stalestage, true)
    // the persisted layout wins over the caller's parameter — probing
    // with the wrong bucket count would MISS existing nodes and write
    // conflicting rows. Legacy maps without the layout file are
    // verified EMPIRICALLY: the dir-name bound alone only rejects a
    // caller count that is too SMALL (a map saved with 8 buckets and a
    // caller passing 16 has every dir name < 16 — and probes with the
    // wrong modulus, silently missing every node), so sampled rows
    // must also hash back to their own on-disk bucket. A verified
    // legacy map gets the layout file written (healed) so later cycles
    // skip the probe.
    val nb = persistedBuckets(fs, dir).getOrElse {
      val onDisk = fs
        .listStatus(new Path(dir))
        .map(_.getPath.getName)
        .filter(_.startsWith("bucket="))
        .map(_.stripPrefix("bucket=").toInt)
      require(
        onDisk.isEmpty || onDisk.max < nBuckets,
        s"cluster map at $dir has bucket=${onDisk.max} on disk but nBuckets=$nBuckets was passed — " +
          "the layout the map was saved with differs from the caller's; rebucket with saveClusterMap"
      )
      if (onDisk.nonEmpty) {
        // sample EVERY on-disk bucket dir, not one global limit — a
        // global limit(N) is typically satisfied from a single file,
        // leaving all other dirs unverified (a map whose first dir
        // happens to agree would heal a wrong layout). Per-dir reads
        // are bounded: nBuckets dirs x 8 rows of one column.
        val mismatched = onDisk.toSeq.sorted
          .map { b =>
            spark.read
              .parquet(s"$dir/bucket=$b")
              .select(col("node"))
              .limit(8)
              .withColumn("bucket", lit(b))
          }
          .reduce(_.unionByName(_))
          .filter(cbucketExpr(nBuckets, col("node")) =!= col("bucket"))
          .limit(1)
          .count()
        require(
          mismatched == 0L,
          s"cluster map at $dir (no layout file) was NOT hashed with nBuckets=$nBuckets — sampled rows " +
            "land in a different bucket under that modulus; rebucket with saveClusterMap"
        )
        writeTextFile(fs, new Path(dir, layoutFile), s"nBuckets=$nBuckets\n")
      }
      nBuckets
    }
    val prev = spark.read.parquet(dir) // (node, cluster_id, bucket)
    // endpoint ids must hash IDENTICALLY to the map's node column —
    // an INT id arriving against a BIGINT map changes xxhash64 and
    // every bucket/probe below it. Cast up front; ANSI overflow on a
    // narrowing cast fails loudly rather than mis-bucketing.
    val nodeType = prev.schema("node").dataType
    val edgesTyped = newEdges.select(col("src").cast(nodeType).as("src"), col("dst").cast(nodeType).as("dst"))
    // endpoints are increment-sized: ONE materialization serves the
    // bucket-id collect and the pruned probe join
    val endpoints = edgesTyped
      .select(col("src").as("node"))
      .union(edgesTyped.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    // endpoint→root lookup reads ONLY the endpoint buckets (partition
    // pruning); the bucket-id list is metadata-scale
    val epBuckets = endpoints
      .select(bucketExpr(nb))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
    val endpointRoots = prev
      .filter(col("bucket").isin(epBuckets: _*))
      .join(broadcast(endpoints), Seq("node"))
      .select(col("node"), col("cluster_id"))
      .localCheckpoint(true)
    // member relabel: with the cluster-keyed secondary index present,
    // "members of these moved clusters" reads ONLY the moved roots'
    // cbucket dirs (partition-pruned — the round-8 layout paid a full
    // map scan here every cycle); a legacy map without the index falls
    // back to that full scan and keeps working (rebuild the index with
    // saveClusterMap to upgrade).
    val hasIndex = fs.exists(new Path(byrootDir(dir)))
    val relabel: DataFrame => DataFrame =
      if (hasIndex) crm => movedClusterMembers(spark, dir, nb, crm)
      else
        crm =>
          prev
            .join(broadcast(crm), prev("cluster_id") === col("old_root"))
            .select(prev("node"), col("new_root").as("cluster_id"))
    // the rows that change: members of clusters whose root moved + new
    // nodes (the root-contraction core — the iterative CC only ever
    // sees the root graph)
    val (changes0, movedRoots) = changeSet(relabel, endpointRoots, edgesTyped, maxDriverRootEdges)
    val changes = changes0.localCheckpoint(true)
    val touchedBuckets = changes
      .select(bucketExpr(nb))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSet
    if (touchedBuckets.isEmpty) {
      releaseCheckpoints(endpoints, endpointRoots, changes, movedRoots)
      return
    }
    // same-bucket rows that stay, node-keyed: everything not upserted
    val keep = prev
      .filter(col("bucket").isin(touchedBuckets.toSeq: _*))
      .join(changes.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("cluster_id"))
    val staged = dir + "__maintain"
    // the staged write READS the live dirs it will later replace, but
    // writes somewhere else — so unlike a same-table overwrite, no
    // defensive materialization is needed before it runs; the live
    // dirs only change in the swap below, after the write completed
    keep
      .union(changes)
      .select(col("node"), col("cluster_id"), bucketExpr(nb))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("node"))
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(staged)
    // secondary-index delta, staged next to the primary's: rows keyed
    // by a MOVED old root are deleted (their cluster dissolved into
    // another), every change row is inserted under its new root.
    // Touched cbuckets = delete sources (moved old roots) ∪ insert
    // targets (the changes' cluster_ids) — increment-bounded, like the
    // primary's touched set.
    val touchedCBuckets: Seq[Int] =
      if (!hasIndex) Seq.empty
      else
        changes
          .select(cbucketExpr(nb, col("cluster_id")).as("cb"))
          .union(movedRoots.select(cbucketExpr(nb, col("old_root")).as("cb")))
          .distinct()
          .collect()
          .map(_.getInt(0))
          .toSeq
          .sorted
    if (touchedCBuckets.nonEmpty) {
      val keepC = spark.read
        .parquet(byrootDir(dir))
        .filter(col("cbucket").isin(touchedCBuckets: _*))
        .join(broadcast(movedRoots.select(col("old_root"))), col("cluster_id") === col("old_root"), "left_anti")
        .select(col("cluster_id"), col("node"))
      keepC
        .union(changes.select(col("cluster_id"), col("node")))
        .withColumn("cbucket", cbucketExpr(nb, col("cluster_id")))
        .repartition(col("cbucket"))
        .sortWithinPartitions(col("cluster_id"), col("node"))
        .write
        .mode("overwrite")
        .partitionBy("cbucket")
        .parquet(s"$staged/$byrootName")
      // a pure-delete cbucket (a moved root whose dir gains no rows)
      // produces NO staged dir — its committed new generation is
      // EMPTY. Materialize it as an empty dir so the swap (and any
      // crash recovery) installs "no rows" instead of renaming a
      // missing path / mistaking the entry for an already-completed
      // swap.
      touchedCBuckets.foreach { b =>
        val st = new Path(s"$staged/$byrootName/cbucket=$b")
        if (!fs.exists(st)) fs.mkdirs(st)
      }
    }
    // COMMIT: durable manifest first, then per-dir swaps — primary and
    // secondary entries in ONE manifest, so a crash can never commit
    // one index without the other. No live dir is deleted before the
    // manifest exists, and each staged dir survives until its own
    // rename — so [[recoverClusterMap]] can roll any crash point
    // forward (staged present = redo the swap, staged absent = that
    // swap completed). Crash BEFORE this line leaves the live map
    // untouched and the staging dir is garbage-collected at the next
    // cycle's entry; the cycle's edges must then be resubmitted (the
    // map equals its pre-cycle state).
    val manifest =
      (touchedBuckets.toSeq.sorted.map(_.toString) ++ touchedCBuckets.map("s:" + _)).mkString(",")
    writeTextFile(fs, new Path(dir, manifestFile), manifest)
    manifestSwapPairs(dir, manifest).foreach { case (stagedDir, liveDir) =>
      val stage = new Path(stagedDir)
      val live = new Path(liveDir)
      fs.delete(live, true)
      fs.mkdirs(live.getParent)
      if (!fs.rename(stage, live))
        throw new java.io.IOException(s"cluster-map swap failed: $stage -> $live")
    }
    fs.delete(new Path(staged), true)
    fs.delete(new Path(dir, manifestFile), false)
    // swap committed: every consumer of this cycle's checkpoints has
    // materialized — release them instead of waiting on the async
    // ContextCleaner (a long stream runs this once per micro-batch)
    releaseCheckpoints(endpoints, endpointRoots, changes, movedRoots)
  }

  /** Members of the moved clusters, read PRUNED from the cluster-keyed
    * secondary index: only the moved roots' `cbucket` dirs are listed
    * and scanned (PartitionFilters — plan-proof in GraphDedupSpec),
    * so a maintenance cycle's relabel read is bounded by the touched
    * clusters' buckets instead of the whole map. Package-visible for
    * that plan proof.
    */
  private[graft] def movedClusterMembers(
      spark: SparkSession,
      dir: String,
      nb: Int,
      crm: DataFrame
  ): DataFrame = {
    val rootBuckets = crm
      .select(cbucketExpr(nb, col("old_root")).as("cb"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq
    if (rootBuckets.isEmpty)
      crm.select(col("old_root").as("node"), col("new_root").as("cluster_id"))
    else
      spark.read
        .parquet(byrootDir(dir))
        .filter(col("cbucket").isin(rootBuckets: _*))
        .join(broadcast(crm), col("cluster_id") === col("old_root"))
        .select(col("node"), col("new_root").as("cluster_id"))
  }

  /** Shared tail of the cluster queries: every document labeled with
    * its component (itself when unclustered), plus size and
    * representative flag.
    */
  private[graft] def clusterMap(docs: DataFrame, cc: DataFrame): DataFrame = {
    // cluster_size via groupBy-count + join, NOT count-over-window: a
    // degenerate mega-cluster (boilerplate pages) would pile one window
    // partition onto one task at 100×, while the aggregate's partial
    // combine and the join are AQE-skew-splittable
    val labeled = docs
      .select(col("doc_id"))
      .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    // sizes come from the component map (output-sized), not from a
    // second pass over the labeled corpus; docs absent from the map
    // are singletons (their doc_id cannot collide with a real root —
    // roots are cc members, singletons are not in cc)
    val sizes = cc
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("bigint").as("cluster_size"))
    labeled
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .select(
        col("doc_id"),
        col("cluster_id"),
        col("cluster_size"),
        when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L).as("is_rep")
      )
      .orderBy("doc_id")
  }

  /** Near-dup clusters over the documents table: the MinHash-LSH
    * verified pairs at Jaccard >= 0.5 are the edges; every document
    * gets its component's min doc_id as cluster_id (itself when it has
    * no near-dups), plus the cluster size and a keep/drop-style
    * representative flag — the exact shape the composed pipeline's
    * "keep one per cluster" stage consumes. Edges are output-sized
    * (near-dup pairs), so the CC rounds shuffle KBs even when the
    * corpus is TBs; the only corpus-scale work is the LSH pass that
    * produced the pairs.
    */
  val dedupClusters: Q = (s, d) => {
    // one pinned (doc_id, text) projection feeds the LSH pass's two
    // corpus scans and the cluster-map label join (§2.4/§6 — share
    // the scan instead of re-reading + re-spreading per consumer)
    val docs = documents(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
    try {
      val edges = Dedup
        .lshCandidatesWithJaccard(docs, "doc_id", "text")
        .filter(Dedup.jaccardAtLeast(0.5))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      clusterMap(docs, connectedComponents(edges)).localCheckpoint(true)
    } finally releaseCheckpoints(docs)
  }

  /** The incremental route as an oracle-gated query: yesterday's
    * corpus is the even docs (its pairs → the previous component map),
    * today's increment brings every pair touching an odd doc; the
    * merged map must equal the full-graph clustering bit for bit — so
    * this query shares dedup_clusters' oracle verbatim. The pair
    * relation is cached across the split (one LSH pass, two filters).
    */
  val dedupClustersIncremental: Q = (s, d) => {
    // shared (doc_id, text) pin: the LSH pass scans the corpus twice
    // and the final cluster-map label join once more (§2.4/§6)
    val docs = documents(s, d).select(col("doc_id"), col("text")).localCheckpoint(true)
    val pairs = Dedup
      .lshCandidatesWithJaccard(docs, "doc_id", "text")
      .filter(Dedup.jaccardAtLeast(0.5))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .cache()
    try {
      val bothEven = col("src") % 2 === 0 && col("dst") % 2 === 0
      val prev = connectedComponents(pairs.filter(bothEven))
      // materialize the merged map BEFORE releasing the pair cache —
      // the lazy plan otherwise re-derives touchedRoots (and with it
      // the whole LSH pass) at execution time
      val merged = incrementalComponents(prev, pairs.filter(!bothEven)).localCheckpoint(true)
      clusterMap(docs, merged).localCheckpoint(true)
    } finally {
      pairs.unpersist(blocking = false)
      releaseCheckpoints(docs)
    }
  }

  /** Per-cluster representative selection by QUALITY instead of the
    * min-id convention: the keeper of a near-dup cluster should be its
    * best member (highest composite quality score, ties to the lowest
    * id for determinism), not whichever happened to arrive first —
    * the difference between "keep a random copy" and "keep the clean
    * copy" when a cluster mixes a well-formed original with mangled
    * re-crawls. Scores are [[Pipeline.qualityScores]]' exact integer
    * expressions, so this view can never disagree with the quality
    * operators.
    *
    * Shape: the cluster map joins the score relation on doc_id (both
    * corpus-sized, hash join on the id), then ONE partial-aggregated
    * `min(struct(-score, id))` per cluster — no window over members,
    * so a degenerate mega-cluster costs a skewed-key aggregate (AQE
    * handles it), never a single-partition sort.
    */
  private[graft] def qualityReps(cmap: DataFrame, scores: DataFrame): DataFrame =
    cmap
      .join(scores.select(col("doc_id"), col("score_micro")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).cast("bigint").as("cluster_size"),
        min(struct((-col("score_micro")).as("ns"), col("doc_id").as("id"))).as("m")
      )
      .select(
        col("cluster_id"),
        col("cluster_size"),
        col("m.id").as("rep_id"),
        (-col("m.ns")).cast("bigint").as("rep_score_micro")
      )

  val dedupClusterRepsQuality: Q = (s, d) => {
    // shared (doc_id, lang, text) pin: LSH scans the corpus twice,
    // the quality-score chain twice more (stats projection + unigram
    // LM), the cluster map once — 5 corpus scans become 1 (§2.4/§6)
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint(true)
    try {
      val edges = Dedup
        .lshCandidatesWithJaccard(docs, "doc_id", "text")
        .filter(Dedup.jaccardAtLeast(0.5))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      qualityReps(clusterMap(docs, connectedComponents(edges)), Pipeline.qualityScores(docs))
        .orderBy("cluster_id")
        .localCheckpoint(true)
    } finally releaseCheckpoints(docs)
  }

  /** DEDUP SAVINGS datasheet: per source, the token mass reclaimed by
    * keeping one representative per near-dup cluster — the number
    * that justifies (or kills) a dedup stage before anyone runs it,
    * and the per-source view that shows WHERE the duplication lives
    * (a mirror source reads ~100% savings, a clean one ~0%).
    * Representative = the min-id convention (doc_id == cluster_id),
    * so this datasheet bit-agrees with the dedup_clusters map it
    * reads. One corpus-sized hash join on doc_id against the cluster
    * map, then a source-sized aggregate; the only float op is the
    * final floored savings ratio.
    */
  private[graft] def dedupSavingsFrom(docs0: DataFrame): DataFrame = {
    // shared (doc_id, source, text) pin: LSH scans the corpus twice,
    // the cluster-map label join and the token-mass join once each —
    // 4 corpus scans become 1 (§2.4/§6)
    val docs = docs0.select(col("doc_id"), col("source"), col("text")).localCheckpoint(true)
    try {
      val edges = Dedup
        .lshCandidatesWithJaccard(docs, "doc_id", "text")
        .filter(Dedup.jaccardAtLeast(0.5))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      clusterMap(docs, connectedComponents(edges))
        .join(docs.select(col("doc_id"), col("source"), col("text")), Seq("doc_id"))
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("bigint"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("is_rep")).cast("bigint").as("n_kept"),
          sum(col("n_tokens")).cast("bigint").as("tokens"),
          sum(when(col("is_rep") === 1L, col("n_tokens")).otherwise(0L))
            .cast("bigint")
            .as("kept_tokens")
        )
        .withColumn(
          "savings_micro",
          expr("CAST(floor((tokens - kept_tokens) * 1000000.0 / tokens) AS BIGINT)")
        )
        .orderBy("source")
        .localCheckpoint(true)
    } finally releaseCheckpoints(docs)
  }

  val dedupSavings: Q = (s, d) => dedupSavingsFrom(documents(s, d))

  /** DuckDB oracle: the same verified-pair CTE chain as
    * dedup_minhash_lsh, then components via a recursive reachability
    * walk (min reachable id = cluster id). The recursion enumerates
    * all (node, reachable) pairs — quadratic in component size, which
    * is exactly why the Spark side uses large-star/small-star instead;
    * for an oracle over fixture-scale components it is the simplest
    * correct spelling.
    */
  lazy val registry: Seq[Query] = Seq(
    // the incremental route must equal the full clustering bit for bit;
    // every run builds "yesterday's" component map inline before the
    // increment-sized merge it exists to demonstrate
    Query("dedup_clusters_incremental", dedupClustersIncremental, clustersOracle, build = Some(EveryRun)),
    Query("dedup_clusters", dedupClusters, clustersOracle),
    Query("dedup_savings", dedupSavings,
      s"""$clusterChainSql,
         |sv AS (
         |  SELECT d.source,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |    CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END AS is_rep
         |  FROM lab l JOIN documents d USING (doc_id)),
         |ag AS (
         |  SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(is_rep) AS BIGINT) AS n_kept,
         |    CAST(sum(n_tokens) AS BIGINT) AS tokens,
         |    CAST(sum(CASE WHEN is_rep = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
         |  FROM sv GROUP BY source)
         |SELECT source, n_docs, n_kept, tokens, kept_tokens,
         |  CAST(floor((tokens - kept_tokens) * 1000000.0 / tokens) AS BIGINT) AS savings_micro
         |FROM ag ORDER BY source""".stripMargin),
    Query("dedup_cluster_reps_quality", dedupClusterRepsQuality,
      s"""$clusterChainSql,
         |${Pipeline.featuresSql.stripPrefix("WITH ")},
         |jo AS (
         |  SELECT l.cluster_id, l.doc_id, f.score_micro
         |  FROM lab l JOIN features f USING (doc_id)),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster_id
         |                               ORDER BY score_micro DESC, doc_id ASC) AS rn
         |  FROM jo),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM jo GROUP BY cluster_id)
         |SELECT s.cluster_id, s.cluster_size, r.doc_id AS rep_id,
         |  CAST(r.score_micro AS BIGINT) AS rep_score_micro
         |FROM sz s JOIN rk r ON r.cluster_id = s.cluster_id AND r.rn = 1
         |ORDER BY s.cluster_id""".stripMargin)
  )

  private[ops] lazy val clusterChainSql: String =
      s"""WITH RECURSIVE ${Dedup.shinglesSqlFrom("documents")},
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
         |edges AS (
         |  SELECT p.doc_a AS src, p.doc_b AS dst
         |  FROM pairs p
         |  JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  JOIN sizes sa ON sa.doc_id = p.doc_a
         |  JOIN sizes sb ON sb.doc_id = p.doc_b
         |  WHERE ${Dedup.jaccardAtLeastSql("i.n_inter", "sa.n_sh + sb.n_sh - i.n_inter", 0.5)}),
         |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
         |walk(node, reach) AS (
         |  SELECT DISTINCT src, src FROM und
         |  UNION
         |  SELECT w.node, u.dst FROM walk w JOIN und u ON u.src = w.reach),
         |root AS (SELECT node, min(reach) AS cluster_id FROM walk GROUP BY node),
         |lab AS (
         |  SELECT d.doc_id, coalesce(r.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN root r ON r.node = d.doc_id)""".stripMargin

  private lazy val clustersOracle: String =
      s"""$clusterChainSql
         |SELECT doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
         |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_rep
         |FROM lab ORDER BY doc_id""".stripMargin
}
