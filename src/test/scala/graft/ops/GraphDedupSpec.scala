package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected components: hand-graph correctness, chain contraction
  * (the case plain min-propagation needs O(diameter) rounds for),
  * determinism, and the cluster query's postconditions.
  */
class GraphDedupSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphDedup
      .connectedComponents(edges.toDF("src", "dst"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("two components and a singleton-free map") {
    // {1,2,3,4} via 1-2, 2-3, 3-4 and {10,11}
    val m = cc(Seq((2L, 1L), (3L, 2L), (3L, 4L), (10L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain contracts to one component rooted at its minimum") {
    // a 64-node path: diameter 63, far beyond the iteration cap if the
    // algorithm were plain neighbor-min propagation
    val m = cc((1L until 64L).map(i => (i, i + 1)))
    assert(m.keySet == (1L to 64L).toSet)
    assert(m.values.toSet == Set(1L))
  }

  test("duplicate, reversed and self-loop edges do not change the result") {
    val base = cc(Seq((1L, 2L), (2L, 3L)))
    val noisy = cc(Seq((2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (1L, 1L), (3L, 3L)))
    assert(base == noisy)
  }

  test("empty edge set yields an empty component map") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("deterministic across runs") {
    val edges = (1L to 200L).flatMap(i => Seq((i, i % 17 + 1000L)))
    assert(cc(edges) == cc(edges))
  }

  test("bounded driver fast path equals the distributed star loop") {
    // maxDriverEdges = 0 forces the large-star/small-star loop; the
    // default and Long.MaxValue take the driver union-find — all must
    // produce the same (node, min-reachable-id) map on chains, stars,
    // merges, singles
    val edges = ((1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 300L), (300L, 250L))).toDF("src", "dst")
    val fast = GraphDedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = GraphDedup.connectedComponents(edges, maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // an unbounded cap must still take (and complete) the driver path
    val unbounded = GraphDedup.connectedComponents(edges, maxDriverEdges = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
    assert(unbounded == dist)
    assert(fast((200L)) == 200L && fast(250L) == 200L && fast(300L) == 200L)
  }

  private def ccInc(old: Seq[(Long, Long)], fresh: Seq[(Long, Long)]): Map[Long, Long] =
    GraphDedup
      .incrementalComponents(
        GraphDedup.connectedComponents(old.toDF("src", "dst")),
        fresh.toDF("src", "dst")
      )
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("incrementalComponents equals full CC: merge, extend, untouched pass-through") {
    // old: {1,2,3} and {10,11} and {20,21}; new edges merge the first
    // two clusters, extend the graph with a brand-new node, and leave
    // {20,21} untouched
    val old = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val fresh = Seq((3L, 10L), (11L, 99L))
    assert(ccInc(old, fresh) == cc(old ++ fresh))
  }

  test("incrementalComponents with new-only nodes and an empty increment") {
    val old = Seq((1L, 2L))
    assert(ccInc(old, Seq((50L, 51L))) == cc(old ++ Seq((50L, 51L))))
    assert(ccInc(old, Seq.empty) == cc(old))
  }

  test("incrementalComponents on the fixture parity split equals the full clustering") {
    val pairs = Dedup
      .lshCandidatesWithJaccard(
        Fixtures.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .cache()
    val bothEven = col("src") % 2 === 0 && col("dst") % 2 === 0
    val prev = GraphDedup.connectedComponents(pairs.filter(bothEven))
    val inc = GraphDedup
      .incrementalComponents(prev, pairs.filter(!bothEven))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = GraphDedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    pairs.unpersist()
    assert(inc == full)
  }

  test("seeded random graphs match a reference union-find") {
    def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
    }
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).filter(e => e._1 != e._2)
      assert(cc(edges) == reference(edges), s"seed $seed")
    }
  }

  test("incremental CC is invariant to arbitrary batch splits") {
    for (seed <- Seq(3, 11, 29)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).filter(e => e._1 != e._2)
      val k = rnd.nextInt(edges.size + 1)
      val (old, fresh) = edges.splitAt(k)
      assert(ccInc(old, fresh) == cc(edges), s"seed $seed split $k")
    }
  }

  test("driver and distributed root-graph paths produce identical merges") {
    // maxDriverRootEdges = 0 forces the distributed large-star/small-
    // star solve of the root graph; the default takes the bounded
    // driver union-find — both must equal full CC bit for bit
    for (seed <- Seq(5, 13)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(50)((rnd.nextInt(35).toLong, rnd.nextInt(35).toLong)).filter(e => e._1 != e._2)
      val (old, fresh) = edges.splitAt(edges.size / 2)
      val prev = GraphDedup.connectedComponents(old.toDF("src", "dst"))
      def run(thr: Long): Map[Long, Long] = GraphDedup
        .incrementalComponents(prev, fresh.toDF("src", "dst"), maxDriverRootEdges = thr)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val viaDriver = run(GraphDedup.defaultMaxDriverRootEdges)
      val viaDistributed = run(0L)
      assert(viaDriver == viaDistributed, s"seed $seed")
      assert(viaDriver == cc(edges), s"seed $seed vs full CC")
      // the cold-start solve must agree with distributed CC too
      val inc = GraphDedup
        .incrementComponents(edges.toDF("src", "dst"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(inc == cc(edges), s"seed $seed incrementComponents")
    }
  }

  private def mapFileStats(dir: String): Map[String, (Long, Long)] = {
    val root = new java.io.File(dir)
    root
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(f => f.getPath.stripPrefix(root.getPath) -> (f.length(), f.lastModified()))
      .toMap
  }

  private def cmapFileStats(dir: String): Map[String, (Long, Long)] = {
    val root = new java.io.File(dir + "/_graft_byroot")
    root
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cbucket="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(f => f.getPath.stripPrefix(root.getPath) -> (f.length(), f.lastModified()))
      .toMap
  }

  /** The secondary index must stay the exact inverse of the primary. */
  private def assertIndexConsistent(dir: String): Unit = {
    val primary = spark.read
      .parquet(dir)
      .select(col("cluster_id"), col("node"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val secondary = spark.read
      .parquet(dir + "/_graft_byroot")
      .select(col("cluster_id"), col("node"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(secondary == primary, s"cluster index diverged from the map: ${secondary.diff(primary)} / ${primary.diff(secondary)}")
  }

  private def bucketsOf(nodes: Seq[Long], n: Int): Set[Int] =
    nodes
      .toDF("node")
      .select(pmod(xxhash64(col("node")), lit(n.toLong)).cast("int"))
      .collect()
      .map(_.getInt(0))
      .toSet

  test("persisted cluster map: touched-bucket maintenance equals full CC, untouched dirs byte-identical") {
    val nBuckets = 8
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_map_spec").toString + "/map"
    // day 0: one 51-node cluster (spreads over every bucket) + two
    // small clusters that day 1 will merge
    val day0 = (1L to 50L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (110L, 111L))
    GraphDedup.saveClusterMap(
      GraphDedup.connectedComponents(day0.toDF("src", "dst")),
      dir,
      nBuckets
    )
    val before = mapFileStats(dir)
    assert(before.nonEmpty)
    val beforeC = cmapFileStats(dir)
    assert(beforeC.nonEmpty)
    // day 1: merge {100,101}∪{110,111} and extend with a new node —
    // touches ONLY those clusters
    val day1 = Seq((101L, 110L), (111L, 300L))
    GraphDedup.maintainClusterMap(spark, dir, day1.toDF("src", "dst"), nBuckets)
    val after = mapFileStats(dir)
    val afterC = cmapFileStats(dir)
    // the served map equals full CC over old ∪ new
    val served = GraphDedup
      .readClusterMap(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(served == cc(day0 ++ day1))
    // write volume contract: only the buckets of re-solved nodes (the
    // touched clusters' members + the new node) may change; every
    // other dir is byte-identical (same files, lengths, mtimes)
    val touched = bucketsOf(Seq(100L, 101L, 110L, 111L, 300L), nBuckets)
    assert(touched.size < nBuckets, "fixture must leave untouched buckets to prove anything")
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    val changedBuckets = changed.map(_.split("/")(1).stripPrefix("bucket=").toInt)
    assert(changedBuckets.subsetOf(touched), s"untouched dirs rewritten: $changedBuckets vs $touched")
    val untouchedFiles = before.keySet.filter { k =>
      !touched.contains(k.split("/")(1).stripPrefix("bucket=").toInt)
    }
    assert(untouchedFiles.nonEmpty)
    untouchedFiles.foreach(k => assert(before(k) == after(k), s"$k changed"))
    // read-side pruning: a bucket filter reaches the dirs as a
    // PartitionFilter, so an endpoint probe reads only its buckets
    val b = touched.head
    val probe = GraphDedup.readClusterMap(spark, dir).filter(col("bucket") === b)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"), scan.take(2000))
    assert(probe.count() > 0)
    // SECONDARY index write volume: only the moved old root's (110) and
    // the insert target root's (100) cbucket dirs may change; every
    // other cluster's dir is byte-identical — and the index stays the
    // exact inverse of the map
    val touchedC = bucketsOf(Seq(100L, 110L), nBuckets)
    assert(touchedC.size < nBuckets)
    val changedC = (beforeC.keySet ++ afterC.keySet).filter(k => beforeC.get(k) != afterC.get(k))
    val changedCBuckets = changedC.map(_.split("/")(1).stripPrefix("cbucket=").toInt)
    assert(changedCBuckets.subsetOf(touchedC), s"untouched cbucket dirs rewritten: $changedCBuckets vs $touchedC")
    val untouchedC = beforeC.keySet.filter(k => !touchedC.contains(k.split("/")(1).stripPrefix("cbucket=").toInt))
    assert(untouchedC.nonEmpty)
    untouchedC.foreach(k => assert(beforeC(k) == afterC(k), s"$k changed"))
    assertIndexConsistent(dir)
    // relabel READ volume: members-of-moved-clusters is a partition-
    // pruned read of the moved roots' cbucket dirs, NOT a map scan —
    // the cbucket filter must reach the scan as a PartitionFilter
    val crm = Seq((110L, 100L)).toDF("old_root", "new_root")
    val moved = GraphDedup.movedClusterMembers(spark, dir, nBuckets, crm)
    val movedScan = moved.queryExecution.executedPlan.toString
    assert(
      movedScan.contains("PartitionFilters") && movedScan.contains("cbucket"),
      movedScan.take(2000)
    )
  }

  test("persisted map: a crash at any point of the per-dir swap rolls forward") {
    val nBuckets = 8
    val base = java.nio.file.Files.createTempDirectory("graft_cc_map_crash").toString
    val dirA = base + "/mapA"
    val day0 = (1L to 50L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (110L, 111L))
    val day1 = Seq((101L, 110L), (111L, 300L))
    GraphDedup.saveClusterMap(GraphDedup.connectedComponents(day0.toDF("src", "dst")), dirA, nBuckets)
    // the expected post-maintenance generation, via a clean run on a copy
    val dirB = base + "/mapB"
    graft.core.Compaction.copyDir(spark, dirA, dirB)
    GraphDedup.maintainClusterMap(spark, dirB, day1.toDF("src", "dst"), nBuckets)
    val expected = GraphDedup
      .readClusterMap(spark, dirB)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(expected == cc(day0 ++ day1))
    // reconstruct the crash state on a third copy: manifest written,
    // staged dirs present, and the three per-bucket swap states mixed —
    // completed (live new, staged gone), mid-swap (live DELETED, staged
    // present), and not-started (live old, staged present)
    val dirC = base + "/mapC"
    graft.core.Compaction.copyDir(spark, dirA, dirC)
    val touched = bucketsOf(Seq(100L, 101L, 110L, 111L, 300L), nBuckets).toSeq.sorted
    assert(touched.size >= 3, s"fixture must spread over >=3 buckets, got $touched")
    val staged = dirC + "__maintain"
    touched.foreach(b => graft.core.Compaction.copyDir(spark, s"$dirB/bucket=$b", s"$staged/bucket=$b"))
    val fs = new org.apache.hadoop.fs.Path(dirC).getFileSystem(spark.sessionState.newHadoopConf())
    def rmrf(p: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(p), true)
    val (done, mid) = (touched(0), touched(1))
    rmrf(s"$dirC/bucket=$done")
    graft.core.Compaction.copyDir(spark, s"$dirB/bucket=$done", s"$dirC/bucket=$done")
    rmrf(s"$staged/bucket=$done") // completed: renamed out already
    rmrf(s"$dirC/bucket=$mid") // mid-swap: live deleted, staged still there
    val out = fs.create(new org.apache.hadoop.fs.Path(dirC, "_graft_swap_manifest"), true)
    out.write(touched.mkString(",").getBytes("UTF-8"))
    out.close()
    // a READER over the crashed state serves the committed generation
    // WITHOUT touching disk (destructive roll-forward from a reader
    // would race a live writer mid-swap and could delete a bucket the
    // writer just committed): manifest and staging must survive the read
    val served = GraphDedup
      .readClusterMap(spark, dirC)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(served == expected)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dirC, "_graft_swap_manifest")), "reader must not consume the manifest")
    // explicit recovery (the write path's entry step) rolls the swap
    // forward to the committed generation and clears the protocol files
    GraphDedup.recoverClusterMap(spark, dirC)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dirC, "_graft_swap_manifest")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staged)))
    val servedRecovered = GraphDedup
      .readClusterMap(spark, dirC)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(servedRecovered == expected)
    // a staging dir with NO manifest (crash before commit) is garbage-
    // collected at the next maintenance entry and the cycle re-applies
    graft.core.Compaction.copyDir(spark, s"$dirB/bucket=${touched.head}", s"${dirC}__maintain/bucket=${touched.head}")
    GraphDedup.maintainClusterMap(spark, dirC, Seq((300L, 301L)).toDF("src", "dst"), nBuckets)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${dirC}__maintain")))
    val served2 = GraphDedup
      .readClusterMap(spark, dirC)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(served2 == cc(day0 ++ day1 ++ Seq((300L, 301L))))
  }

  test("persisted map: recovery from RANDOM per-bucket crash states equals the clean run") {
    for (seed <- Seq(5, 21)) {
      val rnd = new scala.util.Random(seed)
      val nBuckets = 8
      val base = java.nio.file.Files.createTempDirectory(s"graft_cc_crash_rand$seed").toString
      val edges = Seq.fill(50)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).filter(e => e._1 != e._2)
      val (day0, day1) = edges.splitAt(30)
      val dirA = base + "/mapA"
      GraphDedup.saveClusterMap(GraphDedup.connectedComponents(day0.toDF("src", "dst")), dirA, nBuckets)
      val dirB = base + "/mapB"
      graft.core.Compaction.copyDir(spark, dirA, dirB)
      GraphDedup.maintainClusterMap(spark, dirB, day1.toDF("src", "dst"), nBuckets)
      val expected = GraphDedup
        .readClusterMap(spark, dirB)
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
        .toMap
      // crash reconstruction: every bucket that differs between A and B
      // is "touched"; give each a random swap state
      val dirC = base + "/mapC"
      graft.core.Compaction.copyDir(spark, dirA, dirC)
      val fs = new org.apache.hadoop.fs.Path(dirC).getFileSystem(spark.sessionState.newHadoopConf())
      def rmrf(p: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(p), true)
      def listBuckets(d: String): Set[Int] =
        fs.listStatus(new org.apache.hadoop.fs.Path(d))
          .map(_.getPath.getName)
          .filter(_.startsWith("bucket="))
          .map(_.stripPrefix("bucket=").toInt)
          .toSet
      val touched = (listBuckets(dirA) ++ listBuckets(dirB)).toSeq.sorted.filter { b =>
        val a = GraphDedup.readClusterMap(spark, dirA).filter(col("bucket") === b)
        val nb = GraphDedup.readClusterMap(spark, dirB).filter(col("bucket") === b)
        a.collect().map(_.toString).sorted.toSeq != nb.collect().map(_.toString).sorted.toSeq
      }
      assume(touched.nonEmpty)
      val staged = dirC + "__maintain"
      touched.foreach { b =>
        rnd.nextInt(3) match {
          case 0 => // completed: live new, staged gone
            rmrf(s"$dirC/bucket=$b")
            if (fs.exists(new org.apache.hadoop.fs.Path(s"$dirB/bucket=$b")))
              graft.core.Compaction.copyDir(spark, s"$dirB/bucket=$b", s"$dirC/bucket=$b")
          case 1 => // mid-swap: live deleted, staged present
            rmrf(s"$dirC/bucket=$b")
            if (fs.exists(new org.apache.hadoop.fs.Path(s"$dirB/bucket=$b")))
              graft.core.Compaction.copyDir(spark, s"$dirB/bucket=$b", s"$staged/bucket=$b")
          case _ => // untouched yet: live old, staged present
            if (fs.exists(new org.apache.hadoop.fs.Path(s"$dirB/bucket=$b")))
              graft.core.Compaction.copyDir(spark, s"$dirB/bucket=$b", s"$staged/bucket=$b")
        }
      }
      val out = fs.create(new org.apache.hadoop.fs.Path(dirC, "_graft_swap_manifest"), true)
      out.write(touched.mkString(",").getBytes("UTF-8"))
      out.close()
      // non-destructive read over the crash state, then explicit recovery
      val served = GraphDedup
        .readClusterMap(spark, dirC)
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
        .toMap
      assert(served == expected, s"seed $seed touched=$touched")
      GraphDedup.recoverClusterMap(spark, dirC)
      val recovered = GraphDedup
        .readClusterMap(spark, dirC)
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
        .toMap
      assert(recovered == expected, s"seed $seed post-recovery")
    }
  }

  test("persisted map: layout wins over a wrong caller bucket count; legacy mismatch fails loudly") {
    val base = java.nio.file.Files.createTempDirectory("graft_cc_map_layout").toString
    val dir = base + "/map"
    val day0 = (1L to 50L).map(i => (i, i + 1))
    GraphDedup.saveClusterMap(GraphDedup.connectedComponents(day0.toDF("src", "dst")), dir, 8)
    // caller passes the WRONG count — the persisted layout (8) must
    // win, or the probe would miss every existing node and corrupt
    GraphDedup.maintainClusterMap(spark, dir, Seq((50L, 51L)).toDF("src", "dst"), nBuckets = 16)
    val served = GraphDedup
      .readClusterMap(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(served == cc(day0 ++ Seq((50L, 51L))))
    // legacy map (no layout file): an impossible caller count — smaller
    // than a bucket id that exists on disk — must fail, not corrupt
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_layout"), false)
    val e = intercept[IllegalArgumentException] {
      GraphDedup.maintainClusterMap(spark, dir, Seq((51L, 52L)).toDF("src", "dst"), nBuckets = 4)
    }
    assert(e.getMessage.contains("layout"), e.getMessage)
    // a TOO-LARGE legacy count passes the dir-name bound (every dir id
    // < 16) but probes with the wrong modulus — the empirical sample
    // check must reject it, not corrupt silently
    val e2 = intercept[IllegalArgumentException] {
      GraphDedup.maintainClusterMap(spark, dir, Seq((51L, 52L)).toDF("src", "dst"), nBuckets = 16)
    }
    assert(e2.getMessage.contains("rebucket"), e2.getMessage)
    // the CORRECT legacy count passes the empirical check, heals the
    // layout file, and the cycle applies
    GraphDedup.maintainClusterMap(spark, dir, Seq((51L, 52L)).toDF("src", "dst"), nBuckets = 8)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_graft_layout")), "verified legacy map must be healed")
    val served2 = GraphDedup
      .readClusterMap(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(served2 == cc(day0 ++ Seq((50L, 51L), (51L, 52L))))
  }

  test("persisted map: a legacy map WITHOUT the cluster index falls back to the scan relabel") {
    val base = java.nio.file.Files.createTempDirectory("graft_cc_map_noindex").toString
    val dir = base + "/map"
    val day0 = (1L to 20L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (110L, 111L))
    GraphDedup.saveClusterMap(GraphDedup.connectedComponents(day0.toDF("src", "dst")), dir, 8)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/_graft_byroot"), true)
    // merge + extend still equals full CC via the full-scan relabel;
    // no index is (re)created behind the map's back
    val day1 = Seq((101L, 110L), (111L, 300L))
    GraphDedup.maintainClusterMap(spark, dir, day1.toDF("src", "dst"), 8)
    val served = GraphDedup
      .readClusterMap(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(served == cc(day0 ++ day1))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "/_graft_byroot")))
  }

  test("saveClusterMap survives a session-wide dynamic partitionOverwriteMode") {
    // under dynamic mode a plain overwrite only replaces the partition
    // dirs the new frame writes — re-saving a SMALLER map would leave
    // stale bucket and stale _graft_byroot cbucket dirs, silently
    // diverging the secondary index from the primary. saveClusterMap
    // pins static per-write, so the session setting must not matter.
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_cc_map_dyn").toString
      val dir = base + "/map"
      // big map: many clusters spread over all 8 cbuckets
      val day0 = (1L to 200L by 2).map(i => (i, i + 1))
      GraphDedup.saveClusterMap(GraphDedup.connectedComponents(day0.toDF("src", "dst")), dir, 8)
      // much smaller map: occupies a subset of the bucket/cbucket dirs
      val small = Seq((1000L, 1001L))
      GraphDedup.saveClusterMap(GraphDedup.connectedComponents(small.toDF("src", "dst")), dir, 8)
      val served = GraphDedup
        .readClusterMap(spark, dir)
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
        .toMap
      assert(served == Map(1000L -> 1000L, 1001L -> 1000L), s"stale primary rows served: ${served.size} rows")
      // the secondary index must be exactly the inverse of the primary
      // — any stale cbucket dir would surface extra rows here
      val sec = spark.read
        .parquet(dir + "/_graft_byroot")
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
        .toMap
      assert(sec == served, s"secondary diverged: ${sec.size} rows vs ${served.size}")
    } finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("maintenance cycle releases its localCheckpoint caches (no growth across cycles)") {
    val base = java.nio.file.Files.createTempDirectory("graft_cc_map_release").toString
    val dir = base + "/map"
    val day0 = (1L to 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (110L, 111L))
    GraphDedup.saveClusterMap(GraphDedup.connectedComponents(day0.toDF("src", "dst")), dir, 8)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    GraphDedup.maintainClusterMap(spark, dir, Seq((101L, 110L)).toDF("src", "dst"), 8)
    GraphDedup.maintainClusterMap(spark, dir, Seq((111L, 300L)).toDF("src", "dst"), 8)
    // set-difference on ids (the async ContextCleaner may remove
    // OTHER entries concurrently; it never adds) — every checkpoint
    // the two cycles created must already be unregistered
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"maintenance cycles left cached RDDs behind: $leaked")
    // and the map is still correct after the released cycles
    val served = GraphDedup
      .readClusterMap(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(served == cc(day0 ++ Seq((101L, 110L), (111L, 300L))))
  }

  test("readClusterMap fails loudly when a manifest bucket has no source at all") {
    val base = java.nio.file.Files.createTempDirectory("graft_cc_map_orphan").toString
    val dir = base + "/map"
    GraphDedup.saveClusterMap(
      GraphDedup.connectedComponents(Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")),
      dir,
      4
    )
    // a manifest naming a bucket whose staged dir is gone AND that has
    // no live dir: silently dropping it would serve a map missing a
    // committed bucket — the reader must refuse instead
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val phantom = (0 to 32)
      .find(b => !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/bucket=$b")))
      .get
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_swap_manifest"), true)
    out.write(s"$phantom".getBytes("UTF-8"))
    out.close()
    val ex = intercept[IllegalStateException] {
      GraphDedup.readClusterMap(spark, dir).collect()
    }
    assert(ex.getMessage.contains(s"bucket=$phantom"))
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_swap_manifest"), false)
  }

  test("persisted map: INT-typed edge ids are cast to the map's node type before hashing") {
    import org.apache.spark.sql.types.IntegerType
    val base = java.nio.file.Files.createTempDirectory("graft_cc_map_ints").toString
    val dir = base + "/map"
    val day0 = (1L to 50L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (110L, 111L))
    GraphDedup.saveClusterMap(GraphDedup.connectedComponents(day0.toDF("src", "dst")), dir, 8)
    // the merge edge arrives as INT — xxhash64 of an INT differs from
    // the LONG map's, so an uncast probe would MISS nodes 101/110 and
    // write conflicting rows for them
    val intEdges = Seq((101, 110)).toDF("src", "dst")
    assert(intEdges.schema("src").dataType == IntegerType)
    GraphDedup.maintainClusterMap(spark, dir, intEdges, 8)
    val served = GraphDedup
      .readClusterMap(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(served == cc(day0 ++ Seq((101L, 110L))))
    // exactly one row per node — no conflicting duplicates
    val dup = GraphDedup.readClusterMap(spark, dir).groupBy("node").count().filter(col("count") > 1)
    assert(dup.count() == 0L)
  }

  test("persisted map: randomized multi-cycle maintenance equals full CC") {
    for (seed <- Seq(17, 23)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).filter(e => e._1 != e._2)
      val batches = edges.grouped(20).toSeq
      val dir = java.nio.file.Files.createTempDirectory(s"graft_cc_map_rand$seed").toString + "/map"
      GraphDedup.saveClusterMap(
        GraphDedup.connectedComponents(batches.head.toDF("src", "dst")),
        dir,
        8
      )
      batches.tail.foreach { b =>
        GraphDedup.maintainClusterMap(spark, dir, b.toDF("src", "dst"), 8)
      }
      val served = GraphDedup
        .readClusterMap(spark, dir)
        .collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
        .toMap
      assert(served == cc(edges), s"seed $seed")
      // across arbitrary merge histories the cluster index never drifts
      assertIndexConsistent(dir)
    }
  }

  test("clusterMap sizes survive a mega-cluster without a single-partition window") {
    // 10^4 docs all in one component: count-over-window would put the
    // whole cluster in ONE window partition on one task at 100x; the
    // groupBy-count + join shape must plan NO Window operator at all
    val docs = spark.range(0L, 10000L).select(col("id").as("doc_id"))
    val ccMap = spark
      .range(0L, 10000L)
      .select(col("id").as("node"), lit(0L).as("cluster_id"))
    val out = GraphDedup.clusterMap(docs.toDF(), ccMap.toDF())
    assert(
      !out.queryExecution.executedPlan.toString.contains("Window"),
      "cluster sizing must not plan a window"
    )
    val rows = out.agg(
      min(col("cluster_size")),
      max(col("cluster_size")),
      sum(col("is_rep"))
    ).head()
    assert(rows.getLong(0) == 10000L && rows.getLong(1) == 10000L && rows.getLong(2) == 1L)
  }

  test("qualityReps: keeper is the highest-scoring member, ties break to the lowest id") {
    // clusters: {1,2,3} (scores 10, 50, 50 → rep 2: max score, tie with 3 → lower id),
    // {4,5} (scores 7, 9 → rep 5), singleton {6} (rep 6)
    val cmap = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L)
    ).toDF("doc_id", "cluster_id")
    val scores = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L), (4L, 7L), (5L, 9L), (6L, 3L)
    ).toDF("doc_id", "score_micro")
    val reps = GraphDedup
      .qualityReps(cmap, scores)
      .collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Long]("rep_id"), r.getAs[Long]("rep_score_micro")))
      .toMap
    assert(reps == Map(1L -> ((3L, 2L, 50L)), 4L -> ((2L, 5L, 9L)), 6L -> ((1L, 6L, 3L))))
  }

  test("dedup_clusters postconditions: total cover, min-rooted, sizes consistent") {
    val out = GraphDedup.dedupClusters(spark, "/root/testdata/sf0.001").cache()
    val n = out.count()
    assert(n == 500L)
    // every cluster id is the min doc_id of its members, and is itself
    // a member (is_rep flags exactly that row)
    val bad = out
      .groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("mn"), count(lit(1)).as("sz"), sum(col("is_rep")).as("reps"))
      .filter(col("mn") =!= col("cluster_id") || col("reps") =!= 1)
      .count()
    assert(bad == 0L, "cluster ids must be member minima with exactly one representative")
    // cluster_size matches the actual group size
    val szBad = out
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(count(lit(1)).as("actual"))
      .filter(col("cluster_size") =!= col("actual"))
      .count()
    assert(szBad == 0L)
    out.unpersist()
  }

  test("dedupSavings: a mirror source reads 100% savings, originals and clean sources 0%") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = "red orange yellow green blue indigo violet cyan magenta teal maroon navy"
    val docs = Seq(
      (1L, t1, "orig"),
      (2L, t2, "orig"),
      (10L, t1, "mirror"), // exact copies, higher ids → never reps
      (11L, t2, "mirror"),
      (20L, "completely different words with no overlap whatsoever in this document", "clean")
    ).toDF("doc_id", "text", "source")
    val got = GraphDedup
      .dedupSavingsFrom(docs)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5))))
      .toMap
    assert(got("mirror") == ((2L, 0L, 1000000L)), s"mirror keeps nothing: $got")
    assert(got("orig") == ((2L, 2L, 0L)), s"originals all kept: $got")
    assert(got("clean") == ((1L, 1L, 0L)), s"clean source untouched: $got")
  }
}
