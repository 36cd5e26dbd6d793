package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class CentralitySpec extends SparkSpec {
  import spark.implicits._

  /** The exact integer recurrence of Centrality.pageRank, driver-side:
    * self-loops + undirected edges, rank div deg contributions,
    * 150000 + (17·Σ) div 20. Positive-long `/` is floor division, so
    * this is the same arithmetic the SQL runs.
    */
  private def ref(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) } ++ nodes.map(n => n -> n)
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      und.foreach { case (s, d) => sums(d) += r(s) / deg(s) }
      r = nodes.map(n => n -> (150000L + (17L * sums(n)) / 20L)).toMap
    }
    r
  }

  test("pageRank matches the integer recurrence on a path graph and breaks symmetry") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    // path 1—2—3 plus isolated 4
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Centrality
      .pageRank(docs, edges, "doc_id")
      .collect()
      .map(r => r.getAs[Long]("node") -> ((r.getAs[Long]("deg"), r.getAs[Long]("rank_micro"))))
      .toMap
    val want = ref(Seq(1L, 2L, 3L, 4L), Seq((1L, 2L), (2L, 3L)), 6)
    assert(got.view.mapValues(_._2).toMap == want, s"got $got want $want")
    assert(got(1L)._1 == 2L && got(2L)._1 == 3L && got(4L)._1 == 1L, "self-loop-inclusive degrees")
    assert(got(2L)._2 > got(1L)._2, "the middle of the path must out-rank an endpoint")
    assert(got(1L)._2 == got(3L)._2, "symmetric endpoints must tie exactly")
    assert(got(4L)._2 == 1000000L, "an isolated node is stationary at the base mass")
  }

  test("total mass is conserved up to deterministic floor leak; no node lost") {
    val n = 20L
    val docs = (1L to n).toDF("doc_id")
    // a star around 1 (hub) + a detached pair
    val edges = ((2L to 10L).map(i => (1L, i)) :+ ((11L, 12L))).toDF("src", "dst")
    val rows = Centrality.pageRank(docs, edges, "doc_id").collect()
    assert(rows.length == n, "every node must be ranked")
    val total = rows.map(_.getAs[Long]("rank_micro")).sum
    // each node leaks < deg micro per iteration to floor division and
    // < 20 micro to the damping floor; 6 iterations over this graph
    // keep the loss well under 0.1% of the 20e6 total
    assert(total <= n * 1000000L && total > n * 1000000L - 20000L, s"total $total")
    val hub = rows.find(_.getAs[Long]("node") == 1L).get.getAs[Long]("rank_micro")
    assert(rows.forall(_.getAs[Long]("rank_micro") <= hub), "the star hub must rank highest")
  }

  private def refTrust(
      nodes: Seq[Long],
      edges: Seq[(Long, Long)],
      seeds: Set[Long],
      iters: Int
  ): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) } ++ nodes.map(n => n -> n)
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val restartBase = nodes.size.toLong * 1000000L / seeds.size
    def restart(n: Long) = if (seeds(n)) restartBase else 0L
    var r = nodes.map(n => n -> restart(n)).toMap
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      und.foreach { case (s, d) => sums(d) += r(s) / deg(s) }
      r = nodes.map(n => n -> ((3L * restart(n)) / 20L + (17L * sums(n)) / 20L)).toMap
    }
    r
  }

  test("trustRank: seed mass flows to similarity neighbors, zero without a path to a seed") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // component {1,2,3} (1 seeded), component {4,5} (unseeded)
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val got = Centrality
      .trustRank(docs, edges, "doc_id", col("doc_id") === 1L)
      .collect()
      .map(r => r.getAs[Long]("node") -> ((r.getAs[Boolean]("is_seed"), r.getAs[Long]("rank_micro"))))
      .toMap
    val want = refTrust(Seq(1L, 2L, 3L, 4L, 5L), Seq((1L, 2L), (2L, 3L), (4L, 5L)), Set(1L), 6)
    assert(got.view.mapValues(_._2).toMap == want, s"got $got want $want")
    assert(got(1L)._1 && !got(2L)._1, "seed flags")
    assert(got(2L)._2 > 0L && got(3L)._2 > 0L, "trust must reach the seed's component")
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 > got(3L)._2, "trust decays with distance")
    assert(got(4L)._2 == 0L && got(5L)._2 == 0L, "no path to a seed → zero trust")
  }

  test("the power loop keeps O(1) checkpoints pinned, not O(iterations)") {
    val docs = (1L to 50L).toDF("doc_id")
    val edges = (1L to 49L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pr = Centrality.pageRank(docs, edges, "doc_id")
    pr.collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    // 6 iterations each checkpoint a rank relation; all of them plus
    // the loop-invariant edge relation must be released on exit — only
    // the RESULT checkpoint (held by `pr`) may stay pinned
    // (set-difference on ids, immune to the async ContextCleaner)
    assert(after.size <= 1, s"power loop leaked checkpoint RDDs: $after")
  }

  test("resume: 3 iterations + snapshot + 3 more is bit-identical to 6 in one job") {
    val docs = (1L to 30L).toDF("doc_id")
    val edges = ((1L to 9L).map(i => (i, i + 1)) ++ Seq((20L, 21L), (21L, 22L), (20L, 22L)))
      .toDF("src", "dst")
    val oneShot = Centrality
      .pageRankFrom(docs, edges, "doc_id", None, 6)
      .select("node", "rank_micro")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val half = Centrality.pageRankFrom(docs, edges, "doc_id", None, 3).select("node", "rank_micro")
    // persist the snapshot the way a real job would (parquet), then resume
    val snap = tempDir("graft_pr_snap").toString + "/r"
    half.write.parquet(snap)
    val resumed = Centrality
      .pageRankFrom(docs, edges, "doc_id", Some(spark.read.parquet(snap)), 3)
      .select("node", "rank_micro")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == oneShot, "iteration-granular resume must be bit-identical")
  }

  test("graph datasheet: degree buckets account for every doc; triangles count closed cliques") {
    val d = "/root/testdata/sf0.001"
    val hist = SparkEntry.queries("graph_degree_hist")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = Fixtures.documents(spark, d).count()
    assert(hist.values.sum == nDocs, s"buckets must partition the corpus: $hist vs $nDocs")
    assert(hist.keySet.subsetOf(Set(0L, 1L, 2L, 3L)))
    val tri = SparkEntry.queries("graph_triangles")(spark, d).collect().head
    assert(tri.getAs[Long]("n_edges") > 0)
    // triangles are bounded by the wedge count of an n-edge graph
    assert(tri.getAs[Long]("n_triangles") >= 0)
    // hand-check the counter on known graphs: a 4-clique has 4
    // triangles, a path none; a low-id HUB (where id-orientation
    // would wedge-explode) still counts exactly its closed triples
    import spark.implicits._
    val clique = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("src", "dst")
    assert(Centrality.triangleCount(clique) == 4L)
    assert(Centrality.triangleCount(Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")) == 0L)
    val hub = ((2L to 10L).map(i => (1L, i)) ++ Seq((2L, 3L), (4L, 5L))).toDF("src", "dst")
    // hub 1 closes triangles (1,2,3) and (1,4,5) — nothing else
    assert(Centrality.triangleCount(hub) == 2L)
    // two triangles sharing a base edge must count twice
    val shared = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    assert(Centrality.triangleCount(shared) == 2L)
  }

  test("reps pick the highest-rank member per cluster, bit-consistent with the rank query") {
    val d = "/root/testdata/sf0.001"
    val ranks = SparkEntry.queries("centrality_pagerank")(spark, d)
      .select(col("doc_id"), col("rank_micro"))
    val clusters = SparkEntry.queries("dedup_clusters")(spark, d)
      .select(col("doc_id"), col("cluster_id"))
    val wantReps = clusters
      .join(ranks, "doc_id")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).cast("long").as("cluster_size"),
        min(struct((-col("rank_micro")).as("nr"), col("doc_id").as("id"))).as("b")
      )
      .select(col("cluster_id"), col("cluster_size"), col("b.id").as("rep_id"),
        (-col("b.nr")).as("rep_rank_micro"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val gotReps = SparkEntry.queries("centrality_reps")(spark, d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotReps == wantReps)
    assert(gotReps.nonEmpty && gotReps.exists(_._2._1 > 1), "fixture must contain a real cluster")
  }

  test("persisted graph: round-trips canonical edges; neighborhood probe is partition-pruned and complete") {
    val dir = tempDir("graft_ndgraph").toString
    // node 1's neighborhood spans both edge orientations: (1,2) forward,
    // (0,1) reverse — the undirected layout must serve BOTH from 1's bucket
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 35L), (17L, 33L)).toDF("src", "dst")
    Centrality.saveNearDupGraph(edges, dir)
    val back = Centrality.readNearDupGraph(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == Set((0L, 1L), (1L, 2L), (2L, 35L), (17L, 33L)), "canonical form must round-trip")
    val probe = Centrality.neighborhoodFromGraph(spark, dir, Seq(1L))
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 0L), (1L, 2L)), s"both orientations from one bucket: $got")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("ebucket"), plan.take(2000))
  }

  test("rank serving from persisted graph + snapshot equals the monolithic job") {
    val dir = tempDir("graft_ndgraph_rank").toString
    val docs = (1L to 30L).toDF("doc_id")
    val edges = (1L to 29L).map(i => (i, i + 1)).filter(_._1 % 3 != 0).toDF("src", "dst")
    Centrality.saveNearDupGraph(edges, dir)
    val mono = Centrality.pageRank(docs, edges, "doc_id")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_micro")).toMap
    val half = Centrality.pageRankFrom(docs, Centrality.readNearDupGraph(spark, dir), "doc_id", None, 3)
    Centrality.savePageRankSnapshot(half.select("node", "rank_micro"), s"$dir/ranks")
    val served = Centrality.pageRankFrom(
      docs,
      Centrality.readNearDupGraph(spark, dir),
      "doc_id",
      Some(Centrality.readPageRankSnapshot(spark, s"$dir/ranks")),
      3
    ).collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_micro")).toMap
    assert(served == mono, "persisted-graph resume must be bit-identical to the one-shot job")
  }
}
