package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class SimilarityIvfSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("IVF assignments partition every vector into exactly one list") {
    val (assigned, model) = Similarity.ivfAssignments(Fixtures.embeddings(spark, dir), 8)
    val total = Fixtures.embeddings(spark, dir).count()
    assert(assigned.count() == total)
    assert(model.clusterCenters.length == 8)
    val lists = assigned.groupBy("list_id").count().collect()
    assert(lists.map(_.getAs[Long]("count")).sum == total)
  }

  test("rocchioTopK: feedback pulls the ranking toward the relevant centroid, feedback ids excluded") {
    val emb = Fixtures.embeddings(spark, dir)
    val fed = Similarity.rocchioTopK(emb, 0L, Seq(3L, 5L), Seq(7L), 20).collect()
    val ids = fed.map(_.getAs[Long]("vec_id"))
    // the query and every feedback vector are excluded from the page
    assert(Set(0L, 3L, 5L, 7L).intersect(ids.toSet).isEmpty)
    assert(ids.length == 20)
    // cosines are sorted desc with the deterministic id tiebreak
    val sims = fed.map(_.getAs[Double]("cos_sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // feedback MOVES the ranking: q' differs from q unless the
    // centroids cancel exactly (they don't on real vectors)
    val plain = Similarity.cosineTopK(emb, 0L, 24).collect()
      .map(_.getAs[Long]("vec_id")).filterNot(Set(0L, 3L, 5L, 7L)).take(20)
    assert(!(ids.toSeq == plain.toSeq), "feedback must re-rank, not echo the plain page")
    // with no relevant vectors the rewrite is undefined — loud failure
    intercept[IllegalArgumentException] {
      Similarity.rocchioTopK(emb, 0L, Nil, Seq(7L), 5)
    }
  }

  test("IVF top-k recall vs brute force is reasonable at nProbe=4/8") {
    val emb = Fixtures.embeddings(spark, dir)
    val brute = Similarity
      .cosineTopK(emb, 0L, 10)
      .collect()
      .map(_.getAs[Long]("vec_id"))
      .toSet
    val ivf = Similarity
      .ivfTopK(emb, 0L, 10, nLists = 8, nProbe = 4)
      .collect()
      .map(_.getAs[Long]("vec_id"))
      .toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low (brute=$brute ivf=$ivf)")
    // probing ALL lists must recover brute force exactly
    val full = Similarity
      .ivfTopK(emb, 0L, 10, nLists = 8, nProbe = 8)
      .collect()
      .map(_.getAs[Long]("vec_id"))
      .toSet
    assert(full == brute)
  }

  test("sampled centroid training stays deterministic and serves every vector") {
    val emb = Fixtures.embeddings(spark, dir)
    // samplePerList = 8 gives target = 64 < the 500-vector fixture,
    // so the hash-ordered top-N limit actually truncates — exercising
    // the at-scale path where Lloyd runs over a bounded sample while
    // assignment covers the full table
    val (a1, m1) = Similarity.ivfAssignments(emb, 8, samplePerList = 8)
    val (a2, m2) = Similarity.ivfAssignments(emb, 8, samplePerList = 8)
    // deterministic: same centroids, same assignment histogram, twice
    assert(m1.clusterCenters.map(_.toArray.toSeq).toSeq == m2.clusterCenters.map(_.toArray.toSeq).toSeq)
    val h1 = a1.groupBy("list_id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val h2 = a2.groupBy("list_id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(h1 == h2)
    // assignment covers every vector even though the fit saw a subset
    assert(h1.values.sum == emb.count())
    // sample-trained lists still give usable recall when probing half
    val brute = Similarity.cosineTopK(emb, 0L, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val qv = a1.filter(col("vec_id") === 0L).select("v").head().getSeq[Double](0).toArray
    val centroids = m1.clusterCenters.zipWithIndex
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = centroids.sortBy { case (c, _) => -cos(qv, c.toArray) }.take(4).map(_._2).toSeq
    val ivf = a1
      .filter(col("list_id").isin(probe: _*))
      .crossJoin(broadcast(a1.filter(col("vec_id") === 0L).select(col("v").as("qv"))))
      .withColumn("cos_sim", expr("cosine_sim(v, qv)"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
      .limit(10)
      .collect()
      .map(_.getAs[Long]("vec_id"))
      .toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"sampled-fit recall $recall too low")
  }

  test("incremental embedding dedup prunes index partitions to the probe buckets") {
    val emb = Fixtures.embeddings(spark, dir)
    val idx = tempDir("graft_emb_spec").toString
    Similarity.saveEmbeddingDedupIndex(emb.filter(col("vec_id") % 2 === 0), idx)
    val out = Similarity.incrementalEmbeddingDedup(emb.filter(col("vec_id") % 2 =!= 0), idx, 0.3)
    val rows = out.collect()
    assert(rows.nonEmpty, "fixture corpus should have in-bucket pairs at 0.3")
    rows.foreach { r =>
      val (n, ref, src) = (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"), r.getAs[String]("src"))
      assert(n % 2 != 0)
      if (src == "index") assert(ref % 2 == 0) else assert(ref % 2 != 0 && ref < n)
      assert(r.getAs[Double]("cos_sim") >= 0.3)
    }
    // the probe-bucket restriction is STATIC partition pruning on the
    // index scan, not a post-scan filter
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket_id"), plan.take(2000))
    // deterministic across repeated probes of the same index
    assert(out.collect().map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("embedding index: cold start probes empty, append closes the loop, compaction is value-neutral") {
    val emb = Fixtures.embeddings(spark, dir)
    val idx = tempDir("graft_emb_cold").toString + "/never_written"
    val b1 = emb.filter(col("vec_id") % 4 === 1)
    val b2 = emb.filter(col("vec_id") % 4 === 3)
    // cold start: no index dir — only self-pairs
    val out1 = Similarity.incrementalEmbeddingDedup(b1, idx, 0.3).collect()
    assert(out1.forall(_.getAs[String]("src") == "increment"))
    // append batch 1; batch 2 now sees it as history
    Similarity.appendToEmbeddingDedupIndex(b1, idx)
    val out2 = Similarity.incrementalEmbeddingDedup(b2, idx, 0.3).collect()
    assert(out2.exists(r => r.getAs[String]("src") == "index" && r.getAs[Long]("ref_id") % 4 == 1))
    // compaction changes layout, not values
    Similarity.appendToEmbeddingDedupIndex(emb.filter(col("vec_id") % 4 === 2), idx)
    val before = Similarity.incrementalEmbeddingDedup(b2, idx, 0.3).collect().map(_.toSeq)
    Similarity.compactEmbeddingDedupIndex(spark, idx)
    val after = Similarity.incrementalEmbeddingDedup(b2, idx, 0.3).collect().map(_.toSeq)
    assert(before.toSeq == after.toSeq)
  }

  test("the incremental embedding query exercises the >=0.5 regime through the index route") {
    val out = SparkEntry.queries("dedup_incremental_embedding")(spark, dir).collect()
    val strong = out.filter(r =>
      r.getAs[String]("src") == "index" && r.getAs[Double]("cos_sim") >= 0.5
    )
    assert(strong.nonEmpty, "seeded clones must flag their indexed sources at >=0.5 cosine")
    // the clones flag their own source: new_id = 1000001 + ref_id at cos ~ 1.0
    assert(strong.exists(r => r.getAs[Long]("new_id") == 1000001L + r.getAs[Long]("ref_id")))
  }

  test("persisted IVF index serves queries identically and prunes list partitions") {
    val emb = Fixtures.embeddings(spark, dir)
    val idx = tempDir("graft_ivf").toString
    Similarity.saveIvfIndex(emb, nLists = 8, idx)
    // same results as the rebuild-per-query path at the same probes
    val live = Similarity.ivfTopK(emb, 0L, 10, nLists = 8, nProbe = 4).collect().map(_.getLong(0)).toSeq
    val fromIndex = Similarity.ivfTopKFromIndex(spark, idx, 0L, 10, nProbe = 4)
    assert(fromIndex.collect().map(_.getLong(0)).toSeq == live)
    // the probe scan is partition-pruned: the list filter appears as a
    // partition filter on the parquet layout, not a post-scan filter
    fromIndex.collect()
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list_id"), plan.take(2000))
  }

  test("IVF-PQ: codes well-formed, ADC probe partition-pruned, training deterministic") {
    val emb = Fixtures.embeddings(spark, dir)
    val idx = tempDir("graft_pq").toString
    Similarity.savePqIndex(emb, nLists = 8, m = 8, codes = 16, idx)
    val assigned = spark.read.parquet(s"$idx/assignments")
    assert(assigned.count() == emb.count())
    // every code array: m entries, each in [0, codes)
    assert(
      assigned
        .filter(expr("size(pq) != 8 OR exists(pq, c -> c < 0 OR c >= 16)"))
        .count() == 0L
    )
    // two independent trainings produce identical codebooks (seeded
    // fits over the deterministic featurization — the golden-pin
    // precondition)
    val t1 = Similarity.pqTrain(emb, 8, 16)
    val t2 = Similarity.pqTrain(emb, 8, 16)
    assert(t1.codebooks.flatten.flatten.toSeq == t2.codebooks.flatten.flatten.toSeq)
    // the ADC probe reads only the probed list partitions
    val qv = emb.selectExpr("CAST(embedding AS ARRAY<DOUBLE>) v").where(col("vec_id") === 0L)
      .head().getSeq[Double](0).toArray
    val probe = Similarity.pqTopKFromIndex(spark, idx, qv, k = 10, nProbe = 4)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list_id"), plan.take(2000))
    // the point of PQ: the probe-side relation is a fraction of the
    // raw-vector index's bytes (64 doubles -> 8 small ints + a norm)
    val ivfIdx = tempDir("graft_pq_sz").toString
    Similarity.saveIvfIndex(emb, nLists = 8, ivfIdx)
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length()
        else 0L
      walk(new java.io.File(p))
    }
    val pqBytes = bytes(s"$idx/assignments")
    val ivfBytes = bytes(s"$ivfIdx/assignments")
    assert(pqBytes * 3 < ivfBytes, s"PQ index $pqBytes B not << raw-vector index $ivfBytes B")
  }

  test("IVF-PQ: exact rerank of the ADC shortlist recovers the within-probed-lists answer") {
    // sf0.01, not sf0.001: with only 50 near-orthogonal synthetic
    // vectors the true cosine gaps are noise against the quantization
    // error and ADC ranking carries no signal (measured recall 0.3 —
    // below even the random-pick baseline); at 500 vectors the
    // ordering is meaningful and deterministic
    val emb = Fixtures.embeddings(spark, "/root/testdata/sf0.01")
    val ivfIdx = tempDir("graft_pq_ivf").toString
    val pqIdx = tempDir("graft_pq_pq").toString
    Similarity.saveIvfIndex(emb, nLists = 8, ivfIdx)
    Similarity.savePqIndex(emb, nLists = 8, m = 8, codes = 16, pqIdx)
    // same memoized IVF fit -> identical list layout and probe set, so
    // the exact answer within the probed lists is the plain IVF probe
    val exact = Similarity
      .ivfTopKFromIndex(spark, ivfIdx, 0L, 10, nProbe = 4)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
      .toSeq
    val qv = emb.selectExpr("CAST(embedding AS ARRAY<DOUBLE>) v").where(col("vec_id") === 0L)
      .head().getSeq[Double](0).toArray
    // ADC alone must surface a solid share of the true top-10 even at
    // 16-code quantization of structureless synthetic vectors...
    val adc = Similarity
      .pqTopKFromIndex(spark, pqIdx, qv, k = 10, nProbe = 4)
      .collect()
      .map(_.getAs[Long]("vec_id"))
      .toSet
    val recall = exact.map(_._1).count(adc.contains) / 10.0
    assert(recall >= 0.5, s"ADC-only recall@10 degraded to $recall")
    // ...a practical shortlist recovers most of the exact answer
    // (measured 8/10 on the structureless fixture — real clustered
    // embeddings quantize far better; the shortlist size is the
    // recall/cost knob)
    val r50 = Similarity
      .pqTopKFromIndex(spark, pqIdx, qv, k = 10, nProbe = 4, rerank = Some((emb, 50)))
      .collect()
      .map(_.getAs[Long]("vec_id"))
      .toSet
    assert(exact.map(_._1).count(r50.contains) >= 8, s"shortlist-50 rerank recall degraded: $r50")
    // ...and with the shortlist covering the probed lists entirely,
    // the two-stage serve must recover the exact within-probed-lists
    // answer BIT FOR BIT (same rounded cosines, same order) — the
    // rerank path reads codes for candidacy but true vectors for
    // scoring, so nothing lossy survives into the final ranking
    val rerankedAll = Similarity
      .pqTopKFromIndex(spark, pqIdx, qv, k = 10, nProbe = 4, rerank = Some((emb, 100000)))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
      .toSeq
    assert(rerankedAll == exact, s"rerank=$rerankedAll\nexact=$exact")
  }

  test("IVF-PQ: the expression encoder matches a scalar argmin reference") {
    val emb = Fixtures.embeddings(spark, dir)
    val model = Similarity.pqTrain(emb, m = 8, codes = 16)
    val got = Similarity
      .pqEncode(emb, model)
      .select("vec_id", "v", "pq")
      .collect()
      .map(r =>
        (
          r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Double]]("v").toArray,
          r.getAs[scala.collection.Seq[Int]]("pq").toSeq
        )
      )
    assert(got.nonEmpty)
    got.foreach { case (id, v, codes) =>
      val expected = model.codebooks.zipWithIndex.map { case (cb, s) =>
        val sub = v.slice(s * model.subDim, (s + 1) * model.subDim)
        // first-min tie-break, same as array_position(array_min)
        val d = cb.map(c => sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
        d.indexOf(d.min)
      }.toSeq
      assert(codes == expected, s"vec $id")
    }
  }

  test("PQ drift report: generations stamped through append/compaction; shifted increment detected") {
    val emb = Fixtures.embeddings(spark, dir)
    val idx = tempDir("graft_pq_drift").toString
    Similarity.savePqIndex(emb, nLists = 8, m = 8, codes = 16, idx)
    // crafted drift: every vector shifted +0.5 per dim — far off the
    // manifold the frozen codebooks were fit on
    val shifted = emb.selectExpr(
      "vec_id + 1000000 AS vec_id",
      "label",
      "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(x + 0.5D AS FLOAT)) AS embedding"
    )
    Similarity.appendToPqIndex(shifted, idx)
    // a second, undrifted increment gets its own generation
    val more = emb.selectExpr("vec_id + 2000000 AS vec_id", "label", "embedding")
    Similarity.appendToPqIndex(more, idx)
    val gens = spark.read.parquet(s"$idx/assignments")
      .groupBy("generation").count().collect()
      .map(r => r.getAs[Int]("generation") -> r.getAs[Long]("count")).toMap
    val n = emb.count()
    assert(gens == Map(0 -> n, 1 -> n, 2 -> n), s"generation stamps wrong: $gens")
    val all = emb.select("vec_id", "label", "embedding")
      .unionByName(shifted)
      .unionByName(more)
    val rep = Similarity.pqDriftReport(spark, idx, all)
      .collect()
      .map(r => r.getAs[Long]("generation") -> ((r.getAs[Long]("n_vecs"), r.getAs[Long]("avg_err_micro"))))
      .toMap
    assert(rep.keySet == Set(0L, 1L, 2L))
    assert(rep(0L)._1 == n && rep(1L)._1 == n && rep(2L)._1 == n)
    // the drifted generation reconstructs FAR worse than the build;
    // the undrifted one matches the build's error level (re-train
    // trigger fires on gen 1, not gen 2)
    assert(rep(1L)._2 > rep(0L)._2 * 2, s"drift not detected: $rep")
    assert(math.abs(rep(2L)._2 - rep(0L)._2) < rep(0L)._2 / 2, s"undrifted generation flagged: $rep")
    // compaction preserves the generation column and the report
    Similarity.compactPqIndex(spark, idx)
    val repAfter = Similarity.pqDriftReport(spark, idx, all)
      .collect()
      .map(r => r.getAs[Long]("generation") -> ((r.getAs[Long]("n_vecs"), r.getAs[Long]("avg_err_micro"))))
      .toMap
    assert(repAfter == rep, "compaction changed the drift report")
  }

  test("IVF-PQ: increments append through the persisted model; compaction is value-neutral") {
    val emb = Fixtures.embeddings(spark, dir)
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 =!= 0)
    val idx = tempDir("graft_pq_append").toString
    Similarity.savePqIndex(evens, nLists = 8, m = 8, codes = 16, idx)
    val builtRows = spark.read.parquet(s"$idx/assignments").count()
    Similarity.appendToPqIndex(odds, idx)
    val all = spark.read.parquet(s"$idx/assignments")
    assert(all.count() == emb.count() && builtRows == evens.count())
    assert(all.select("vec_id").distinct().count() == emb.count())
    // the expression-argmin assignment agrees with the build-time ML
    // assignment: re-append the EVEN vectors to a scratch copy and
    // compare (same frozen centroids — any disagreement would mean the
    // serve-path assignment diverges from the built layout)
    val idx2 = tempDir("graft_pq_append2").toString + "/idx"
    graft.core.Compaction.copyDir(spark, idx, idx2)
    val builtAssign = spark.read
      .parquet(s"$idx/assignments")
      .filter(col("vec_id") % 2 === 0)
      .select("vec_id", "list_id", "pq")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("list_id"), r.getAs[scala.collection.Seq[Int]]("pq").toSeq))
      .toSet
    // wipe and re-append evens through the increment path
    val fs = new org.apache.hadoop.fs.Path(idx2).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx2/assignments"), true)
    Similarity.appendToPqIndex(evens, idx2)
    val reAssign = spark.read
      .parquet(s"$idx2/assignments")
      .select("vec_id", "list_id", "pq")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("list_id"), r.getAs[scala.collection.Seq[Int]]("pq").toSeq))
      .toSet
    assert(reAssign == builtAssign, "expression argmin diverges from the ML build assignment")
    // probes are bit-identical across compaction
    val qv = emb.selectExpr("CAST(embedding AS ARRAY<DOUBLE>) v").where(col("vec_id") === 1L)
      .head().getSeq[Double](0).toArray
    val before = Similarity.pqTopKFromIndex(spark, idx, qv, k = 5, nProbe = 4).collect().toSeq
    Similarity.compactPqIndex(spark, idx)
    val after = Similarity.pqTopKFromIndex(spark, idx, qv, k = 5, nProbe = 4).collect().toSeq
    assert(before == after)
    val files = new java.io.File(s"$idx/assignments").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.forall(_ <= 1), s"compaction left multi-file dirs: ${files.toSeq}")
  }

  test("IVF-PQ: the batched k-NN join equals the per-query probe row for row") {
    import spark.implicits._
    val emb = Fixtures.embeddings(spark, dir)
    val idx = tempDir("graft_pq_knn").toString
    Similarity.savePqIndex(emb, nLists = 8, m = 8, codes = 16, idx)
    val qs = emb
      .selectExpr("vec_id AS qid", "CAST(embedding AS ARRAY<DOUBLE>) AS qv")
      .filter(col("qid").isin(0L, 3L, 7L))
    val batch = Similarity
      .pqKnnJoin(spark, idx, qs, k = 5, nProbe = 3)
      .collect()
      .groupBy(_.getAs[Long]("qid"))
      .view
      .mapValues(_.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("adc_cos"))).toSeq)
      .toMap
    for (qid <- Seq(0L, 3L, 7L)) {
      val qv = emb
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) v")
        .where(col("vec_id") === qid)
        .head()
        .getSeq[Double](1)
        .toArray
      val single = Similarity
        .pqTopKFromIndex(spark, idx, qv, k = 5, nProbe = 3)
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("adc_cos")))
        .toSeq
      assert(batch(qid) == single, s"qid=$qid batch=${batch(qid)} single=$single")
    }
  }

  test("semanticDedup: drop iff a smaller-id list-mate sits at >= tau; keeper is the smallest") {
    val emb = Fixtures.embeddings(spark, dir)
    val tau = 0.35
    val out = Similarity.semanticDedup(emb, 8, tau).cache()
    assert(out.count() == emb.count(), "every vector must be mapped")
    // brute-force reference restricted to lists
    graft.functions.GraftFunctions.register(spark)
    val assigned = Similarity.ivfAssignmentsCached(emb, 8)._1.select(col("vec_id"), col("v"), col("list_id"))
    val ref = assigned
      .select(col("list_id"), col("vec_id").as("a"), col("v").as("va"))
      .join(assigned.select(col("list_id"), col("vec_id").as("b"), col("v").as("vb")), Seq("list_id"))
      .filter(col("a") < col("b"))
      .withColumn("cs", round(expr("cosine_sim(va, vb)"), 6))
      .filter(col("cs") >= tau)
      .groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("expect_kept_by"))
    val joined = out.join(ref, Seq("vec_id"), "full")
    val wrongDrop = joined
      .filter(
        (col("expect_kept_by").isNotNull && (col("keep") =!= 0L || col("kept_by") =!= col("expect_kept_by"))) ||
          (col("expect_kept_by").isNull && col("keep") =!= 1L)
      )
      .count()
    assert(wrongDrop == 0L)
    // the sweep found something at sf0.001 (the regime is exercised)
    assert(out.filter(col("keep") === 0L).count() > 0L)
    out.unpersist()
  }

  test("int8 quantization: values bounded, reconstruction within the half-step bound") {
    val q = Similarity
      .quantizeInt8(Fixtures.embeddings(spark, "/root/testdata/sf0.001"))
      .withColumn("qmin", expr("aggregate(qvec, 127, (a, x) -> least(a, x))"))
      .withColumn("qmax", expr("aggregate(qvec, -127, (a, x) -> greatest(a, x))"))
      .withColumn(
        "maxerr",
        expr(
          "aggregate(zip_with(v, qvec, (x, k) -> abs(x - k * maxabs / 127.0)), 0D, (a, x) -> greatest(a, x))"
        )
      )
      .cache()
    assert(q.filter(col("qmin") < -127 || col("qmax") > 127).count() == 0L)
    // symmetric rounding error is at most half a quantization step
    assert(q.filter(col("maxerr") > col("maxabs") / 127.0 * 0.5 + 1e-12).count() == 0L)
    // the scale element itself quantizes exactly to ±127
    assert(q.filter(col("maxabs") > 0 && col("qmax") < 127 && col("qmin") > -127).count() == 0L)
    q.unpersist()
  }

  test("bucket-balanced sample caps each bucket and plans a WindowGroupLimit") {
    val emb = Fixtures.embeddings(spark, "/root/testdata/sf0.001")
    val df = Similarity.bucketBalancedSample(emb, cap = 2)
    val rows = df.collect()
    val perBucket = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perBucket.values.forall(_ <= 2), "a bucket exceeded the cap")
    assert(rows.map(_.getLong(2)).distinct.length == rows.length, "a vector was sampled twice")
    // deterministic: repartitioning the input changes nothing
    val again = Similarity.bucketBalancedSample(emb.repartition(9), 2)
      .orderBy("bucket_id", "rank").collect().map(_.toSeq).toSeq
    assert(again == df.orderBy("bucket_id", "rank").collect().map(_.toSeq).toSeq)
    // the cap rides the shuffle: WindowGroupLimit prunes before exchange
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("embeddingDrift: orthogonal halves read cosine 0, identical halves cosine 1") {
    import spark.implicits._
    // label 0: old vectors along e1, new along e2 -> centroid cosine 0;
    // label 1: both halves identical -> cosine 1
    val emb = Seq(
      (0L, 0, Array(1f, 0f)), (2L, 0, Array(3f, 0f)),   // old, label 0
      (1L, 0, Array(0f, 2f)), (3L, 0, Array(0f, 1f)),   // new, label 0
      (4L, 1, Array(1f, 1f)), (5L, 1, Array(1f, 1f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity
      .embeddingDrift(emb, "vec_id", "embedding", "label")
      .collect()
      .map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_old"), r.getAs[Long]("n_new"), r.getAs[Double]("cos_sim")))
      .toMap
    assert(out(0L) == ((2L, 2L, 0.0)))
    assert(out(1L) == ((1L, 1L, 1.0)))
  }

  test("annLshRecall: bounds hold, candidates bucket-bounded, sampled queries all reported") {
    val rows = Similarity.annLshRecall(spark, dir).collect()
    val nQ = Fixtures.embeddings(spark, dir).filter("vec_id % 50 = 0").count()
    assert(rows.length == nQ, "one row per sampled query vector")
    rows.foreach { r =>
      val (nc, nh, rec) = (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_hits"), r.getAs[Long]("recall_micro"))
      assert(nh <= math.min(nc, 10L))
      assert(rec == nh * 100000L, "recall = hits/10 in micro")
      assert(rec >= 0L && rec <= 1000000L)
    }
    assert(rows.map(_.getAs[Long]("n_hits")).sum > 0L, "LSH must recover something on the fixture")
  }

  test("hardNegatives: near-dups excluded, rank 1 is the closest survivor, window group-limits") {
    import spark.implicits._
    def vec(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(64 - xs.length)(0.0)).map(_.toFloat).toArray
    // crafted geometry, all in the anchor's sign-LSH bucket:
    //   id 0 anchor [1,0,…]; id 2 a near-copy (cos ≈ 0.99875, EXCLUDED);
    //   id 1 cos ≈ 0.894 (the hardest negative); id 3 cos ≈ 0.743
    val emb = Seq(
      (0L, vec(1.0), 0),
      (1L, vec(1.0, 0.5), 1),
      (2L, vec(1.0, 0.05), 2),
      (3L, vec(1.0, 0.9), 3)
    ).toDF("vec_id", "embedding", "label")
    val buckets = Similarity
      .lshBuckets(emb.withColumn("v", col("embedding").cast("array<double>")).drop("v"))
      .select("vec_id", "bucket_id")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(buckets.values.toSet.size == 1, s"crafted vectors must share a bucket: $buckets")
    val got = Similarity
      .hardNegatives(emb, anchorEvery = 50L, k = 5, dupThreshold = 0.9)
      .filter(col("anchor_id") === 0L)
      .orderBy("rank")
      .select("rank", "vec_id", "cos_sim")
      .as[(Long, Long, Double)]
      .collect()
      .toSeq
    assert(got.map(_._2) == Seq(1L, 3L), s"near-copy id 2 must be excluded: $got")
    assert(got.map(_._1) == Seq(1L, 2L), "ranks contiguous from 1")
    assert(got.head._3 == 0.894427 && got(1)._3 == 0.743294, got.toString)
    // the rank-limit window must group-limit (k rows per anchor per
    // map partition forwarded, not the full candidate set)
    val q = SparkEntry.queries("ann_hard_negatives")(spark, dir)
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("hardNegativesFromIndex: candidates indexed-only, scan partition-pruned, ranks agree") {
    val emb = Fixtures.embeddings(spark, dir)
    val idx = tempDir("graft_hn_idx").toString
    Similarity.saveEmbeddingDedupIndex(emb.filter(col("vec_id") % 2 === 0), idx)
    val anchors = emb.filter(col("vec_id") % 50 === 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val live = Similarity.hardNegativesFromIndex(anchors, idx, 5, 0.9, materialize = false)
    // the non-materialized route must not leak its anchor cache: any
    // RDD persisted during the call is released before it returns
    // (set-difference on ids — immune to the async ContextCleaner)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
    val rows = live.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_id") % 2 == 0, "candidates must come from the index")
      assert(r.getAs[Double]("cos_sim") < 0.9)
      assert(r.getAs[Long]("rank") >= 1 && r.getAs[Long]("rank") <= 5)
    }
    // the probe-bucket restriction lands as STATIC partition pruning
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket_id"), plan.take(2000))
  }

  test("minedBitext: the ratio margin demotes a hub that raw cosine would mine first") {
    import spark.implicits._
    def vec(xs: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f); xs.foreach { case (i, x) => a(i) = x.toFloat }; a
    }
    val s = 0.7071067811865476
    // label 0 = source side: x*(id 0) the genuine match, x2/x3 the hub's fans
    // label 1 = target side: y*(id 1) genuine (cos 0.6 with x*), y_h(id 3) a
    // hub at cos ≈ 0.707 with BOTH x2 and x3 — raw cosine prefers the hub
    // pairs (0.707 > 0.6); the margin must prefer the genuine pair
    val emb = Seq(
      (0L, vec(0 -> 1.0), 0),
      (2L, vec(1 -> 1.0), 0),
      (4L, vec(2 -> 1.0), 0),
      (1L, vec(0 -> 0.6, 5 -> 0.8), 1),
      (3L, vec(1 -> s, 2 -> s), 1)
    ).toDF("vec_id", "embedding", "label")
    val all = Similarity
      .minedBitext(emb, k = 2, minMarginMicro = Long.MinValue)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val (gy, gcos, gmargin) = all(0L) // genuine forward match of x*
    val (hy, hcos, hmargin) = all(2L) // hub forward match of x2
    assert(gy == 1L && hy == 3L, s"forward top-1 wrong: $all")
    assert(hcos > gcos, "premise: the hub pair must WIN on raw cosine")
    assert(gmargin > hmargin, s"margin must demote the hub: $all")
    // and the fixture-threshold query stays non-degenerate
    val rows = SparkEntry.queries("bitext_mine")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "one forward pair per x")
  }

  test("minedBitext: non-positive k-NN denominators are dropped, not divided into Inf") {
    import spark.implicits._
    def vec(xs: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f); xs.foreach { case (i, x) => a(i) = x.toFloat }; a
    }
    // x0 ⟂ y1 and x0 = −y3: x0's k-NN cosines are {0, −1} → knn sum
    // ≤ 0. Without the guard the margin is a floor over a division by
    // a non-positive double (engine-divergent); with it the pair is
    // dropped. x2/y5 is a sane positive-neighborhood pair that must
    // survive to prove the guard is not over-filtering.
    val emb = Seq(
      (0L, vec(0 -> 1.0), 0),
      (2L, vec(3 -> 1.0), 0),
      (1L, vec(1 -> 1.0), 1),
      (3L, vec(0 -> -1.0), 1),
      (5L, vec(3 -> 0.9, 4 -> 0.1), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity
      .minedBitext(emb, k = 2, minMarginMicro = Long.MinValue)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(3))
      .toMap
    assert(!got.contains(0L), s"non-positive-denominator anchor must be dropped: $got")
    assert(got.contains(2L), "positive-neighborhood pair must survive the guard")
  }

  test("minedBitextFrom: the candidate seam — cross-product input equals minedBitext; restricted candidates compute the restricted-neighborhood margins exactly") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // deterministic synthetic sides: 8 source vecs, 10 target vecs
    def vec(seed: Long): Array[Float] = {
      val a = new Array[Float](16)
      var h = seed * 2654435761L + 1
      (0 until 16).foreach { i => h = h * 6364136223846793005L + 1442695040888963407L; a(i) = ((h >>> 40).toInt % 1000) / 1000.0f }
      a
    }
    val emb = ((0L until 16L by 2L).map(i => (i, vec(i), 0)) ++
      (1L until 21L by 2L).map(i => (i, vec(i), 1))).toDF("vec_id", "embedding", "label")
    val (k, minM) = (3, Long.MinValue)
    val full = Similarity.minedBitext(emb, k, minM)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq

    // an explicitly-built candidate relation with the seam's contract
    // schema must reproduce the entry point bit for bit
    val e = emb.withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val xs = e.filter(col("label") === 0).select(col("vec_id").as("x_id"), col("v").as("xv"))
    val ys = e.filter(col("label") === 1).select(col("vec_id").as("y_id"), col("v").as("yv"))
    val crossPairs = xs.crossJoin(ys)
      .withColumn("cos_micro", expr("CAST(floor(round(cosine_sim(xv, yv), 6) * 1000000) AS BIGINT)"))
      .select("x_id", "y_id", "cos_micro")
    val viaSeam = Similarity.minedBitextFrom(crossPairs, k, minM)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(viaSeam == full, "seam fed the cross product must equal the entry point")

    // bucket-restricted candidates (the production shape): margins are
    // a pure function of the SUPPLIED relation — recompute them
    // driver-side from the collected candidate triples
    val restricted = crossPairs.filter((col("x_id") + col("y_id")) % 3 =!= 0)
    val cand = restricted.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = Similarity.minedBitextFrom(restricted, k, minM)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val knnX = cand.groupBy(_._1).view.mapValues(
      _.sortBy(p => (-p._3, p._2)).take(k).map(_._3).sum).toMap
    val knnY = cand.groupBy(_._2).view.mapValues(
      _.sortBy(p => (-p._3, p._1)).take(k).map(_._3).sum).toMap
    val expected = cand.groupBy(_._1).toSeq.flatMap { case (x, ps) =>
      val (x0, y0, c0) = ps.sortBy(p => (-p._3, p._2)).head
      val den = knnX(x0) + knnY(y0)
      if (den > 0) Some((x0, y0, c0, math.floor(c0 * (2 * k * 1000000L).toDouble / den).toLong))
      else None
    }.sorted
    assert(got == expected, s"restricted-candidate margins must match the independent recomputation:\n$got\nvs\n$expected")
    // and the restriction actually changed the neighborhoods vs full
    assert(got != full)
  }

  test("minedBitextFromIndex: equals the seam fed the in-bucket restriction of the cross product") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val d = "/root/testdata/sf0.001"
    val dir = tempDir("graft_bitext_idx").toString
    val emb = graft.ops.Fixtures.embeddings(spark, d)
    Similarity.saveBitextBucketIndex(emb, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val viaIndex = rows(Similarity.minedBitextFromIndex(spark, dir, 4, Long.MinValue))
    // independent restriction: bucket each vector in memory, keep only
    // same-bucket cross-side pairs, feed the seam directly
    val b = Similarity.lshBuckets(emb).select(col("vec_id"), col("label"), col("v"), col("bucket_id"))
    val xs = b.filter(col("label") === 0).select(col("vec_id").as("x_id"), col("bucket_id"), col("v").as("xv"))
    val ys = b.filter(col("label") === 1).select(col("vec_id").as("y_id"), col("bucket_id").as("bb"), col("v").as("yv"))
    val restricted = xs
      .join(ys, col("bucket_id") === col("bb"))
      .withColumn("cos_micro", expr("CAST(floor(round(cosine_sim(xv, yv), 6) * 1000000) AS BIGINT)"))
      .select("x_id", "y_id", "cos_micro")
    assert(viaIndex == rows(Similarity.minedBitextFrom(restricted, 4, Long.MinValue)))
    assert(viaIndex.nonEmpty, "the fixture restriction must leave candidates")
  }

  test("IVF stream maintenance: in-plan assignment matches the model; apply is replay-idempotent; probes prune") {
    val d = "/root/testdata/sf0.001"
    val dir = tempDir("graft_ivf_stream_idx").toString
    val emb = graft.ops.Fixtures.embeddings(spark, d)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 =!= 0)
    Similarity.saveIvfIndex(even, 16, dir)
    // assignment PARITY: the in-plan L2 argmin against the persisted
    // centroids must land every streamed vector in the same list
    // KMeansModel.transform would — the property that keeps
    // nProbe < nLists recall identical for batch-built and
    // stream-appended rows
    val model = Similarity.ivfAssignmentsCached(even, 16)._2
    val viaModel = model
      .transform(
        org.apache.spark.sql.functions
          .broadcast(odd) // tiny fixture; just reuse featurization via the public path
          .transform(df => df)
          .select(col("vec_id"), col("label"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
          .withColumn("features", org.apache.spark.ml.functions.array_to_vector(col("v")))
      )
      .select(col("vec_id"), col("prediction").cast("int").as("list_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    Similarity.applyIvfIndexBatch(odd, dir, batchId = 0L)
    val viaPlan = spark.read
      .parquet(s"$dir/assignments")
      .filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"), col("list_id").cast("int"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    assert(viaPlan == viaModel, "in-plan assignment must match KMeansModel.transform")
    // replay idempotence: re-applying the same batch leaves the index
    // byte-identical in rows
    val before = spark.read.parquet(s"$dir/assignments").count()
    Similarity.applyIvfIndexBatch(odd, dir, batchId = 0L)
    assert(spark.read.parquet(s"$dir/assignments").count() == before, "replay must not grow the index")
    // the maintained index still serves partition-pruned probes
    val probe = Similarity.ivfTopKFromIndex(spark, dir, queryId = 0L, k = 5, nProbe = 4)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("list_id"), plan.take(2000))
    assert(probe.count() == 5)
  }

  test("IVF deletes + upserts: tombstone probe ≡ live rebuild, purge physical, post-purge upsert still wins") {
    val d = "/root/testdata/sf0.001"
    val dir = tempDir("graft_ivf_del").toString
    val refDir = tempDir("graft_ivf_delref").toString
    val emb = graft.ops.Fixtures.embeddings(spark, d)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "label", "cos_sim").collect().map(_.toSeq).toSeq
    def probe(p: String) = Similarity.ivfTopKFromIndex(spark, p, queryId = 0L, k = 10, nProbe = 16)
    Similarity.saveIvfIndex(emb, 16, dir)
    // delete the current top neighbors so the probe VISIBLY changes
    val top = probe(dir).collect().map(_.getAs[Long]("vec_id")).filter(_ != 0L).take(3).toSeq
    Similarity.deleteFromIvfIndex(spark, dir, top)
    // exhaustive probes are exact brute force over their corpora, so
    // tombstone-served must equal an index REBUILT on the live vectors
    Similarity.saveIvfIndex(emb.filter(!col("vec_id").isin(top: _*)), 16, refDir)
    assert(rows(probe(dir)) == rows(probe(refDir)), "tombstoned IVF must serve like a live rebuild")
    // purge: physical, tombstones consumed, probe unmoved
    val pre = rows(probe(dir))
    Similarity.compactIvfIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists)
    assert(
      spark.read.parquet(s"$dir/assignments").filter(col("vec_id").isin(top: _*)).count() == 0,
      "purge must remove dead vectors physically"
    )
    assert(rows(probe(dir)) == pre, "probe must be bit-identical across the purge")
    // a post-purge UPSERT must still beat the purge generation: re-send
    // vec_id = top.head carrying vector 0's embedding — it must return
    // at cosine 1.0, and its OLD rows must stay dead
    val clone = emb
      .filter(col("vec_id") === 0L)
      .withColumn("vec_id", org.apache.spark.sql.functions.lit(top.head))
    Similarity.applyIvfIndexBatch(clone, dir, batchId = 0L, upsert = true)
    val after = probe(dir).collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    assert(after.get(top.head).contains(1.0), s"re-added vector must serve its NEW embedding: $after")
    assert(
      Generations.liveRows(
        spark, dir, spark.read.parquet(s"$dir/assignments"), keyCol = "vec_id"
      ).filter(col("vec_id") === top.head).count() == 1,
      "exactly one live row for the upserted vector"
    )
  }
}
