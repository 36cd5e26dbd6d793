package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    // 0 and 1 are near-duplicates (one word differs)
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    // 2 is an exact duplicate of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    // 3 and 4 are unrelated
    (3L, "completely different content about spark catalyst optimizer rules and physical plans"),
    (4L, "yet another unrelated document discussing parquet column pruning and predicate pushdown")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id and counts copies") {
    val out = Dedup.exactDedup(corpus, "text", "doc_id").collect()
    assert(out.length == 4) // 5 docs, one exact dup pair
    val dupRow = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupRow.getAs[Long]("keep_id") == 0L)
  }

  test("minhash LSH finds planted near-duplicates with high jaccard") {
    val pairs = Dedup
      .lshCandidatesWithJaccard(corpus, "doc_id", "text")
      .collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Double]("jaccard")))
      .toMap
    // exact dup pair must collide on every band with jaccard 1.0
    assert(pairs.get((0L, 2L)).contains(1.0))
    // near-dup pair must be a candidate with high (but <1) jaccard
    assert(pairs.contains((0L, 1L)))
    assert(pairs((0L, 1L)) > 0.5 && pairs((0L, 1L)) < 1.0)
    // unrelated docs share no vocabulary → must NOT appear as candidates
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).size == 2 })
  }

  test("LSH candidate set is bucket-bounded (no all-pairs)") {
    val sh = Dedup.shingles(corpus, "doc_id", "text")
    val bands = Dedup.bandKeys(Dedup.minhashSignature(sh))
    // candidates are only pairs sharing a (band_id, band_key) bucket
    val bucketPairs = bands
      .as("a")
      .join(bands.as("b"), $"a.band_id" === $"b.band_id" && $"a.band_key" === $"b.band_key" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val candidates = Dedup
      .lshCandidatesWithJaccard(corpus, "doc_id", "text")
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(candidates == bucketPairs)
    val nDocs = corpus.count()
    assert(candidates.size < nDocs * (nDocs - 1) / 2) // strictly fewer than all-pairs
  }

  test("simhash: identical docs get identical fingerprints, unrelated docs differ") {
    val fps = Dedup
      .simhash(corpus, "doc_id", "text", spark)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
      .toMap
    assert(fps(0L) == fps(2L))
    assert(fps(0L) != fps(3L) || fps(0L) != fps(4L))
    assert(fps.values.forall(v => v >= 0 && v < (1L << Dedup.simhashBits)))
  }

  test("simhash band candidates are a sparse subset of all-pairs on the fixture corpus") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val nDocs = docs.count()
    val allPairs = nDocs * (nDocs - 1) / 2
    val fp = Dedup.simhash(docs, "doc_id", "text", spark).cache()
    // fingerprint-level band join — the candidate generator of
    // dedupSimhashPairs — must stay well under 5% of all doc pairs,
    // or the 60-bit space would be saturating like the old 16-bit one.
    val fps = fp.select(col("simhash")).distinct()
    val banded = Dedup.simhashBands(fps)
    val fpCandidates = banded
      .as("a")
      .join(
        banded.as("b"),
        $"a.band_id" === $"b.band_id" && $"a.band_val" === $"b.band_val" && $"a.simhash" < $"b.simhash"
      )
      .select($"a.simhash", $"b.simhash")
      .distinct()
      .count()
    val distinctFps = fps.count()
    val allFpPairs = distinctFps * (distinctFps - 1) / 2
    assert(allFpPairs > 0)
    // This fixture is pathologically self-similar (templated docs:
    // median pairwise hamming ~14 of 60, where random docs would sit
    // near 30), so most band agreements are GENUINE near-dup
    // candidates — the data-bound floor. The hash-bound rate for
    // unrelated docs is 4 * 2^-15 ≈ 0.01%; assert the candidate set
    // stays an order of magnitude under all-pairs even here.
    assert(fpCandidates.toDouble / allFpPairs < 0.15, s"$fpCandidates candidate fp pairs of $allFpPairs")
    // the hamming-verified output must be truly sparse (<5% of pairs)
    val outPairs = Dedup.dedupSimhashPairs(spark, "/root/testdata/sf0.001").count()
    assert(outPairs.toDouble / allPairs < 0.05, s"$outPairs output pairs of $allPairs")
    fp.unpersist()
  }

  test("hex12ValSql parses any 12-hex-char slice exactly (vs JVM parse)") {
    val rng = new scala.util.Random(7)
    val hexes = Seq.fill(200)(Seq.fill(32)("0123456789abcdef"(rng.nextInt(16))).mkString)
    val df = hexes.toDF("mh").selectExpr(
      "mh",
      s"CAST(${Dedup.hex12ValSql("mh", 1)} AS BIGINT) AS v1",
      s"CAST(${Dedup.hex12ValSql("mh", 13)} AS BIGINT) AS v2"
    )
    df.collect().foreach { r =>
      val mh = r.getString(0)
      assert(r.getLong(1) == java.lang.Long.parseLong(mh.substring(0, 12), 16), mh)
      assert(r.getLong(2) == java.lang.Long.parseLong(mh.substring(12, 24), 16), mh)
    }
  }

  test("Spark-side conv() equals the oracle's ascii-parse on every hex slice") {
    // the Spark query path uses conv(); the DuckDB oracle keeps the
    // ascii CASE tree — this pins the two arithmetics together
    val rng = new scala.util.Random(11)
    val hexes = Seq.fill(200)(Seq.fill(32)("0123456789abcdef"(rng.nextInt(16))).mkString)
    val mismatches = hexes
      .toDF("mh")
      .selectExpr(
        "CAST(conv(substring(mh, 1, 12), 16, 10) AS BIGINT) AS c1",
        s"CAST(${Dedup.hex12ValSql("mh", 1)} AS BIGINT) AS a1",
        "CAST(conv(substring(mh, 13, 12), 16, 10) AS BIGINT) AS c2",
        s"CAST(${Dedup.hex12ValSql("mh", 13)} AS BIGINT) AS a2"
      )
      .filter(col("c1") =!= col("a1") || col("c2") =!= col("a2"))
      .count()
    assert(mismatches == 0L)
  }

  test("declarative simhash equals the single-buffer UDAF formulation") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val decl = Dedup
      .simhashDeclarative(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val udafFps = Dedup
      .simhashUdafVariant(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(decl == udafFps)
    assert(decl.nonEmpty)
  }

  test("oversized blocks are quarantined, not exploded into pairs") {
    val docs = Seq(
      // block "big": 4 docs > cap of 3 → quarantined (6 pairs avoided)
      (1L, "big", Seq("a", "b")),
      (2L, "big", Seq("a", "b")),
      (3L, "big", Seq("a", "c")),
      (4L, "big", Seq("a", "d")),
      // block "ok": 2 identical docs → one surviving pair
      (5L, "ok", Seq("x", "y")),
      (6L, "ok", Seq("x", "y"))
    ).toDF("doc_id", "block", "ws")
    val (pairs, quarantined) = Dedup.blockedJaccardPairs(docs, 0.5, maxDocsPerBlock = 3)
    val p = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p.toSeq == Seq((5L, 6L))) // nothing from the oversized block
    val q = quarantined.collect()
    assert(q.length == 1 && q(0).getAs[String]("block") == "big")
    assert(q(0).getAs[Long]("n_pairs_avoided") == 6L)
  }

  test("fallback query routes oversized blocks to LSH and bounded blocks to exact") {
    val out = Dedup.dedupBlockedFallback(spark, "/root/testdata/sf0.001").cache()
    val methods = out.groupBy("method").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the fixture has blocks on both sides of the demonstration cap,
    // so BOTH routes must have fired
    assert(methods.getOrElse("exact", 0L) > 0, s"no exact-route pairs: $methods")
    assert(methods.getOrElse("lsh", 0L) > 0, s"no lsh-route pairs: $methods")
    // every pair respects the threshold, whichever route produced it
    assert(out.filter(col("jaccard") < 0.5).count() == 0)
    // no pair is reported by both routes (routes partition the blocks)
    assert(out.groupBy("doc_a", "doc_b").count().filter(col("count") > 1).count() == 0)
    out.unpersist()
  }

  test("pair-expansion joins never broadcast the corpus side") {
    // a broadcast of the word-set / embedding relation caps out at one
    // executor's memory at 100 TB — these plans must be salted shuffle
    // joins end to end. Metadata-sized broadcasts (the block-size
    // guard list) are fine; anything carrying an ARRAY column (word
    // sets, vectors) is corpus data and must never broadcast.
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    for (
      df <- Seq(
        Dedup.dedupNgramJaccard(spark, "/root/testdata/sf0.001"),
        Dedup.dedupBlockedFallback(spark, "/root/testdata/sf0.001"),
        SparkEntry.queries("dedup_embedding_cosine")(spark, "/root/testdata/sf0.001")
      )
    ) {
      df.collect() // materialize so AQE finalizes the physical plan
      val broadcasts = helper.collectWithSubqueries(df.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b
      }
      broadcasts.foreach { b =>
        assert(
          !b.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"corpus-side (array-carrying) broadcast: ${b.output.map(a => s"${a.name}:${a.dataType.simpleString}")}"
        )
      }
    }
  }

  test("route agreement: per-route counts equal the standalone routes, set algebra holds") {
    val d = "/root/testdata/sf0.001"
    val docs = Fixtures.documents(spark, d)
    val rows = Dedup
      .dedupRouteAgreement(spark, d)
      .collect()
      .map(r => r.getAs[String]("route") -> r.getAs[Long]("n_pairs"))
      .toMap
    val mh = Dedup
      .lshCandidatesWithJaccard(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").distinct().count()
    val sh = Dedup.simhashPairFrame(docs, spark).select("doc_a", "doc_b").distinct().count()
    val wn = TextAnalysis.winnowPairs(docs, 500000L, 8).count()
    assert(rows("minhash") == mh && rows("simhash") == sh && rows("winnow") == wn)
    assert(rows("minhash_simhash") <= math.min(rows("minhash"), rows("simhash")))
    assert(rows("minhash_winnow") <= math.min(rows("minhash"), rows("winnow")))
    assert(rows("simhash_winnow") <= math.min(rows("simhash"), rows("winnow")))
    assert(rows("all_three") <= rows("minhash_simhash"))
    assert(rows("any_route") >= Seq(mh, sh, wn).max)
    assert(rows("any_route") <= mh + sh + wn)
    // the fixture's exact-dup groups are caught by every route
    assert(rows("all_three") > 0L)
  }

  test("jaccardAtLeast: integer predicate ≡ round(jaccard,6) >= t on every n_union < 10^6 grid point near the boundary") {
    // the r16 hardening replaced round(double)/threshold comparisons
    // with BIGINT micro arithmetic; this pins the equivalence claim on
    // a dense sweep of the boundary region (all n_union up to 10k, the
    // n_inter on both sides of n_union/2) plus random larger unions
    val cases = (1 to 10000).flatMap { u =>
      val half = u / 2
      (math.max(0, half - 1) to math.min(u, half + 2)).map(i => (i.toLong, u.toLong))
    } ++ Seq((499999L, 999999L), (499999L, 999998L), (500000L, 999999L), (2L, 5L), (1L, 3L))
    val df = spark.createDataFrame(cases).toDF("n_inter", "n_union")
    val both = df
      .withColumn("jaccard", round(col("n_inter").cast("double") / col("n_union"), 6))
      .withColumn("dbl", col("jaccard") >= 0.5)
      .withColumn("int_p", Dedup.jaccardAtLeast(0.5))
      .filter(col("dbl") =!= col("int_p"))
    assert(both.count() == 0L)
  }

  test("source matrix: cell mass equals the verified pair count") {
    val d = "/root/testdata/sf0.001"
    val docs = Fixtures.documents(spark, d)
    val nPairs = Dedup
      .lshCandidatesWithJaccard(docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").distinct().count()
    val cells = Dedup.dedupSourceMatrix(spark, d).collect()
    assert(cells.map(_.getAs[Long]("n_pairs")).sum == nPairs)
    cells.foreach(r => assert(r.getAs[String]("src_lo") <= r.getAs[String]("src_hi")))
  }
}
