package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  test("contamination counts shared shingles and hit benchmark docs") {
    // bench doc 100: shingles over "a b c d e" = {a b c, b c d, c d e}
    val bench = Seq((100L, "a b c d e"), (101L, "p q r s")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d x"),   // shares {a b c, b c d} with 100
      (2L, "c d e q z y"), // shares {c d e} with 100
      (3L, "u v w x y z"), // clean
      (4L, "p q r s t")    // shares {p q r, q r s} with 101
    ).toDF("doc_id", "text")
    val out = Decontamination
      .contamination(train, bench)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((1L, 2L, 2L))) // 1 bench doc, max 2 shared, total 2
    assert(out(2L) == ((1L, 1L, 1L)))
    assert(out(4L) == ((1L, 2L, 2L)))
    assert(!out.contains(3L), "clean docs must not appear in the report")
  }

  test("a doc hitting two benchmark docs aggregates per-bench then totals") {
    val bench = Seq((100L, "a b c d"), (101L, "x y z w")).toDF("doc_id", "text")
    val train = Seq((1L, "a b c q x y z")).toDF("doc_id", "text")
    val r = Decontamination.contamination(train, bench).collect().head
    assert(r.getLong(1) == 2L) // n_bench_docs
    assert(r.getLong(2) == 1L) // max_shared (one shingle with each)
    assert(r.getLong(3) == 2L) // total_shared
  }

  test("bloom route is bit-identical to the exact route and actually prunes") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val train = docs.filter("doc_id % 20 <> 0")
    val bench = docs.filter("doc_id % 20 = 0")
    val exact = Decontamination.contamination(train, bench)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val bloom = Decontamination.contaminationBloom(train, bench)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(bloom == exact, "bloom prefilter + exact verify must equal the exact route")
    // the prefilter prunes: most training shingles are NOT in the
    // benchmark, so might_contain must reject a large share of them
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val benchSh = Dedup.shingles(bench, "doc_id", "text")
      .select(md5(col("shingle").cast("binary")).as("g"))
    val bf = benchSh
      .agg(expr(s"bloom_filter_agg(xxhash64(g), CAST(${1L << 14} AS BIGINT), CAST(${1L << 18} AS BIGINT))"))
      .head().getAs[Array[Byte]](0)
    val trainSh = Dedup.shingles(train, "doc_id", "text")
      .select(md5(col("shingle").cast("binary")).as("g"))
    val total = trainSh.count()
    val kept = trainSh.filter(call_function("might_contain", lit(bf), xxhash64(col("g")))).count()
    assert(kept < total / 2, s"bloom kept $kept of $total — no pruning happening")
  }

  test("index screen is sound and actually prunes on a disjoint-vocab corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // train docs 1-2 share benchmark vocab (1 truly contaminated, 2
    // token-only overlap — a screen false positive the exact re-check
    // must reject); 3-4 have disjoint vocab and must be screened OUT
    val train = Seq(
      (1L, "alpha beta gamma delta"),  // contains bench 3-gram
      (2L, "gamma zzz alpha qqq"),     // bench tokens, no shared 3-gram
      (3L, "uu vv ww xx"),
      (4L, "yy zz aa bb")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val dir = tempDir("graft_decon_idx").toString
    Search.saveSearchIndex(train, "doc_id", "text", dir)
    val benchToks = bench.select(explode(split(col("text"), " ")).as("token"))
      .distinct().collect().map(_.getString(0)).toSeq
    val cand = Search.candidateDocsForTerms(spark, dir, benchToks)
    val candIds = cand.collect().map(_.getLong(0)).toSet
    assert(candIds == Set(1L, 2L), s"screen must keep shared-token docs only: $candIds")
    // exact re-check on the screened docs equals the full exact route
    val screened = train.join(cand, Seq("doc_id"), "left_semi")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(
      rows(Decontamination.contamination(screened, bench)) ==
        rows(Decontamination.contamination(train, bench)),
      "screened exact pass must equal the full exact route"
    )
    // and the false positive (doc 2) was rejected by the exact pass
    assert(!rows(Decontamination.contamination(screened, bench)).exists(_.head == 2L))
  }

  test("benchmark side is broadcast — the corpus never shuffles for the probe join") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val plan = Decontamination
      .contamination(docs.filter("doc_id % 20 <> 0"), docs.filter("doc_id % 20 = 0"))
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("BroadcastHashJoin"), "probe join must be broadcast")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join found:\n$plan")
  }

  test("n is a knob: a 13-word overlap flags at n=13, a 12-word one does not") {
    // the paper setting: GPT-3/PaLM check 13-gram overlap. One train
    // doc embeds the benchmark's 13-gram verbatim, the other only its
    // first 12 words — at n=13 exactly the first is contaminated, and
    // the Bloom route agrees bit for bit
    val gram13 = (1 to 13).map(i => s"g$i").mkString(" ")
    val gram12 = (1 to 12).map(i => s"g$i").mkString(" ")
    val bench = Seq((100L, s"$gram13 benchtail words here")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix words $gram13 suffix words"),
      (2L, s"prefix words $gram12 other suffix words")
    ).toDF("doc_id", "text")
    val exact = Decontamination.contamination(train, bench, n = 13).collect()
    assert(exact.map(_.getLong(0)).toSeq == Seq(1L))
    assert(exact.head.getAs[Long]("n_bench_docs") == 1L)
    val bloom = Decontamination
      .contaminationBloom(train, bench, n = 13)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(bloom == exact.map(_.toSeq).toSet)
    // and at the fixture's n=3 both train docs hit
    assert(Decontamination.contamination(train, bench, n = 3).count() == 2L)
  }

  test("triage report ranks benchmark hits per doc by shared-gram count") {
    // train doc 1 shares 2 distinct 3-grams with bench 100 ("a b c",
    // "b c d") and 1 with bench 200 ("x y z") — rank 1 must be 100
    val train = Seq((1L, "a b c d q x y z")).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d"), (200L, "p x y z")).toDF("doc_id", "text")
    val out = Decontamination
      .contaminationReport(train, bench)
      .orderBy("rank")
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("bench_id"), r.getAs[Long]("n_shared")))
    assert(out.toSeq == Seq((1L, 100L, 2L), (2L, 200L, 1L)))
  }

  test("span removal cuts exactly the benchmark-overlapping n-grams, not the document") {
    import spark.implicits._
    // benchmark holds the 5-word phrase p1..p5; its three 3-gram
    // windows flag and MERGE into one interval in the training doc
    val bench = Seq((100L, "p1 p2 p3 p4 p5")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "u1 u2 p1 p2 p3 p4 p5 u3 u4"), // leaked phrase mid-doc
      (2L, "clean document with nothing shared at all")
    ).toDF("doc_id", "text")
    val out = Spans
      .contaminationSpanRemoval(train, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .collect()
    assert(out(0).getAs[String]("clean_text") == "u1 u2 u3 u4")
    assert(out(0).getAs[Long]("n_words_removed") == 5L)
    // untouched docs round-trip byte-identically — removal repairs,
    // never drops
    assert(out(1).getAs[String]("clean_text") == "clean document with nothing shared at all")
    assert(out(1).getAs[Long]("chars_removed") == 0L)
    assert(out.length == 2)
  }

  test("removal touches exactly the docs the flagging query reports") {
    val d = "/root/testdata/sf0.01"
    val flagged = Decontamination
      .decontaminate(spark, d)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    val cut = Decontamination
      .decontaminateRemoval(spark, d)
      .filter(col("n_words_removed") > 0)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(cut == flagged, s"cut-only=${cut -- flagged} flag-only=${flagged -- cut}")
  }

  test("semantic route flags clones and near-paraphrases, skips orthogonal vectors") {
    val bench = Seq(
      (100L, 0, Array(1f, 0f, 0f)),
      (101L, 0, Array(1f, 0f, 0f)), // duplicate bench vector: ties break to id 100
      (102L, 0, Array(0f, 0f, 1f))
    ).toDF("vec_id", "label", "embedding")
    val train = Seq(
      (1L, 1, Array(2f, 0f, 0f)),    // scaled clone of 100/101: cos 1.0 with both
      (2L, 1, Array(1f, 0.1f, 0f)),  // near-paraphrase of 100/101: cos ≈ 0.995
      (3L, 1, Array(0f, 1f, 0f))     // orthogonal to everything: clean
    ).toDF("vec_id", "label", "embedding")
    val out = Decontamination
      .semanticContamination(train, bench, tau = 0.9)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out(1L)._1 == 2L, "clone must hit both identical bench vectors")
    assert(out(1L)._2 == 100L, "cos tie must break to the lowest bench id")
    assert(out(1L)._3 == 1.0)
    assert(out(2L)._1 == 2L && out(2L)._3 > 0.99 && out(2L)._3 < 1.0)
    assert(!out.contains(3L), "orthogonal vectors must not be flagged")
  }

  test("ngram_novelty: fully-seen scores 0, fully-novel scores 10^6, partial overlap exact") {
    val reference = Seq((100L, "a b c d e"), (101L, "p q r s")).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "a b c d e"),   // all 3 shingles seen → novelty 0
      (2L, "u v w x y"),   // all 3 novel → 10^6
      (3L, "a b c d x y"), // {a b c, b c d} seen, {c d x, d x y} novel → 500000
      (4L, "a b")          // < n words → no row
    ).toDF("doc_id", "text")
    val out = Decontamination
      .ngramNovelty(probe, reference)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_seen"), r.getAs[Long]("novelty_micro")))
      .toMap
    assert(out == Map(
      1L -> ((3L, 3L, 0L)),
      2L -> ((3L, 0L, 1000000L)),
      3L -> ((4L, 2L, 500000L))
    ))
  }

  test("semantic route: benchmark broadcasts, corpus scores map-side") {
    val emb = Fixtures.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Decontamination
      .semanticContamination(emb.filter("vec_id % 20 <> 0"), emb.filter("vec_id % 20 = 0"), 0.4)
      .queryExecution
      .executedPlan
      .toString
    // a 1-row-per-train-vector scoring pass against a broadcast bench
    // side is by design a broadcast nested-loop (every pair is scored
    // — that IS the semantics); what must never appear is a shuffle
    // of the corpus ahead of the join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join found:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }
}
