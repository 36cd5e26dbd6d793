package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end corpus refinery: the full delivery chain composed the
  * way a production job runs it — curate (five-stage pipeline) →
  * route (shards) → lay out (packed sequences) — with token
  * conservation asserted across every hand-off.
  */
class RefinerySpec extends SparkSpec {

  test("RunRefinery writes a consistent lake layout: stages, delivery, accounting, manifest") {
    val out = tempDir("graft_refinery_spec").toString
    val layout = graft.tools.RunRefinery.run(
      spark,
      graft.tools.RunRefinery.resolveDocs(spark, "/root/testdata/sf0.001"),
      out,
      nShards = 4,
      seg = Paragraphs.Segmenter.WordChunks()
    )
    // monotone stage checkpoints, delivery equals the mixture survivors
    assert(layout.stages("exact") <= layout.stages("repetition"))
    assert(layout.stages("near") <= layout.stages("exact"))
    assert(layout.stages("paragraph") <= layout.stages("near"))
    assert(layout.stages("span") <= layout.stages("paragraph"))
    assert(layout.stages("mixture") <= layout.stages("span"))
    assert(layout.delivered == layout.stages("mixture") && layout.delivered > 0)
    // accounting on disk agrees with the stage checkpoints
    val acct = spark.read.parquet(s"$out/accounting")
    assert(acct.agg(sum(col("n_span_survivors"))).head().getLong(0) == layout.stages("span"))
    assert(acct.agg(sum(col("n_mixture_survivors"))).head().getLong(0) == layout.stages("mixture"))
    // manifest covers every delivered doc exactly once
    val man = spark.read.parquet(s"$out/manifest")
    assert(man.agg(sum(col("n_docs"))).head().getLong(0) == layout.delivered)
    // delivery partition dirs carry the shard routing; each shard's
    // rows are in ascending shuffle-draw order (reproducible epochs)
    val shardDirs = new java.io.File(s"$out/delivery").listFiles().count(_.getName.startsWith("shard="))
    assert(shardDirs.toLong == layout.shards)
    val d0 = spark.read.parquet(s"$out/delivery/shard=0").select("draw").collect().map(_.getLong(0)).toSeq
    assert(d0 == d0.sorted, "within-shard delivery order must be the deterministic shuffle order")
  }

  test("refinery generalizes past the fixture: non-fixture parquet, blank-line paragraphs, curriculum delivery") {
    import spark.implicits._
    // a crafted NON-fixture corpus: real "\n\n" paragraph structure
    // (the public Delimiter default), stopword-bearing sentences that
    // pass the quality gate, one exact duplicate pair and one shared
    // paragraph for the dedup stages to act on
    def para(tag: String, salt: Int): String =
      s"the quick $tag fox $salt jumps over a lazy dog of $tag and runs to the $tag barn in town"
    val shared = "the shared closing paragraph of a long crawl and the reason to dedup in here"
    val base = (1 to 30).map { i =>
      val body = s"${para(s"w$i", i)}\n\n${para(s"x$i", i + 100)}\n\n$shared"
      (i.toLong, "en", body)
    }
    // 31 duplicates 1 exactly; 32 is a unique doc in another language
    val rows = base :+ ((31L, "en", base.head._3)) :+
      ((32L, "de", s"${para("uniq", 7)}\n\n${para("zwei", 9)}"))
    val src = tempDir("graft_refinery_ext_src").toString
    rows.toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(s"$src/corpus")
    val out = tempDir("graft_refinery_ext_out").toString
    val layout = graft.tools.RunRefinery.run(
      spark,
      graft.tools.RunRefinery.resolveDocs(spark, s"$src/corpus"),
      out,
      nShards = 4,
      curriculum = true // seg defaults to Delimiter — the public path
    )
    // the exact duplicate (31) must fall at the exact stage
    assert(layout.stages("exact") < layout.stages("repetition"))
    // paragraph dedup with blank-line segmentation: the shared closing
    // paragraph survives only in the earliest doc — every later doc's
    // text shrinks but the docs themselves survive
    val paraStage = spark.read.parquet(s"$out/stages/paragraph")
    val kept = paraStage.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val earliestWithShared = kept.keys.filter(id => rows.exists(r => r._1 == id && r._3.contains(shared))).min
    assert(kept(earliestWithShared).contains(shared))
    assert(kept.filter(_._1 != earliestWithShared).forall { case (_, t) => !t.contains(shared) })
    assert(layout.delivered == layout.stages("mixture") && layout.delivered > 0)
    // curriculum delivery: within each shard, rows are quality-
    // descending (score_micro column present instead of the draw)
    val delivery = spark.read.parquet(s"$out/delivery")
    assert(delivery.columns.contains("score_micro") && !delivery.columns.contains("draw"))
    val shardDirs = new java.io.File(s"$out/delivery").listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { dir =>
      val scores = spark.read.parquet(dir.toString).select("score_micro").collect().map(_.getLong(0)).toSeq
      assert(scores == scores.sorted.reverse, s"${dir.getName} not in curriculum (quality-desc) order")
    }
    // accounting still per-language: the 'de' doc is tracked separately
    val acct = spark.read.parquet(s"$out/accounting")
    assert(acct.select("lang").collect().map(_.getString(0)).toSet == Set("en", "de"))
  }

  test("curate -> shard -> pack conserves documents and tokens at every hand-off") {
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val survivors = Pipeline
      .stagesFull(docs, seg = Paragraphs.Segmenter.WordChunks())
      .mixKept
      .select("doc_id", "lang", "text")
      .cache()
    val nSurvivors = survivors.count()
    assert(nSurvivors > 0)
    // route to shards: total cover, no doc lost or duplicated
    val sharded = Packing.shardAssign(survivors, "doc_id", 8)
    assert(sharded.count() == nSurvivors)
    assert(sharded.select("doc_id").distinct().count() == nSurvivors)
    // pack within (shard) strata: every survivor placed exactly once,
    // stream length per shard equals its token total
    val packed = Packing.packSequences(
      sharded,
      "doc_id",
      "shard",
      size(split(col("text"), " ")).cast("bigint"),
      budget = 256
    )
    assert(packed.count() == nSurvivors)
    val tokensIn = sharded
      .select(size(split(col("text"), " ")).cast("bigint").as("n"))
      .agg(sum(col("n")))
      .head()
      .getLong(0)
    val tokensPacked = packed.agg(sum(col("n_tokens"))).head().getLong(0)
    assert(tokensPacked == tokensIn)
    // offsets are dense per shard: max(start_offset + n_tokens) = total
    val perShard = packed
      .groupBy(col("stratum"))
      .agg(max(col("start_offset") + col("n_tokens")).as("stream_len"), sum(col("n_tokens")).as("tok"))
      .filter(col("stream_len") =!= col("tok"))
    assert(perShard.count() == 0L)
    survivors.unpersist()
  }
}
