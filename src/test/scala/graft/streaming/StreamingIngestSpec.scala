package graft.streaming

import graft.{SparkEntry, SparkSpec}
import graft.ops.Search.Analyzer.Folded
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths, StandardCopyOption}

class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  test("file-source ingestion processes each file exactly once across restarts") {
    val src = tempDir("graft_stream_src")
    val out = tempDir("graft_stream_out").toString
    val ckpt = tempDir("graft_stream_ckpt").toString
    def copyFixture(name: String): Unit = {
      val from = Paths.get("/root/testdata/sf0.001/nation.parquet")
      Files.copy(from, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    val schema = spark.read.parquet("/root/testdata/sf0.001/nation.parquet").schema
    val nPerFile = spark.read.parquet("/root/testdata/sf0.001/nation.parquet").count()

    copyFixture("a.parquet")
    val q1 = StreamingIngest.ingestParquetDir(spark, src.toString, schema, ckpt, out)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == nPerFile)

    // restart with one new file: only the new file is processed
    copyFixture("b.parquet")
    val q2 = StreamingIngest.ingestParquetDir(spark, src.toString, schema, ckpt, out)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 2 * nPerFile)
  }

  test("watermarked windowed aggregation over a memory stream") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.windowedEventCounts(df, "5 minutes", "10 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_counts").outputMode("complete").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(11), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_counts").collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum == 3)
    assert(rows.length == 2) // two 10-minute windows
    q.stop()
  }

  test("streaming dedup emits one copy per content hash within the watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "text")
    val deduped = StreamingIngest.dedupStream(df, "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((ts(1), "alpha"), (ts(2), "alpha"), (ts(3), "beta"), (ts(4), "alpha"))
    q.processAllAvailable()
    val texts = spark.table("dedup_out").collect().map(_.getAs[String]("text")).sorted
    assert(texts.toSeq == Seq("alpha", "beta")) // duplicates within horizon collapsed
    q.stop()
  }

  test("streaming dedup state is watermark-BOUNDED: a beyond-horizon duplicate re-emits") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "text")
    val deduped = StreamingIngest.dedupStream(df, "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_evict").outputMode("append").start()
    def ts(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    // b1: first alpha emits; state expiry = 10:00 + 10 min
    mem.addData((ts(10, 0), "alpha"))
    q.processAllAvailable()
    // b2: in-horizon duplicate suppressed ACROSS batches; the later
    // event advances the watermark to 10:50 (> alpha's 10:10 expiry)
    mem.addData((ts(10, 1), "alpha"), (ts(11, 0), "bump"))
    q.processAllAvailable()
    // b3: alpha's state was evicted — the key must emit AGAIN. This is
    // the bounded-state trade: O(horizon) memory, cross-horizon
    // duplicates re-admitted (the batch exactDedup catches them).
    mem.addData((ts(11, 5), "alpha"))
    q.processAllAvailable()
    val texts = spark.table("dedup_evict").collect().map(_.getAs[String]("text")).sorted
    assert(texts.toSeq == Seq("alpha", "alpha", "bump"), texts.mkString(","))
    q.stop()
  }

  test("streaming near-dup flags probe and grow the disk-backed signature index") {
    implicit val sc = spark.sqlContext
    // history = even fixture docs; two arriving micro-batches split
    // the odd docs by doc_id % 4 (same shape as IncrementalDedupSpec)
    val sfDir = "/root/testdata/sf0.001"
    val idx = tempDir("graft_mh_stream").toString
    val out = tempDir("graft_mh_flags").toString
    val ckpt = tempDir("graft_mh_ckpt").toString
    val docs = graft.ops.Fixtures.documents(spark, sfDir)
    graft.ops.Dedup.saveMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    def slice(r: Long): Seq[(Long, String)] = docs
      .filter(col("doc_id") % 4 === r)
      .select("doc_id", "text")
      .collect()
      .map(x => (x.getLong(0), x.getString(1)))
      .toSeq
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = StreamingIngest.nearDupFlagsStream(df, "doc_id", "text", idx, out, ckpt, minMatches = 4)
    mem.addData(slice(1): _*)
    q.processAllAvailable()
    mem.addData(slice(3): _*)
    q.processAllAvailable()
    q.stop()
    val flags = spark.read.parquet(out).collect()
    assert(flags.nonEmpty)
    // batch 2 (doc_id % 4 == 3) found history refs appended by batch 1
    assert(
      flags.exists(r =>
        r.getAs[String]("src") == "index" &&
          r.getAs[Long]("new_id") % 4 == 3 && r.getAs[Long]("ref_id") % 4 == 1
      ),
      flags.map(_.toSeq).mkString("\n")
    )
  }

  test("near-dup stream starts cold without a seeded index and releases its per-batch caches") {
    implicit val sc = spark.sqlContext
    val base = tempDir("graft_mh_cold_stream")
    val idx = base.resolve("idx").toString // never seeded
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val docs = graft.ops.Fixtures.documents(spark, "/root/testdata/sf0.001")
    def slice(r: Long): Seq[(Long, String)] = docs
      .filter(col("doc_id") % 4 === r)
      .select("doc_id", "text")
      .collect()
      .map(x => (x.getLong(0), x.getString(1)))
      .toSeq
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = StreamingIngest.nearDupFlagsStream(df, "doc_id", "text", idx, out, ckpt, minMatches = 4)
    // Snapshot RDD *ids*, not the global count: the async ContextCleaner may GC
    // earlier suites' localCheckpointed RDDs mid-test (count DROPS, which a size
    // equality misreads as failure). A leak means NEW ids survive; set-difference
    // is immune to concurrent removals.
    val idsBefore = spark.sparkContext.getPersistentRDDs.keySet
    mem.addData(slice(1): _*)
    q.processAllAvailable()
    mem.addData(slice(3): _*)
    q.processAllAvailable()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- idsBefore
    q.stop()
    assert(leaked.isEmpty, s"each micro-batch must unpersist its increment signatures; leaked RDD ids: $leaked")
    val flags = spark.read.parquet(out).collect()
    assert(flags.nonEmpty)
    // batch 1 probed an EMPTY index: its flags are increment-route only
    assert(!flags.exists(r => r.getAs[Long]("new_id") % 4 == 1 && r.getAs[String]("src") == "index"))
    // batch 2 sees batch 1 as history appended by the stream itself
    assert(flags.exists(r => r.getAs[String]("src") == "index" && r.getAs[Long]("ref_id") % 4 == 1))
  }

  test("compaction cadence bounds index file counts and leaves the flags bit-identical") {
    implicit val sc = spark.sqlContext
    val docs = graft.ops.Fixtures.documents(spark, "/root/testdata/sf0.001")
    def slice(r: Long): Seq[(Long, String)] = docs
      .filter(col("doc_id") % 8 === r)
      .select("doc_id", "text")
      .collect()
      .map(x => (x.getLong(0), x.getString(1)))
      .toSeq
    def run(compactEvery: Int): (String, String) = {
      val base = tempDir(s"graft_mh_compact_$compactEvery")
      val idx = base.resolve("idx").toString
      val out = base.resolve("out").toString
      val mem = MemoryStream[(Long, String)]
      val q = StreamingIngest.nearDupFlagsStream(
        mem.toDF().toDF("doc_id", "text"),
        "doc_id",
        "text",
        idx,
        out,
        base.resolve("ckpt").toString,
        minMatches = 4,
        compactEvery = compactEvery
      )
      Seq(1L, 3L, 5L, 7L).foreach { r => mem.addData(slice(r): _*); q.processAllAvailable() }
      q.stop()
      (idx, out)
    }
    val (idxPlain, outPlain) = run(0)
    val (idxComp, outComp) = run(2)
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    // 4 appended batches accrete files; the compacted index ends at its
    // post-compaction bound (4 signature files + 1 per band dir) and
    // strictly below the accreted count
    assert(parquetFiles(s"$idxComp/signatures") <= 4)
    assert(parquetFiles(idxComp) < parquetFiles(idxPlain))
    // same flags, value for value — compaction is invisible to probes
    def flagSet(out: String) = spark.read
      .parquet(out)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(flagSet(outComp) == flagSet(outPlain))
  }

  test("clustered stream survives a restart: checkpoint skips processed files, map converges") {
    val docs = graft.ops.Fixtures.documents(spark, "/root/testdata/sf0.001")
    val base = tempDir("graft_cc_restart")
    val idx = base.resolve("idx").toString
    val src = base.resolve("src").toString
    val out = base.resolve("flags").toString
    val ckpt = base.resolve("ckpt").toString
    val mapDir = base.resolve("map").toString
    graft.ops.Dedup.saveMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    def writeSlice(r: Long): Unit = docs
      .filter(col("doc_id") % 4 === r)
      .select("doc_id", "text")
      .coalesce(1)
      .write
      .mode("append")
      .parquet(src)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      StreamingIngest
        .clusteredNearDupStream(
          stream, "doc_id", "text", idx, out, ckpt,
          graft.ops.Dedup.incrementalMinMatches, mapDir,
          org.apache.spark.sql.streaming.Trigger.AvailableNow(), mapBuckets = 4)
        .awaitTermination()
    }
    // phase 1: only the first slice exists; the query processes it and
    // terminates. phase 2: a NEW query from the SAME checkpoint sees
    // the second slice only — file 1 must not replay.
    writeSlice(1L)
    runOnce()
    writeSlice(3L)
    runOnce()
    val flags = spark.read.parquet(out)
    assert(flags.count() == flags.dropDuplicates("new_id", "ref_id").count(),
      "a restart must not re-flag processed files")
    // the final map equals CC over the accumulated flag pairs
    val expected = graft.ops.GraphDedup
      .connectedComponents(flags.select(col("new_id").as("src"), col("ref_id").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = graft.ops.GraphDedup
      .readClusterMap(spark, mapDir)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id")).toMap
    assert(served == expected)
  }

  test("media stream ingest equals the one-pass batch decode over the same mixed corpus") {
    import graft.ops.Multimodal
    // one payload per modality + an unrecognized one, so routing,
    // all three decoders and the null passthrough all cross the stream
    val media = (0L to 7L)
      .map(id => Multimodal.MediaRow(id, Multimodal.syntheticMixedPayload(id)))
      .toDS()
    val streamed = StreamingIngest.mediaStreamIngest(spark, media).collect()
    val batch = Multimodal.decodeMixed(media).toDF().orderBy("doc_id").collect()
    assert(streamed.toSeq == batch.toSeq)
    // sanity on content: all four modalities present in the result
    val mimes = streamed.map(_.getString(1)).toSet
    assert(mimes == Set("image/png", "audio/wav", "video/avi", "application/octet-stream"))
  }

  test("streaming ANN serve equals the batched PQ k-NN join, answer for answer") {
    val sfDir = "/root/testdata/sf0.001"
    val dir = graft.ops.Similarity.demoPqIndexDir(spark, sfDir)
    // 5 queries over 3 micro-batch files: at least one batch carries
    // more than one query, so the per-batch join is exercised as a
    // set-oriented operation, not a per-row loop
    val qs = graft.ops.Similarity.fixtureQueryVectors(spark, sfDir, Seq(0L, 1L, 2L, 3L, 4L))
    val streamed = StreamingIngest.annStreamServe(spark, qs, dir, k = 5, nProbe = 4).collect()
    val batch = graft.ops.Similarity.pqKnnJoin(spark, dir, qs, k = 5, nProbe = 4).collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.map(_.getAs[Long]("qid")).distinct.length == 5)
  }

  test("embedding stream compaction cadence bounds index files, flags unchanged") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = graft.ops.Fixtures.embeddings(spark, sfDir)
    def run(compactEvery: Int): (String, String) = {
      val base = tempDir(s"graft_embcomp_$compactEvery")
      val idx = base.resolve("idx").toString
      val src = base.resolve("src").toString
      val out = base.resolve("out").toString
      graft.ops.Similarity.saveEmbeddingDedupIndex(emb.filter(col("vec_id") % 2 === 0), idx)
      (1L to 7L by 2).foreach { r =>
        emb.filter(col("vec_id") % 8 === r).coalesce(1).write.mode("append").parquet(src)
      }
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      StreamingIngest
        .embNearDupFlagsStream(
          stream, idx, out, base.resolve("ckpt").toString,
          minCos = 0.3, Trigger.AvailableNow(), compactEvery)
        .awaitTermination()
      (idx, out)
    }
    val (idxPlain, outPlain) = run(0)
    val (idxComp, outComp) = run(2)
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    def bucketDirs(dir: String): Int =
      new java.io.File(s"$dir/buckets").listFiles().count(f => f.isDirectory && f.getName.startsWith("bucket_id="))
    // 4 appended batches accrete one file per batch per occupied bucket
    // dir; the compacted index ends at exactly one file per dir and
    // strictly below the accreted count
    assert(parquetFiles(idxComp) == bucketDirs(idxComp))
    assert(parquetFiles(idxComp) < parquetFiles(idxPlain))
    // compaction is invisible to probes: same flags, value for value
    def flagSet(out: String) =
      spark.read.parquet(out).collect().map(_.toSeq).toSet
    assert(flagSet(outComp) == flagSet(outPlain))
    assert(flagSet(outPlain).nonEmpty)
  }

  test("embedding near-dup stream equals the one-shot incremental vector probe") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = StreamingIngest.embDedupStreamReplay(spark, sfDir).collect()
    val oneShot = SparkEntry.queries("dedup_incremental_embedding")(spark, sfDir)
      .collect()
    assert(streamed.toSeq == oneShot.toSeq)
    // the seeded clones must flag their indexed sources through the
    // index route at cosine ≈ 1.0 — the ≥0.5 regime is exercised
    assert(streamed.exists(r => r.getAs[String]("src") == "index" && r.getAs[Double]("cos_sim") >= 0.5))
  }

  test("dedup_stream_replay equals the one-shot incremental probe on the same split") {
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.ops.Fixtures.documents(spark, sfDir)
    val replayed = StreamingIngest
      .dedupStreamReplay(spark, docs)
      .collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"), r.getAs[String]("src"), r.getAs[Long]("n_match")))
      .toSet
    val idx = tempDir("graft_mh_replay_ref").toString
    graft.ops.Dedup.saveMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    val oneShot = graft.ops.Dedup
      .incrementalDedup(
        docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id",
        "text",
        idx,
        graft.ops.Dedup.incrementalMinMatches
      )
      .collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"), r.getAs[String]("src"), r.getAs[Long]("n_match")))
      .toSet
    assert(replayed == oneShot, s"replay=${replayed.size} oneShot=${oneShot.size}")
  }

  test("sessionization groups events by gap and keeps the last session open") {
    import StreamingIngest._
    val minute = 60L * 1000000
    val events = Seq(
      Event(1L, 0 * minute, "a", 1.0),
      Event(1L, 5 * minute, "b", 1.0),
      Event(1L, 60 * minute, "c", 1.0), // > 30-min gap → new session
      Event(2L, 0 * minute, "x", 1.0)
    ).toDS()
    val sessions = sessionize(events, gapMicros = 30 * minute).collect().sortBy(s => (s.user_id, s.start_micros))
    assert(sessions.length == 3)
    val u1 = sessions.filter(_.user_id == 1L)
    assert(u1(0).n_events == 2 && u1(0).closed)
    assert(u1(1).n_events == 1 && !u1(1).closed)
    assert(sessions.count(_.user_id == 2L) == 1)
  }

  test("windowed counts run on the real events fixture in batch mode") {
    val ev = graft.ops.Fixtures.events(spark, "/root/testdata/sf0.001")
    // same aggregation shape, batch execution (no watermark needed)
    val out = ev
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .collect()
    assert(out.map(_.getAs[Long]("n_events")).sum == ev.count())
  }

  test("anomaly state maintenance is additive, idempotent under replay, and batch-exact") {
    val ev = graft.ops.Fixtures
      .events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("ts_nanos"))
    val base = tempDir("graft_anomaly_idem")
    val src = base.resolve("src").toString
    val state = base.resolve("hourly").toString
    ev.repartition(4, col("event_type")).write.parquet(src)
    StreamingIngest.runAnomalyMaintenance(spark, src, state, base.resolve("ckpt1").toString)
    def stateRows() = spark.read
      .parquet(state)
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_bucket"), r.getAs[Long]("n")))
      .toSet
    val afterFirst = stateRows()
    // the maintained counts equal the one-shot aggregation (additive
    // merge, so batching cannot change the final state)
    val batch = graft.ops.Events
      .hourlyCounts(ev)
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour_bucket"), r.getAs[Long]("n")))
      .toSet
    assert(afterFirst == batch)
    // FULL replay against a FRESH checkpoint: every batch re-fires with
    // an already-applied id — the in-state batch marker must skip them
    // all, never double-count
    StreamingIngest.runAnomalyMaintenance(spark, src, state, base.resolve("ckpt2").toString)
    assert(stateRows() == afterFirst, "replayed batches double-counted")
    val nFiles = new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet"))
    assert(
      graft.core.Compaction.readTextFile(spark, s"$state/_graft_last_batch").map(_.trim) ==
        Some((nFiles - 1).toString),
      s"one micro-batch per source file ($nFiles files)"
    )
    // direct replay of a stale batch id is a no-op too
    StreamingIngest.applyHourlyBatch(spark, ev.toDF(), 2L, state)
    assert(stateRows() == afterFirst)
    // crash mid-swap: committed staged generation, live already gone —
    // the next batch application rolls forward FIRST, so the replayed
    // id is still recognized and nothing double-counts
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new org.apache.hadoop.fs.Path(state + "__compacting")
    graft.core.Compaction.copyDir(spark, state, staged.toString)
    fs.create(new org.apache.hadoop.fs.Path(staged, "_graft_commit"), true).close()
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    StreamingIngest.applyHourlyBatch(spark, ev.toDF(), 1L, state)
    assert(stateRows() == afterFirst, "post-crash roll-forward lost or duplicated counts")
    assert(!fs.exists(staged))
  }

  test("streamed classifier scores equal the batch scoring route exactly") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingIngest
      .classifierStreamScores(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    val docs = graft.ops.Fixtures.documents(spark, d)
    val (model, priors) = graft.ops.QualityClassifier.trainModel(
      docs.filter(graft.ops.QualityClassifier.trainPred),
      expr(graft.ops.QualityClassifier.positivePred),
      graft.ops.QualityClassifier.fixtureVocab
    )
    val batch = graft.ops.QualityClassifier
      .score(docs.filter(s"NOT (${graft.ops.QualityClassifier.trainPred})"), model, priors)
      .orderBy("doc_id")
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(streamed == batch, "micro-batching must not change per-doc scores")
  }

  test("streamed decontamination flags equal the batch route exactly") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingIngest
      .decontaminateStream(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    val batch = graft.ops.Decontamination
      .decontaminate(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(streamed == batch, "micro-batching must not change contamination flags")
  }

  test("streamed DSIR weights equal the batch route exactly") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingIngest
      .dsirStreamWeights(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    val batch = graft.ops.DataSelection
      .dsirWeights(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(streamed == batch, "micro-batching must not change importance weights")
  }

  test("stream-stream join emits exactly the batch join's pairs, cross-batch matches included") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingIngest
      .eventsStreamStreamJoin(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    val e = graft.ops.Fixtures.events(spark, d).withColumn("ts_us", expr("ts_nanos div 1000"))
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts_us").as("vus"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts_us").as("cus"))
    val batch = v
      .join(c, col("c_user") === col("user_id") &&
        col("cus") >= col("vus") && col("cus") - col("vus") <= 3600000000L)
      .select(col("view_id"), col("click_id"), col("user_id"), (col("cus") - col("vus")).cast("bigint").as("gap_us"))
      .orderBy("view_id", "click_id")
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(streamed == batch, "micro-batched stream-stream join must equal the batch join")
  }

  test("streamed CDC apply equals the one-shot fold of the whole feed") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingIngest
      .deltaApplyStream(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    // one-shot: fold ALL ops in a single applyOps step
    val c = graft.ops.Fixtures.customer(spark, d)
      .select(org.apache.spark.sql.functions.col("c_custkey"), org.apache.spark.sql.functions.col("c_mktsegment"))
    val inserts = c.withColumn("is_deleted", lit(0L)).withColumn("seq", col("c_custkey").cast("long"))
    val updates = c.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_u")))
      .withColumn("is_deleted", lit(0L))
      .withColumn("seq", (col("c_custkey") + 10000000L).cast("long"))
    val deletes = c.filter(col("c_custkey") % 11 === 0)
      .withColumn("is_deleted", lit(1L))
      .withColumn("seq", (col("c_custkey") + 20000000L).cast("long"))
    val all = inserts.unionByName(updates).unionByName(deletes)
    val batch = graft.ops.DeltaSync
      .applyOps(all.limit(0), all, "c_custkey", "seq", Seq("c_mktsegment"))
      .filter(col("is_deleted") === 0L)
      .select("c_custkey", "c_mktsegment", "seq")
      .orderBy("c_custkey")
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(streamed == batch, "micro-batched apply must equal the one-shot fold")
    assert(batch.nonEmpty)
  }

  test("streamed containment probe equals the batch index probe exactly") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingIngest
      .cdcContainmentStream(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    val batch = graft.ops.Cdc
      .cdcContainmentIndex(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(streamed == batch, "micro-batching must not change containment pairs")
    assert(batch.nonEmpty, "the seeded quoters/copies must flag something")
  }

  test("streamed perplexity scores equal the batch route exactly") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingIngest
      .perplexityStreamScores(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    val batch = SparkEntry.queries("perplexity_score")(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(streamed == batch, "micro-batching must not change per-doc NLL")
  }

  test("streaming CMS counters: state bounded at depth×width, serve equals the batch sketch") {
    val d = "/root/testdata/sf0.001"
    val streamed = StreamingIngest
      .sketchStreamTopk(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    val batch = SparkEntry.queries("sketch_topk_tokens")(spark, d)
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(streamed == batch, "replayed counters must serve the batch sketch's exact output")
    // the state bound: the counter relation can never exceed depth×width
    // rows however many distinct tokens arrive (the reason this is a
    // sketch and not an exact streaming token count)
    val docs = graft.ops.Fixtures.documents(spark, d)
    import org.apache.spark.sql.functions._
    val counters = graft.ops.CorpusStats
      .cmsCounters(docs.select(explode(split(col("text"), " ")).as("token")), 1024, 4)
    assert(counters.count() <= 4L * 1024L)
  }

  test("stream-maintained search index: bootstrap + appends + mid-stream compaction ≡ one-shot build") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    val idx = tempDir("graft_search_stream_idx").toString + "/idx"
    val ckpt = tempDir("graft_search_stream_ck").toString
    val docs = Seq(
      (1L, "cat dog"), (2L, "cat"), (3L, "dog cat extra"), (4L, "bird"),
      (5L, "cat dog cat"), (6L, "dog bird cat")
    )
    val mem = MemoryStream[(Long, String)]
    val q = StreamingIngest.searchIndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt, compactEvery = 2)
    // batch 0 bootstraps (no meta yet), batches 1-2 append, compaction fires after batch 1
    mem.addData(docs.take(2): _*); q.processAllAvailable()
    mem.addData(docs.slice(2, 4): _*); q.processAllAvailable()
    mem.addData(docs.drop(4): _*); q.processAllAvailable()
    q.stop()
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.ops.Search
      .conjunctiveSearch(docs.toDF("doc_id", "text"), "doc_id", "text", Seq("cat", "dog"), 10)
    assert(
      rows(graft.ops.Search.conjunctiveFromIndex(spark, idx, Seq("cat", "dog"), 10)) == rows(batch),
      "stream-maintained index must answer like the one-shot corpus pass"
    )
    // meta accumulated across bootstrap + appends (and survived the compaction repair)
    val meta = spark.read.parquet(s"$idx/meta").select("n_docs", "total_toks").head()
    assert((meta.getLong(0), meta.getLong(1)) == ((6L, 13L)), meta.toString)
  }

  test("stream-maintained ANALYZED index: analyzed BM25 probe equals the one-shot corpus route") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val idx = tempDir("graft_search_stream_an").toString + "/idx"
    val ckpt = tempDir("graft_search_stream_anck").toString
    val docs = Seq(
      (1L, "CAT dog extra pad pad"), (2L, "[cat] pad"), (3L, "cat dog pad pad pad pad"),
      (4L, "Dog! pad pad"), (5L, "!!! cat pad"), (6L, "dog cat dog pad")
    )
    val mem = MemoryStream[(Long, String)]
    val q = StreamingIngest.searchIndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt, compactEvery = 2, analyzed = true)
    mem.addData(docs.take(2): _*); q.processAllAvailable()
    mem.addData(docs.slice(2, 4): _*); q.processAllAvailable()
    mem.addData(docs.drop(4): _*); q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.ops.Search
      .bm25Search(docs.toDF("doc_id", "text"), "doc_id", "text", Seq("Cat", "DOG!"), 10, Folded)
    assert(
      rows(graft.ops.Search.bm25FromIndex(spark, idx, Seq("Cat", "DOG!"), 10, Folded)) == rows(batch),
      "stream-maintained analyzed index must answer analyzed BM25 like the one-shot corpus pass"
    )
    // the apositions relation is stream-maintained too: the analyzed
    // phrase probe must equal the one-shot corpus window route
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(
      m(graft.ops.Search.phraseFromIndex(spark, idx, Seq("Cat", "DOG!"), Folded)) ==
        m(graft.ops.Search.phraseSearch(docs.toDF("doc_id", "text"), "doc_id", "text", Seq("Cat", "DOG!"), Folded)),
      "stream-maintained apositions must answer analyzed phrase like the one-shot corpus pass"
    )
  }

  test("search-index batch apply is exactly-once under a full replay of an unmarked batch") {
    import spark.implicits._
    val idx = tempDir("graft_search_replay").toString + "/idx"
    val a = Seq((1L, "cat dog"), (2L, "cat")).toDF("doc_id", "text")
    val b = Seq((3L, "dog cat extra"), (4L, "bird")).toDF("doc_id", "text")
    graft.ops.Search.applySearchIndexBatch(a, "doc_id", "text", idx, 0L)
    graft.ops.Generations.writeLastApplied(spark, idx, 0L)
    graft.ops.Search.applySearchIndexBatch(b, "doc_id", "text", idx, 1L)
    // CRASH window: batch 1's files and meta are on disk but the marker
    // is not — foreachBatch replays the batch IN FULL. The replay must
    // not duplicate postings/doclen rows or inflate meta.
    graft.ops.Search.applySearchIndexBatch(b, "doc_id", "text", idx, 1L)
    graft.ops.Generations.writeLastApplied(spark, idx, 1L)
    assert(graft.ops.Generations.lastApplied(spark, idx) == 1L)
    // doclen holds each doc exactly once
    assert(spark.read.parquet(s"$idx/doclen").count() == 4L)
    val meta = spark.read.parquet(s"$idx/meta").select("n_docs", "total_toks").head()
    assert((meta.getLong(0), meta.getLong(1)) == ((4L, 7L)), meta.toString)
    // probe equals the one-shot corpus pass over the union
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.ops.Search
      .conjunctiveSearch(a.unionByName(b), "doc_id", "text", Seq("cat", "dog"), 10)
    assert(
      rows(graft.ops.Search.conjunctiveFromIndex(spark, idx, Seq("cat", "dog"), 10)) == rows(batch),
      "a replayed batch must leave the index identical to a clean run"
    )
  }

  test("batch apply is LEDGER-cost: meta comes from dir/meta_inc sums, never a doclen/apostings scan") {
    import spark.implicits._
    val idx = tempDir("graft_search_ledger").toString + "/idx"
    val a = Seq((1L, "CAT dog"), (2L, "cat!")).toDF("doc_id", "text")
    val b = Seq((3L, "dog cat extra"), (4L, "bird")).toDF("doc_id", "text")
    graft.ops.Search.applySearchIndexBatch(a, "doc_id", "text", idx, 0L, analyzed = true)
    // sabotage the doc-keyed relations BETWEEN batches: if the apply
    // path scanned them (the round-13 full-relation recompute), these
    // rows would inflate meta/ameta; the ledger path must not see them
    Seq((999L, 1000L)).toDF("doc_id", "dl").write.mode("append").parquet(s"$idx/doclen")
    Seq(("bogus", 999L, 1L, 500L)).toDF("token", "doc_id", "tf", "adl")
      .write.mode("append").parquet(s"$idx/apostings/tbucket=7")
    graft.ops.Search.applySearchIndexBatch(b, "doc_id", "text", idx, 1L, analyzed = true)
    val meta = spark.read.parquet(s"$idx/meta").select("n_docs", "total_toks").head()
    assert(
      (meta.getLong(0), meta.getLong(1)) == ((4L, 7L)),
      s"meta must be the ledger sums (batch-sized aggregates), not a doclen rescan: $meta"
    )
    val ameta = spark.read.parquet(s"$idx/ameta").select("total_atoks").head().getLong(0)
    assert(ameta == 7L, s"ameta must be the ledger sums, not an apostings rescan: $ameta")
    // the ledger holds one row per applied batch
    assert(spark.read.parquet(s"$idx/meta_inc").count() == 2L)
    // and a REPLAYED batch rewrites its own ledger row — sums unchanged
    graft.ops.Search.applySearchIndexBatch(b, "doc_id", "text", idx, 1L, analyzed = true)
    val meta2 = spark.read.parquet(s"$idx/meta").select("n_docs", "total_toks").head()
    assert((meta2.getLong(0), meta2.getLong(1)) == ((4L, 7L)), meta2.toString)
    assert(spark.read.parquet(s"$idx/meta_inc").count() == 2L, "replay must not grow the ledger")
  }

  test("fielded batch apply is LEDGER-cost and exactly-once: fmeta from fmeta_inc sums; replay converges") {
    import spark.implicits._
    val idx = tempDir("graft_fld_ledger").toString + "/idx"
    val flds = Seq("title", "body")
    val a = Seq((1L, "big cat", "dog runs fast"), (2L, "small dog", "cat naps"))
      .toDF("doc_id", "title", "body")
    val b = Seq((3L, "bird song", "cat dog bird")).toDF("doc_id", "title", "body")
    graft.ops.Search.applyFieldedIndexBatch(a, "doc_id", flds, idx, 0L)
    // sabotage the doc-keyed relation BETWEEN batches: if the apply
    // scanned fdoclen to recompute fmeta, this row would inflate it
    Seq((999L, 1000L, 1000L)).toDF("doc_id", "dl_title", "dl_body")
      .write.mode("append").parquet(s"$idx/fdoclen")
    graft.ops.Search.applyFieldedIndexBatch(b, "doc_id", flds, idx, 1L)
    def fmeta() = spark.read.parquet(s"$idx/fmeta").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val m = fmeta()
    assert(m("title") == ((3L, 6L)) && m("body") == ((3L, 8L)),
      s"fmeta must be the per-field ledger sums, never an fdoclen rescan: $m")
    assert(spark.read.parquet(s"$idx/fmeta_inc").count() == 4L, "2 batches x 2 field rows")
    // a REPLAYED batch rewrites its own ledger rows — sums unchanged
    graft.ops.Search.applyFieldedIndexBatch(b, "doc_id", flds, idx, 1L)
    assert(fmeta() == m, "replay must converge")
    assert(spark.read.parquet(s"$idx/fmeta_inc").count() == 4L, "replay must not grow the ledger")
    // field-set mismatch fails loudly before touching anything
    intercept[IllegalArgumentException] {
      graft.ops.Search.applyFieldedIndexBatch(
        Seq((9L, "x", "y")).toDF("doc_id", "title", "abstract"), "doc_id",
        Seq("title", "abstract"), idx, 2L)
    }
  }

  test("fielded upsert apply: old versions die, per-field stats heal at compaction") {
    import spark.implicits._
    val idx = tempDir("graft_fld_upsert").toString + "/idx"
    val flds = Seq("title", "body")
    val v1 = Seq((1L, "anchor one", "cat original text"), (2L, "anchor two", "dog keeps this"))
      .toDF("doc_id", "title", "body")
    val v2 = Seq((1L, "anchor one", "bird rewritten text longer")).toDF("doc_id", "title", "body")
    graft.ops.Search.applyFieldedIndexBatch(v1, "doc_id", flds, idx, 0L, upsert = true)
    graft.ops.Search.applyFieldedIndexBatch(v2, "doc_id", flds, idx, 1L, upsert = true)
    def hits(term: String) = graft.ops.Search
      .fieldedTermSearch(spark, idx, "body", Seq(term), 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits("cat").isEmpty, "the old version of doc 1 must be dead")
    assert(hits("bird") == Set(1L) && hits("dog") == Set(2L))
    // pre-compaction fmeta carries the stale old-version counts (the
    // documented Lucene window); compaction heals exactly
    graft.ops.Search.compactFieldedIndex(spark, idx)
    val m = spark.read.parquet(s"$idx/fmeta").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m("title") == ((2L, 4L)) && m("body") == ((2L, 7L)), m.toString)
    assert(hits("cat").isEmpty && hits("bird") == Set(1L), "purge must not move the probe")
    // the fielded ledger folded to one seed row-set
    assert(spark.read.parquet(s"$idx/fmeta_inc").count() == 2L, "one row per field after fold")
  }

  test("ledger lifecycle: seeded from a saveSearchIndex-built meta; folded to one row by compaction") {
    import spark.implicits._
    val idx = tempDir("graft_search_ledger_seed").toString + "/idx"
    val base = Seq((1L, "cat dog"), (2L, "cat")).toDF("doc_id", "text")
    val inc = Seq((3L, "dog cat extra")).toDF("doc_id", "text")
    graft.ops.Search.saveSearchIndex(base, "doc_id", "text", idx)
    // first streamed batch onto a pre-ledger index: seeds from meta,
    // then adds its own row — meta = base + increment
    graft.ops.Search.applySearchIndexBatch(inc, "doc_id", "text", idx, 0L)
    val meta = spark.read.parquet(s"$idx/meta").select("n_docs", "total_toks").head()
    assert((meta.getLong(0), meta.getLong(1)) == ((3L, 6L)), meta.toString)
    assert(spark.read.parquet(s"$idx/meta_inc").count() == 2L, "seed row + batch row")
    def probe() = graft.ops.Search
      .conjunctiveFromIndex(spark, idx, Seq("cat", "dog"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val before = probe()
    graft.ops.Search.compactSearchIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/meta_inc").count() == 1L, "compaction folds the ledger")
    val meta2 = spark.read.parquet(s"$idx/meta").select("n_docs", "total_toks").head()
    assert((meta2.getLong(0), meta2.getLong(1)) == ((3L, 6L)), meta2.toString)
    assert(probe() == before, "fold must not change a probe bit")
    // post-fold batches keep accumulating on the folded seed
    graft.ops.Search.applySearchIndexBatch(
      Seq((4L, "dog")).toDF("doc_id", "text"), "doc_id", "text", idx, 1L)
    val meta3 = spark.read.parquet(s"$idx/meta").select("n_docs", "total_toks").head()
    assert((meta3.getLong(0), meta3.getLong(1)) == ((4L, 7L)), meta3.toString)
  }

  test("fresh-checkpoint restart on an existing index dir fails loudly (no silent batch drop)") {
    implicit val sc = spark.sqlContext
    // every exactly-once maintainer shares the gate: each is started on
    // a stream of (doc_id, text, op) rows shaped the way it reads them
    type Start = (org.apache.spark.sql.DataFrame, String, String) => org.apache.spark.sql.streaming.StreamingQuery
    def checkGate(kind: String)(start: Start): Unit = StreamingIngest.withScratch(spark, s"graft_${kind}_sid") { base =>
      val idx = base.resolve("idx").toString
      val ckptA = base.resolve("cka").toString
      val ckptB = base.resolve("ckb").toString
      def stream(mem: MemoryStream[(Long, String, String)]) = mem.toDF().toDF("doc_id", "text", "op")
      val memA = MemoryStream[(Long, String, String)]
      val qA = start(stream(memA), idx, ckptA)
      memA.addData((1L, "cat dog", "I"), (2L, "cat", "I")); qA.processAllAvailable(); qA.stop()
      // a NEW checkpoint restarts batch ids at 0: with only the marker
      // gate, every batch until id > old marker would be silently lost —
      // the identity gate must fail the stream instead
      val memB = MemoryStream[(Long, String, String)]
      val qB = start(stream(memB), idx, ckptB)
      memB.addData((3L, "dog extra", "I"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qB.processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
      assert(
        chain(e).exists(_.contains("TOGETHER")),
        s"$kind: expected the retain-or-discard-together guard, got: ${chain(e).mkString(" | ")}"
      )
      // the SAME checkpoint resuming is fine (identity matches)
      val memC = MemoryStream[(Long, String, String)]
      val qC = start(stream(memC), idx, ckptA)
      memC.addData((3L, "dog extra", "I")); qC.processAllAvailable(); qC.stop()
    }
    checkGate("search")((df, idx, ckpt) =>
      StreamingIngest.searchIndexStream(df.drop("op"), "doc_id", "text", idx, ckpt))
    checkGate("fielded")((df, idx, ckpt) =>
      StreamingIngest.fieldedIndexStream(df.toDF("doc_id", "title", "body"), "doc_id", Seq("title", "body"), idx, ckpt))
    checkGate("docstore")((df, idx, ckpt) =>
      StreamingIngest.docStoreStream(df.drop("op"), "doc_id", "text", idx, ckpt))
    checkGate("cdc")((df, idx, ckpt) =>
      StreamingIngest.searchIndexCdcStream(df, "doc_id", "text", "op", idx, ckpt))
  }

  test("CDC apply: delete removes, update replaces, a LATER re-insert resurrects past the delete") {
    import graft.ops.Search
    val dir = tempDir("graft_cdc_apply").toString
    val b0 = Seq((1L, "cat dog"), (2L, "bird seed"), (3L, "cat tail")).toDF("doc_id", "text")
    Search.applySearchIndexBatch(b0, "doc_id", "text", dir, batchId = 0L, upsert = true)
    // mixed wave: D doc 1, U doc 3 — one apply, tombstones for BOTH,
    // rows only for the update (the CDC stream's exact call shape)
    Search.applySearchIndexBatch(
      Seq((3L, "fish tail")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 1L, upsert = true,
      tombstoneIds = Some(Seq(1L, 3L).toDF("doc_id"))
    )
    def ids(t: String) =
      Search.conjunctiveFromIndex(spark, dir, Seq(t), 10).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids("cat") == Set.empty[Long], "deleted doc 1 and updated doc 3's old version must be gone")
    assert(ids("fish") == Set(3L) && ids("bird") == Set(2L))
    // a later INSERT of the deleted id must resurrect it (its
    // generation exceeds the delete tombstone's asof)
    Search.applySearchIndexBatch(
      Seq((1L, "worm soil")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 2L, upsert = true
    )
    assert(ids("worm") == Set(1L), "re-insert after delete must serve")
    assert(ids("cat") == Set.empty[Long], "the resurrected doc serves only its NEW text")
  }

  test("an interrupted drain stops its query and still removes its scratch tree") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val started = new CountDownLatch(1)
    val never = new CountDownLatch(1)
    @volatile var scratch: java.nio.file.Path = null
    @volatile var failure: Throwable = null
    val before = spark.streams.active.map(_.id).toSet
    val drainer = new Thread(() =>
      try StreamingIngest.withScratch(spark, "graft_drain_interrupt") { base =>
        scratch = base
        val src = base.resolve("src").toString
        spark.range(8).repartition(2).write.parquet(src)
        val blocked = StreamingIngest.batches(StreamingIngest.fileReplay(spark, src)) { (_, _) =>
          started.countDown()
          never.await()
        }
        StreamingIngest.drain(blocked, base.resolve("ckpt").toString)
      } catch { case e: Throwable => failure = e })
    drainer.start()
    assert(started.await(5, TimeUnit.MINUTES), "the first micro-batch never started")
    val running = spark.streams.active.filterNot(q => before(q.id))
    assert(running.length == 1)
    drainer.interrupt()
    drainer.join(TimeUnit.MINUTES.toMillis(5))
    never.countDown() // frees the batch if the query was left running
    assert(!drainer.isAlive, "the draining thread did not return")
    assert(failure.isInstanceOf[InterruptedException], s"expected the interrupt to propagate, got $failure")
    assert(!running.head.isActive, "the interrupted drain left its query running")
    assert(scratch != null && !Files.exists(scratch), s"scratch tree $scratch left behind")
  }

  test("a failed CDC state write keeps the applied state; a re-run on the checkpoint finishes the fold") {
    import org.apache.spark.sql.DataFrame
    StreamingIngest.withScratch(spark, "graft_cdc_swap") { base =>
      val src = base.resolve("ops").toString
      val state = base.resolve("state").toString
      val ckpt = base.resolve("ckpt").toString
      StreamingIngest.writeCdcFeed(spark, "/root/testdata/sf0.001", src)
      def rows(df: DataFrame): Set[Seq[Any]] =
        df.select("c_custkey", "c_mktsegment", "is_deleted", "seq").collect().map(_.toSeq).toSet
      def applyAll(shape: Long => DataFrame => DataFrame) =
        StreamingIngest.batches(StreamingIngest.fileReplay(spark, src)) { (batch, batchId) =>
          StreamingIngest.rewriteState(spark, state, batchId, shape(batchId))(StreamingIngest.cdcMerge(batch))
        }
      // batch 2's merged state fails INSIDE its write job, after the
      // merge itself was materialized
      val boom = udf((x: String) => if (x == "\u0000") x else throw new IllegalStateException("injected write failure"))
      @volatile var afterFirst = Set.empty[Seq[Any]]
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingIngest.drain(
          applyAll { batchId => df =>
            if (batchId == 0L) afterFirst = rows(df)
            if (batchId == 1L) df.withColumn("c_mktsegment", boom(col("c_mktsegment"))) else df
          },
          ckpt
        )
      }
      assert(
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("injected write failure")),
        e.toString
      )
      assert(afterFirst.nonEmpty)
      assert(rows(spark.read.parquet(state)) == afterFirst, "the failed write must leave batch 1's state in place")
      assert(graft.core.Compaction.readTextFile(spark, s"$state/_graft_last_batch").map(_.trim) == Some("0"))
      // the same checkpoint resumes at the failed batch and lands on the
      // one-shot fold of the whole feed
      StreamingIngest.drain(applyAll(_ => identity), ckpt)
      assert(rows(spark.read.parquet(state)) == rows(StreamingIngest.cdcMerge(spark.read.parquet(src))(None)))
      assert(!Files.exists(Paths.get(state + "__compacting")))
    }
  }

  test("replays leave no running query and no scratch dir behind") {
    import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryStartedEvent, QueryTerminatedEvent}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val prefixes = Seq("graft_cdc_apply", "graft_facet_stream", "graft_events_replay")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs(): Set[String] =
      tmp.listFiles().map(_.getName).filter(n => prefixes.exists(n.startsWith)).toSet
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    // query events reach the context's listener bus from every session,
    // including the clones the stateful replays run in
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case q: QueryStartedEvent    => started.add(q.runId)
        case q: QueryTerminatedEvent => ended.add(q.runId)
        case _                       => ()
      }
    }
    val before = scratchDirs()
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq("delta_apply_stream", "search_facets_stream", "events_stream_replay").foreach { name =>
        assert(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count() > 0, name)
      }
      // 1 CDC drain + 2 × 2 sibling facet drains + 2 window-replay phases
      eventually(timeout(Span(60, Seconds))) {
        assert(started.size == 7)
        assert(ended.containsAll(started))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.streams.active.forall(q => !started.contains(q.runId)))
    assert(scratchDirs() -- before == Set.empty[String])
  }
}
