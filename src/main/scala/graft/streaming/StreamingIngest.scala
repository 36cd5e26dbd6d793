package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Query
import graft.Query.{EveryRun, FirstRun}

/** Structured Streaming operators (SURVEY.md §3.2's Spark-native
  * shape): exactly-once incremental file discovery via the streaming
  * file source + checkpoint (replacing the reference's logging-table
  * discovery loop), watermarked windowed aggregation, and custom
  * session state via flatMapGroupsWithState.
  *
  * `Trigger.AvailableNow` gives the reference's batch-style "process
  * everything waiting, then stop" run mode; a continuous trigger is
  * the same pipeline. State (which files are done) lives in the
  * checkpoint — per-file error quarantine and modified-file reload
  * stay in graft.sync.FileStateSync (Spark's file source cannot
  * express them natively; SURVEY.md §7.4.4).
  *
  * Every oracle-gated replay below runs on one combinator:
  * [[withScratch]] owns its temp tree, [[fileReplay]] reads a parquet
  * dir as one micro-batch per file, and [[drain]] runs the query to
  * the end of its input — the one place a replay waits. The five
  * index-maintenance builders share one exactly-once batch body
  * ([[exactlyOnce]]), and the full-rewrite state replays share one
  * crash-safe swap ([[rewriteState]]).
  */
object StreamingIngest {

  /** Incremental parquet-dir ingestion: every file is processed exactly
    * once across restarts (checkpointed); new files picked up per
    * trigger. maxFilesPerTrigger bounds batch size so executor memory
    * is stable regardless of backlog length — the property that
    * matters when a 100 TB backlog lands at once.
    */
  def ingestParquetDir(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      checkpoint: String,
      outDir: String,
      maxFilesPerTrigger: Int = 16
  ): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .outputMode(OutputMode.Append)
      .start()

  /** Watermarked sliding-window counts per event type. Late events
    * beyond the watermark are dropped (bounded state); window state is
    * distributed by (window, event_type) — no skew pile-up because
    * event_type cardinality is multiplied by the window dimension.
    */
  def windowedEventCounts(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowLen: String = "1 hour",
      slide: String = "30 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value")
      )

  /** Streaming exact dedup with BOUNDED state: duplicates of a
    * content hash arriving within the watermark horizon are emitted
    * once, and the hash's state is dropped once the watermark passes
    * it. Without the watermark bound, dedup state on a continuous
    * 100 TB/day feed grows forever — this is the streaming analog of
    * graft.ops.Dedup.exactDedup, trading cross-horizon exactness for
    * O(horizon) state.
    */
  def dedupStream(
      docs: DataFrame,
      textCol: String,
      tsCol: String,
      watermarkDelay: String = "1 hour"
  ): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** A SESSION CLONE whose shuffle partitioning is derived from the
    * replay source's byte size instead of the session-wide default —
    * guide §2's scale-adaptive partitioning, applied to STATEFUL
    * streaming. Stateful operators (windowed aggs, dropDuplicates,
    * stream-stream joins) allocate and COMMIT one state store per
    * shuffle partition per micro-batch — that count is fixed at the
    * first trigger and checkpointed, AQE never touches it — so an
    * increment-scale replay on a cluster-scale partition count pays
    * dozens of empty state-store commits per trigger, while at real
    * scale the same bytes/32 MB rule lands back on the configured
    * parallelism (the cap). A clone keeps the derived setting out of
    * the caller's session (Verify runs queries concurrently on one
    * session); it shares the SparkContext, so nothing else changes.
    */
  private def statefulReplaySession(s: SparkSession, srcDirs: String*): SparkSession = {
    val conf = s.sessionState.newHadoopConf()
    val bytes = srcDirs.map { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    val target = math.max(2L, math.min(cap.toLong, bytes / (32L << 20) + 1L)).toInt
    val s2 = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      // static/non-settable confs keep their values; NonFatal (not
      // Throwable) so fatal JVM errors and interrupts propagate
      try s2.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    s2.conf.set("spark.sql.shuffle.partitions", target.toString)
    s2
  }

  /** Run `body` in a fresh scratch tree (`<java.io.tmpdir>/<prefix>…`)
    * and delete the tree when `body` returns or throws. The replays
    * MATERIALIZE their result (eager localCheckpoint) inside `body`,
    * so the returned DataFrame never reads the deleted files — and a
    * bench rep leaves /tmp exactly as it found it.
    */
  private[streaming] def withScratch[A](s: SparkSession, prefix: String)(body: java.nio.file.Path => A): A = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    try body(base)
    finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /** `src`'s parquet files as a stream of ONE FILE PER MICRO-BATCH: a
    * replay source written as N files runs as N real micro-batches.
    */
  private[streaming] def fileReplay(s: SparkSession, src: String): DataFrame =
    s.readStream
      .schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)

  /** Spread a micro-batch across the cluster before its per-batch
    * work (guide §2.5/§1.2): a file-source batch arrives with the
    * source FILE's split count — one task for these replays
    * (maxFilesPerTrigger = 1 over small files) — so every map-side
    * stage downstream (shingling, hyperplane dots, tokenizing, model
    * scoring, cosine verification) runs single-task however many cores
    * exist; worse, a broadcast join keeps that parallelism all the way
    * to the sink (JobProfile showed the embedding replay's per-batch
    * verify as one 5 s task while 31 cores idled). One deterministic
    * hash repartition to the context's default parallelism makes the
    * per-batch compute cluster-wide; at 100 TB a real increment
    * arrives as many splits and the same call is a cheap balancing
    * pass of increment-sized data (never corpus-sized).
    */
  private def spread(batch: DataFrame, idCol: String): DataFrame =
    batch.repartition(
      batch.sparkSession.sparkContext.defaultParallelism,
      col(idCol)
    )

  /** A writer that runs `each(batch, batchId)` on every micro-batch. */
  private[streaming] def batches(df: DataFrame)(each: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) => each(batch.toDF(), batchId) }

  /** Start `w` on the checkpoint `ckpt` under `trigger`. */
  private def start(w: DataStreamWriter[_], ckpt: String, trigger: Trigger): StreamingQuery =
    w.option("checkpointLocation", ckpt).trigger(trigger).start()

  /** The replays' trigger: process everything waiting, then stop. */
  private val replayTrigger: Trigger = Trigger.AvailableNow()

  /** Wait for `q` to end. An interrupted wait (a test's hang guard,
    * `Par`'s `shutdownNow`) stops the query before the interrupt
    * propagates: otherwise the query thread keeps running while the
    * caller's scratch cleanup deletes its checkpoint and sink.
    */
  private[streaming] def drain(q: StreamingQuery): Unit =
    try q.awaitTermination()
    finally if (q.isActive) q.stop()

  /** Start `w` on the checkpoint `ckpt` under the replay trigger and
    * [[drain]] it.
    */
  private[streaming] def drain(w: DataStreamWriter[_], ckpt: String): Unit =
    drain(start(w, ckpt, replayTrigger))

  /** `df` as an Append-mode parquet sink at `out`. */
  private def parquetSink(df: Dataset[_], out: String): DataStreamWriter[_] =
    df.writeStream.format("parquet").option("path", out).outputMode(OutputMode.Append)

  /** A writer that appends `f(batch)` to the parquet dir `out` for
    * every micro-batch — the filters-as-streams shape: per-doc output
    * is pure in (doc, persisted artifact), nothing stateful
    * accumulates.
    */
  private def appendEach(df: DataFrame, out: String)(f: DataFrame => DataFrame): DataStreamWriter[Row] =
    batches(df)((batch, _) => f(batch).write.mode(SaveMode.Append).parquet(out))

  /** The `compactEvery` cadence: every K-th batch folds the per-batch
    * file accretion back; 0 disables (callers own maintenance).
    */
  private def compactDue(compactEvery: Int, batchId: Long): Boolean =
    compactEvery > 0 && (batchId + 1) % compactEvery == 0

  /** The exactly-once batch body of the index-maintenance streams
    * ([[searchIndexStream]], [[fieldedIndexStream]], [[ivfIndexStream]],
    * [[searchIndexCdcStream]], [[docStoreStream]]) over the index dir
    * `dir`: [[graft.ops.Generations.once]] gates the batch on the
    * stream's identity and the applied-batch marker, and an applied
    * batch runs `compact` on the `compactEvery` cadence.
    */
  private def exactlyOnce(dir: String, checkpoint: String, compactEvery: Int)(
      apply: (DataFrame, Long) => Unit
  )(compact: SparkSession => Unit): (DataFrame, Long) => Unit = { (batch, batchId) =>
    val bs = batch.sparkSession
    if (graft.ops.Generations.once(bs, dir, checkpoint, batchId)(apply(batch, batchId)) && compactDue(compactEvery, batchId))
      compact(bs)
  }

  /** Streaming state kept by FULL REWRITE, exactly-once and crash-safe:
    * `next` maps the current state (None before the first batch) to
    * the new one, which is written through `shape` into a staged
    * generation together with the batch id (`_graft_last_batch`) and
    * swapped in by [[graft.core.Compaction.replaceWith]]. The merge
    * READS the dir the swap replaces, straight from its plan: the swap
    * deletes the live dir only after the staged write has committed.
    * A write that dies leaves the live state as it was — an overwrite
    * in place deletes it before its job runs. A replayed batch (same
    * checkpoint after a crash, or a full re-run against a fresh
    * checkpoint) is detected by the in-generation marker and skipped,
    * never applied twice.
    */
  private[streaming] def rewriteState(
      s: SparkSession,
      stateDir: String,
      batchId: Long,
      shape: DataFrame => DataFrame = identity
  )(next: Option[DataFrame] => DataFrame): Unit = {
    graft.core.Compaction.recover(s, stateDir)
    val applied = graft.core.Compaction
      .readTextFile(s, s"$stateDir/_graft_last_batch")
      .map(_.trim.toLong)
      .getOrElse(-1L)
    if (batchId > applied) {
      val p = new org.apache.hadoop.fs.Path(stateDir)
      val cur = if (p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)) Some(s.read.parquet(stateDir)) else None
      graft.core.Compaction.replaceWith(s, stateDir) { staged =>
        shape(next(cur)).write.mode(SaveMode.Overwrite).parquet(staged)
        graft.core.Compaction.writeTextFile(s, s"$staged/_graft_last_batch", s"$batchId\n")
      }
    }
  }

  /** Oracle-gated replay of [[dedupStream]]'s bounded-state exact
    * dedup: the events table arrives as 4 micro-batch files and is
    * deduplicated on (user_id, event_type) with
    * dropDuplicatesWithinWatermark. The horizon (400 days) exceeds the
    * fixture's whole time span, so no state is evicted mid-replay and
    * the emitted key set must equal batch `SELECT DISTINCT` — the
    * equality this gate pins. Eviction behavior (duplicates BEYOND the
    * horizon re-emitting, state dropping) is the MemoryStream spec's
    * subject: it needs controlled watermark advancement, which a file
    * replay cannot express deterministically.
    *
    * Emission shape: unlike a windowed aggregate, the dedup operator
    * emits a key's FIRST arrival in the batch that carries it (state
    * only suppresses later copies), so no flush sentinel is needed —
    * AvailableNow drains the backlog and the output is complete. Only
    * the key columns are emitted: which physical row of an
    * intra-batch duplicate group survives is partitioning-dependent,
    * and a gate must not depend on it.
    */
  def dedupStreamExactReplay(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_exact_dedup_stream") { base =>
      val src = base.resolve("src").toString
      val out = base.resolve("keys").toString
      val ckpt = base.resolve("ckpt").toString
      graft.ops.Fixtures
        .events(s, d)
        .select(col("ts"), col("user_id"), col("event_type"))
        .repartition(4, col("user_id"))
        .write
        .parquet(src)
      // state-store partition count derived from the replay's size
      val keys = fileReplay(statefulReplaySession(s, src), src)
        .withWatermark("ts", "400 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      drain(parquetSink(keys, out), ckpt)
      s.read.parquet(out).orderBy("user_id", "event_type").localCheckpoint(true)
    }

  /** Streaming NEAR-dup flags with DISK-backed unbounded-horizon state:
    * each micro-batch probes the persisted MinHash signature index
    * (graft.ops.Dedup.incrementalDedup), appends its flags to `outDir`,
    * then appends its own signatures to the index so later batches see
    * it as history. The batch is shingled and signed ONCE: the probe's
    * cached signature relation is reused for the append and
    * unpersisted after both writes, so steady-state executor memory is
    * one delta-sized relation, not one per micro-batch of the stream's
    * lifetime. Contrast with [[dedupStream]]: that is EXACT dedup
    * whose state is watermark-bounded executor memory; this is
    * NEAR-dup whose state is the signature index on disk — O(corpus
    * signatures), never executor-resident, no horizon.
    *
    * Cold start: `indexDir` need not exist — a never-seeded index
    * probes as empty, so batch 1 flags only its own self-pairs and its
    * append seeds the index (seeding via saveMinhashIndex first gives
    * the stream a pre-existing corpus as history).
    *
    * Idempotency (foreachBatch is at-least-once under retries): a
    * replayed batch re-flags the same pairs — downstream consumers
    * dedup on (new_id, ref_id) — and re-appends its signatures. The
    * duplicate index rows do NOT fan out later batches' flags:
    * duplicate band rows collapse in the DISTINCT'd candidates, and
    * the scoring join's signature fan-out is collapsed by the probe's
    * output-sized dropDuplicates (value-identical rows).
    *
    * Index hygiene over an unbounded stream: every append adds one file
    * per batch (per band dir), so `compactEvery = K > 0` folds the
    * accreted files back down (compactMinhashIndex's staged rewrite +
    * swap) every K batches — probes are bit-identical across a
    * compaction (IncrementalDedupSpec), so the cadence is purely an
    * I/O-shape knob: file counts stay O(index partitioning), not
    * O(stream lifetime). Pick K so compaction I/O (O(index)) amortizes
    * over K batches of appends; 0 disables (callers own maintenance).
    */
  def nearDupFlagsStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      outDir: String,
      checkpoint: String,
      minMatches: Int,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0
  ): StreamingQuery =
    start(
      batches(docs) { (batch, batchId) =>
        val (flags, sigNew) = graft.ops.Dedup
          .incrementalDedupCached(spread(batch, idCol), idCol, textCol, indexDir, minMatches)
        try {
          flags.write.mode(SaveMode.Append).parquet(outDir)
          graft.ops.Dedup.appendSignaturesToIndex(sigNew, indexDir)
          if (compactDue(compactEvery, batchId))
            graft.ops.Dedup.compactMinhashIndex(batch.sparkSession, indexDir)
        } finally sigNew.unpersist()
      },
      checkpoint,
      trigger
    )

  /** The streaming near-dup route as an ORACLE-GATED batch query
    * (`dedup_stream_replay`): seed the index with the even docs, write
    * the odd docs as 4 parquet files, and replay them through
    * [[nearDupFlagsStream]] as real micro-batches (file source,
    * maxFilesPerTrigger = 1, Trigger.AvailableNow). The accumulated
    * flags equal [[graft.ops.Dedup.dedupIncremental]]'s one-shot
    * result on the same parity split — a pair is flagged exactly once
    * whichever batch surfaces it, and n_match is a pure function of
    * the two signatures — so the SAME DuckDB oracle gates the
    * streaming path end to end. Two batching artifacts are normalized:
    * a cross-batch odd pair surfaces as src='index' with arrival-order
    * orientation (the one-shot calls it an 'increment' pair keyed
    * (larger, smaller)), so odd-ref rows are re-keyed and src is
    * recomputed from ref parity. Fresh scratch dirs per run: the query
    * rebuilds stream + flags every time (the bench labels it
    * build-included); `seedIndexFrom` seeds the run's PRIVATE mutable
    * index as an FS copy of a prebuilt one instead of re-signing the
    * history corpus every run.
    */
  def dedupStreamReplay(
      s: SparkSession,
      docs: DataFrame,
      seedIndexFrom: Option[String] = None
  ): DataFrame = withScratch(s, "graft_stream_replay") { base =>
    val idx = base.resolve("index").toString
    val src = base.resolve("src").toString
    val out = base.resolve("flags").toString
    val ckpt = base.resolve("ckpt").toString
    seedIndexFrom match {
      case Some(from) => graft.core.Compaction.copyDir(s, from, idx)
      case None =>
        graft.ops.Dedup
          .saveMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    }
    docs
      .filter(col("doc_id") % 2 =!= 0)
      .select("doc_id", "text")
      .repartition(4, col("doc_id"))
      .write
      .parquet(src)
    drain(
      nearDupFlagsStream(
        fileReplay(s, src),
        "doc_id",
        "text",
        idx,
        out,
        ckpt,
        graft.ops.Dedup.incrementalMinMatches,
        replayTrigger
      )
    )
    val oddRef = col("ref_id") % 2 =!= 0
    s.read
      .parquet(out)
      .select(
        when(oddRef, greatest(col("new_id"), col("ref_id"))).otherwise(col("new_id")).as("new_id"),
        when(oddRef, least(col("new_id"), col("ref_id"))).otherwise(col("ref_id")).as("ref_id"),
        col("n_match"),
        col("est_jaccard")
      )
      .withColumn("src", when(col("ref_id") % 2 === 0, lit("index")).otherwise(lit("increment")))
      .dropDuplicates("new_id", "ref_id")
      .select("new_id", "ref_id", "src", "n_match", "est_jaccard")
      .orderBy("new_id", "ref_id", "src")
      .localCheckpoint(true)
  }

  /** Streaming near-dup flags PLUS live cluster maintenance: the full
    * corpus-clustering loop as one stream. Each micro-batch probes the
    * signature index, appends its flags and signatures (exactly
    * [[nearDupFlagsStream]]), then folds the batch's flag pairs into
    * the persisted cluster map — cold-starting it from the first
    * batch's components, thereafter
    * [[graft.ops.GraphDedup.maintainClusterMap]]'s touched-clusters-
    * only merge, which rewrites ONLY the touched hash(node) bucket
    * dirs. READ I/O is bounded too: the relabel join pulls members of
    * moved clusters from the cluster-keyed secondary index
    * (`_graft_byroot`, partition-pruned to the moved roots' cbucket
    * dirs), so a cycle never scans the whole map — the round-8 layout
    * paid an O(map) scan here; the managed-table layout before it
    * committed the WHOLE map every micro-batch, read AND write.
    * Per-batch cost: O(increment) probe +
    * O(touched clusters) merge/read/write; the map converges to CC
    * over ALL flagged pairs
    * regardless of how arrivals were batched (the incremental-CC
    * equivalence theorem, so batch boundaries cannot change the final
    * state — what makes the streaming route oracle-gatable at all).
    * The maintenance runs INSIDE the try, while the batch's cached
    * signatures still back the flag relation.
    *
    * State lifecycle over an unbounded stream: the explicit cache is
    * released per batch (the `finally`); the per-batch eager
    * localCheckpoints (edges here, the merged rows inside
    * maintainClusterMap) are block-manager entries held only by RDD
    * object references, so the ContextCleaner frees each batch's
    * blocks as soon as the driver GCs them — unlike a forgotten
    * `.cache()`, which the session's cacheManager pins forever. Disk
    * state (index, flags, map dirs) is the durable product, not
    * executor memory.
    */
  def clusteredNearDupStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      outDir: String,
      checkpoint: String,
      minMatches: Int,
      mapDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      mapBuckets: Int = 32,
      compactEvery: Int = 0
  ): StreamingQuery =
    start(
      batches(docs) { (batch, batchId) =>
        val s = batch.sparkSession
        val (flags, sigNew) = graft.ops.Dedup
          .incrementalDedupCached(spread(batch, idCol), idCol, textCol, indexDir, minMatches)
        try {
          flags.write.mode(SaveMode.Append).parquet(outDir)
          graft.ops.Dedup.appendSignaturesToIndex(sigNew, indexDir)
          // the signature index accretes one file per batch — fold it
          // back on the same cadence knob as nearDupFlagsStream (the
          // map needs no twin: touched-bucket maintenance rewrites
          // each touched dir as exactly one file, so map file counts
          // are O(nBuckets) by construction, not O(stream lifetime))
          if (compactDue(compactEvery, batchId))
            graft.ops.Dedup.compactMinhashIndex(s, indexDir)
          // a flagless batch cannot change the map — skip the merge
          // and every dir touch
          val edges = flags
            .select(col("new_id").as("src"), col("ref_id").as("dst"))
            .localCheckpoint(true)
          if (!edges.isEmpty) {
            if (graft.ops.GraphDedup.clusterMapExists(s, mapDir))
              graft.ops.GraphDedup.maintainClusterMap(s, mapDir, edges, mapBuckets)
            else
              // a first batch's flags are increment-sized, so the
              // bounded solve applies (falls back to distributed CC
              // above the ceiling)
              graft.ops.GraphDedup.saveClusterMap(
                graft.ops.GraphDedup.incrementComponents(edges),
                mapDir,
                mapBuckets
              )
          }
        } finally sigNew.unpersist()
      },
      checkpoint,
      trigger
    )

  /** The clustered streaming route as an oracle-gated query: same
    * parity replay as [[dedupStreamReplay]], but the checked output is
    * the CLUSTER MAP after the stream ends — which must equal
    * connected components over the one-shot incremental probe's pair
    * set, computed by the DuckDB oracle as a recursive walk over the
    * same pair CTEs. Scratch dirs are per-run.
    */
  val dedupStreamClusters: (SparkSession, String) => DataFrame = (s, d) =>
    withScratch(s, "graft_stream_cc") { base =>
      val docs = graft.ops.Fixtures.documents(s, d)
      val idx = base.resolve("index").toString
      val src = base.resolve("src").toString
      val out = base.resolve("flags").toString
      val ckpt = base.resolve("ckpt").toString
      val mapDir = base.resolve("clustermap").toString
      // seed the run's private index as an FS copy of the once-per-
      // process demo index (same even-docs build dedup_incremental
      // probes) — the replay measures probe/append/cluster, not
      // re-signing the same history every rep
      graft.core.Compaction.copyDir(s, graft.ops.Dedup.demoEvenMinhashIndex(s, d), idx)
      // two micro-batches: batch 1 cold-starts the map, batch 2 takes the
      // touched-bucket maintenance path — the two distinct code paths
      // (dedup_stream_replay keeps 4 batches for flag-semantics coverage)
      docs
        .filter(col("doc_id") % 2 =!= 0)
        .select("doc_id", "text")
        .repartition(2, col("doc_id"))
        .write
        .parquet(src)
      drain(
        clusteredNearDupStream(
          fileReplay(s, src),
          "doc_id",
          "text",
          idx,
          out,
          ckpt,
          graft.ops.Dedup.incrementalMinMatches,
          mapDir,
          replayTrigger,
          // flagged-pair maps are output-sized; 4 buckets keep a demo
          // cycle from writing 32 near-empty dirs
          mapBuckets = 4
        )
      )
      graft.ops.GraphDedup
        .readClusterMap(s, mapDir)
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
        .localCheckpoint(true)
    }

  /** The watermarked WINDOW-aggregation route as an ORACLE-GATED batch
    * query (`events_stream_replay`): the events table replays through
    * a real watermarked streaming aggregation (file source, one file
    * per micro-batch, Append mode — windows reach the sink only when
    * the watermark FINALIZES them) and the accumulated output must
    * equal the batch tumbling-hour aggregation in DuckDB.
    *
    * Finalization is forced deterministically in two phases sharing
    * one checkpoint: phase 1 streams the real files under a watermark
    * delay longer than the data's time span — so no file order can
    * ever make an event late, and nothing finalizes; phase 2 appends
    * one far-future `__flush` sentinel and resumes, which advances the
    * watermark past every real window and flushes them all. The
    * sentinel's own window never finalizes, so the emitted set is
    * EXACTLY the real windows, each exactly once (checkpointed state
    * survives the restart — the two-phase run is also a restart test).
    * The aggregate is count + DECIMAL sum (the batch query's
    * countDistinct is not streamable in append mode; the streaming
    * answer would be approx_count_distinct, which an exact-match
    * oracle deliberately excludes).
    */
  val eventsStreamReplay: (SparkSession, String) => DataFrame = (s, d) =>
    withScratch(s, "graft_events_replay") { base =>
      import org.apache.spark.sql.types.DecimalType
      val ev = graft.ops.Fixtures
        .events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      val src = base.resolve("src").toString
      val out = base.resolve("win").toString
      val ckpt = base.resolve("ckpt").toString
      ev.repartition(4, col("event_type")).write.parquet(src)
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      // state-store partition count derived from the replay's size
      val s2 = statefulReplaySession(s, src)
      def runOnce(): Unit = {
        val windows = fileReplay(s2, src)
          .withWatermark("ts", "400 days")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("total_value_dec")
          )
        drain(parquetSink(windows, out), ckpt)
      }
      runOnce()
      // phase 2: the flush sentinel — 402 days past the corpus max, so
      // watermark = sentinel − 400 d clears every real window end
      import s.implicits._
      val sentinel = new java.sql.Timestamp(maxTs.getTime + 402L * 24 * 3600 * 1000)
      Seq((sentinel, "__flush", 0.0))
        .toDF("ts", "event_type", "value")
        .write.mode(SaveMode.Append).parquet(src)
      runOnce()
      s.read
        .parquet(out)
        .filter(col("event_type") =!= "__flush")
        .select(
          expr("unix_micros(window.start) div 3600000000").as("hour_bucket"),
          col("event_type"),
          col("n_events"),
          col("total_value_dec").cast("string").as("total_value")
        )
        .orderBy("hour_bucket", "event_type")
        .localCheckpoint(true)
    }

  /** Streaming ANOMALY maintenance: the hourly-counts state kept live
    * across micro-batches — the monitoring loop a pipeline runs
    * against its event firehose. Each batch ADDS its (type, hour)
    * counts into a persisted state relation; the anomaly test
    * ([[graft.ops.Events.anomalyFromHourly]], identical expressions to
    * the batch query) reads the state. Counts are associative, so the
    * final state equals the one-shot batch aggregation regardless of
    * batching — which is what makes this route share the batch
    * query's DuckDB oracle.
    *
    * State discipline: the state is AGGREGATE-sized ((types × hours),
    * not corpus-sized), so a full marker-committed rewrite per batch
    * ([[rewriteState]]) is as cheap as any merge — the touched-bucket
    * machinery exists for corpus-sized state (the cluster map), not
    * for this; the rewrite lands as one file.
    */
  private[graft] def applyHourlyBatch(
      s: SparkSession,
      batch: DataFrame,
      batchId: Long,
      stateDir: String
  ): Unit =
    rewriteState(s, stateDir, batchId, _.coalesce(1)) { cur =>
      val bh = graft.ops.Events.hourlyCounts(batch)
      cur.fold(bh)(
        _.unionByName(bh)
          .groupBy(col("event_type"), col("hour_bucket"))
          .agg(sum(col("n")).cast("bigint").as("n"))
      )
    }

  private[graft] def runAnomalyMaintenance(s: SparkSession, src: String, stateDir: String, ckpt: String): Unit =
    drain(batches(fileReplay(s, src))((batch, batchId) => applyHourlyBatch(s, batch, batchId, stateDir)), ckpt)

  val eventsAnomalyStream: (SparkSession, String) => DataFrame = (s, d) =>
    withScratch(s, "graft_events_anomaly") { base =>
      val ev = graft.ops.Fixtures.events(s, d).select(col("event_type"), col("ts_nanos"))
      val src = base.resolve("src").toString
      val state = base.resolve("hourly").toString
      val ckpt = base.resolve("ckpt").toString
      ev.repartition(4, col("event_type")).write.parquet(src)
      runAnomalyMaintenance(s, src, state, ckpt)
      graft.ops.Events.anomalyFromHourly(s.read.parquet(state)).localCheckpoint(true)
    }

  /** Streaming mixed-media ingest: binary payloads arrive as real
    * micro-batches and land, in one pass per batch, in the unified
    * sparse metadata schema — [[graft.ops.Multimodal.decodeMixed]]
    * (sniff → route → per-modality HEADER decoder) lifted onto the
    * stream as a stateless typed transformation, so there is no
    * foreachBatch and no state store: Spark's file-source checkpoint
    * alone gives exactly-once over the payload files, and executor
    * memory per batch is bounded by maxFilesPerTrigger regardless of
    * backlog (payload bytes never shuffle — they die inside their
    * arrival partition, only extracted metadata reaches the sink).
    * This is the landing pass of a 100 TB media lake: the same corpus
    * batched ≡ streamed, which is what the shared oracle pins.
    */
  def mediaStreamIngest(s: SparkSession, media: Dataset[graft.ops.Multimodal.MediaRow]): DataFrame =
    withScratch(s, "graft_media_stream") { base =>
      val src = base.resolve("src").toString
      val out = base.resolve("meta").toString
      val ckpt = base.resolve("ckpt").toString
      // 4 source files ⇒ 4 real micro-batches under maxFilesPerTrigger=1
      media.toDF().repartition(4, col("doc_id")).write.parquet(src)
      import s.implicits._
      val meta = graft.ops.Multimodal.decodeMixed(fileReplay(s, src).as[graft.ops.Multimodal.MediaRow])
      drain(parquetSink(meta, out), ckpt)
      s.read.parquet(out).orderBy("doc_id").localCheckpoint(true)
    }

  /** The driver-registry wrapper: the same formula-derived mixed
    * corpus as the batch `multimodal_mixed_decode`, replayed through
    * [[mediaStreamIngest]] — shares that query's oracle, so streamed
    * ≡ batched is hash-gated end to end.
    */
  def multimodalStreamDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = graft.ops.Fixtures
      .documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(ids =>
        ids.map(id => graft.ops.Multimodal.MediaRow(id, graft.ops.Multimodal.syntheticMixedPayload(id))))
    mediaStreamIngest(s, media)
  }

  /** Streaming ANN SERVE loop: query vectors arrive as micro-batches
    * and each batch runs the BATCHED PQ k-NN join against the
    * persisted index ([[graft.ops.Similarity.pqKnnJoin]] inside
    * foreachBatch — the per-batch work is the set-oriented serving
    * join, never a driver round-trip per query), appending answers to
    * the result sink. Per-query results are independent, so streamed
    * ≡ batched holds exactly and the stream shares the batch join's
    * golden pin. At 100 TB this is the online serving tier: the index
    * is the state (disk, partition-pruned probes), the stream holds
    * nothing between batches, and per-batch memory is bounded by
    * maxFilesPerTrigger exactly like the ingest loops.
    */
  def annStreamServe(s: SparkSession, queries: DataFrame, indexDir: String, k: Int, nProbe: Int): DataFrame =
    withScratch(s, "graft_ann_stream") { base =>
      val src = base.resolve("src").toString
      val out = base.resolve("answers").toString
      val ckpt = base.resolve("ckpt").toString
      queries.repartition(3, col("qid")).write.parquet(src)
      val answers = appendEach(fileReplay(s, src), out) { batch =>
        // the batch frame lives in the stream's CLONED session, whose
        // function registry snapshot predates any outer-session
        // registration — resolve the join (cosine_sim) there, not in
        // the caller's session
        val bs = batch.sparkSession
        graft.functions.GraftFunctions.register(bs)
        graft.ops.Similarity.pqKnnJoin(bs, indexDir, batch, k, nProbe)
      }
      drain(answers, ckpt)
      s.read.parquet(out).orderBy("qid", "rank").localCheckpoint(true)
    }

  /** The embedding twin of [[nearDupFlagsStream]], reusable on any
    * vector stream: per batch probe → flag append → bucket append →
    * cache release, with the same `compactEvery` cadence knob folding
    * the index's one-file-per-batch-per-bucket accretion back to one
    * file per bucket dir (probes bit-identical across a compaction).
    */
  def embNearDupFlagsStream(
      vecs: DataFrame,
      indexDir: String,
      outDir: String,
      checkpoint: String,
      minCos: Double,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0
  ): StreamingQuery =
    start(
      batches(vecs) { (batch, batchId) =>
        import graft.ops.Similarity
        val (flags, nb) = Similarity
          .incrementalEmbeddingDedupCached(spread(batch, "vec_id"), indexDir, minCos, sortOutput = false)
        try {
          flags.write.mode(SaveMode.Append).parquet(outDir)
          Similarity.appendBucketsToIndex(
            nb.select(col("new_id").as("vec_id"), col("vn").as("v"), col("bucket_id")),
            indexDir)
          if (compactDue(compactEvery, batchId))
            Similarity.compactEmbeddingDedupIndex(batch.sparkSession, indexDir)
        } finally nb.unpersist()
      },
      checkpoint,
      trigger
    )

  /** Streaming EMBEDDING near-dup flags — the semantic twin of
    * [[dedupStreamReplay]]: vector increments arrive as micro-batches,
    * each batch probes the persisted sign-LSH bucket index
    * ([[graft.ops.Similarity.incrementalEmbeddingDedupCached]] — index
    * partitions pruned to the batch's occupied buckets), appends its
    * flags, then appends its OWN bucketed vectors so later batches
    * probe it as history; the per-batch bucket cache is released after
    * the two writes. Batch boundaries shift which pairs ride the
    * index vs the increment route, so the result is normalized the
    * same way as the text replay — orientation (max, min) for
    * increment-origin refs, src recomputed from the parity split —
    * after which the replay must equal the ONE-SHOT incremental probe
    * of the same increment bit for bit (shared oracle).
    *
    * Cost shape: each batch's append touches every bucket dir the
    * batch occupies (≤ 256); at FIXTURE scale that is small-file
    * churn — the replay runs ~2× the text twin, whose index has ~16
    * band dirs — but at production scale those dirs hold large files
    * and the bucket layout is exactly what keeps probes partition-
    * pruned. [[graft.ops.Similarity.compactEmbeddingDedupIndex]] is
    * the cadence knob that folds the accretion back.
    */
  def embDedupStreamReplay(s: SparkSession, d: String, compactEvery: Int = 0): DataFrame =
    withScratch(s, "graft_emb_stream") { base =>
      import graft.ops.Similarity
      val idx = base.resolve("index").toString
      val src = base.resolve("src").toString
      val out = base.resolve("flags").toString
      val ckpt = base.resolve("ckpt").toString
      graft.core.Compaction.copyDir(s, Similarity.demoEmbIndexDir(s, d), idx)
      Similarity
        .embIncrementWithClones(s, d)
        .repartition(4, col("vec_id"))
        .write
        .parquet(src)
      drain(embNearDupFlagsStream(fileReplay(s, src), idx, out, ckpt, minCos = 0.3, replayTrigger, compactEvery))
      // normalize away batch-boundary artifacts exactly like the text
      // replay: increment-origin refs (odd ids — clones land odd too)
      // orient (max, min) and src comes from the parity split
      val oddRef = col("ref_id") % 2 =!= 0
      s.read
        .parquet(out)
        .select(
          when(oddRef, greatest(col("new_id"), col("ref_id"))).otherwise(col("new_id")).as("new_id"),
          when(oddRef, least(col("new_id"), col("ref_id"))).otherwise(col("ref_id")).as("ref_id"),
          col("bucket_id"),
          col("cos_sim")
        )
        .withColumn("src", when(col("ref_id") % 2 === 0, lit("index")).otherwise(lit("increment")))
        .dropDuplicates("new_id", "ref_id", "src")
        .select("new_id", "ref_id", "src", "bucket_id", "cos_sim")
        .orderBy("new_id", "ref_id", "src")
        .localCheckpoint(true)
    }

  /** SEARCH-INDEX maintenance as a stream — retrieval's member of the
    * filters-as-streams family: documents arrive as micro-batches and
    * each batch is folded into the persisted token-bucketed search
    * index. Probes then serve from an index never more than one batch
    * behind the stream. Index state lives on DISK (the minhash-loop
    * shape): the stream holds nothing between batches, per-batch work
    * is increment-sized plus one doc-cardinality meta aggregate.
    *
    * EXACTLY-ONCE under foreachBatch's at-least-once delivery: each
    * batch applies through [[graft.ops.Search.applySearchIndexBatch]]
    * — batch files land under deterministic `gbatch-<id>` names (a
    * retry deletes a crashed attempt's files before re-applying), meta
    * is the SUM over a batch-keyed increment ledger (`dir/meta_inc`,
    * one scalar row per applied batch — still a pure function of
    * on-disk state, never a read-modify-increment, but LEDGER-sized
    * instead of the per-batch full doclen/apostings recompute it
    * replaced), and an applied-batch marker
    * written LAST makes a replay of a fully-applied batch a no-op. So
    * a crash/retry at any point yields the same index as a clean run —
    * probes never diverge from the one-shot build
    * (StreamingIngestSpec replays a batch to pin this). The stream is
    * still the index dir's single WRITER (concurrent maintainers
    * would race the marker), and the dir records its maintainer's
    * checkpoint identity: restarting with a FRESH checkpoint on an
    * existing index fails loudly (batch ids restart at 0 and the
    * marker would silently drop batches) — retain or discard the
    * checkpoint and index dir together. `compactEvery` folds per-batch
    * file accretion (and the ledger) back every K batches.
    */
  def searchIndexStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0,
      analyzed: Boolean = false,
      upsert: Boolean = false
  ): StreamingQuery = {
    val each = exactlyOnce(indexDir, checkpoint, compactEvery) { (batch, batchId) =>
      graft.ops.Search.applySearchIndexBatch(spread(batch, idCol), idCol, textCol, indexDir, batchId, analyzed, upsert)
    }(graft.ops.Search.compactSearchIndex(_, indexDir))
    start(batches(docs)(each), checkpoint, trigger)
  }

  /** A fixture-corpus index replay: `docs` written as 4 files, their
    * stream mapped by `stream` and drained through
    * [[searchIndexStream]] into a fresh index with a compaction every
    * 3 batches; `probe` then reads the index. Scratch dirs are per-run.
    */
  private def searchIndexReplay(s: SparkSession, prefix: String, docs: DataFrame, idCol: String, textCol: String,
      analyzed: Boolean = false, stream: DataFrame => DataFrame = identity)(probe: String => DataFrame): DataFrame =
    withScratch(s, prefix) { base =>
      val src = base.resolve("src").toString
      val idx = base.resolve("index").toString
      docs.repartition(4, col("doc_id")).write.parquet(src)
      drain(searchIndexStream(stream(fileReplay(s, src)), idCol, textCol, idx, base.resolve("ckpt").toString,
        replayTrigger, compactEvery = 3, analyzed = analyzed))
      probe(idx).orderBy("rank").localCheckpoint(true)
    }

  /** The streaming-maintained search index as an ORACLE-GATED query:
    * the fixture corpus arrives as 4 real micro-batches (file source,
    * maxFilesPerTrigger = 1, AvailableNow), each folded into a fresh
    * index with a mid-stream compaction, then the post-drain
    * conjunctive probe must equal the batch corpus-pass route — it
    * shares search_conjunctive's oracle, so streamed-maintained ≡
    * one-shot-built is hash-gated end to end (batch boundaries cannot
    * matter: postings/doclen rows are per-doc, and df/N/idf are
    * aggregates over the union the appends accumulate).
    */
  def searchStreamProbe(s: SparkSession, d: String): DataFrame =
    searchIndexReplay(s, "graft_search_stream",
      graft.ops.Fixtures.documents(s, d).select(col("doc_id"), col("text")), "doc_id", "text") {
      graft.ops.Search.conjunctiveFromIndex(s, _, graft.ops.Search.fixtureAndTerms, 10)
    }

  /** STREAMING RAG INGESTION as an ORACLE-GATED query: documents
    * arrive as 4 real micro-batches, each batch CHUNKS in-plan
    * ([[graft.ops.Search.chunkedDocs]] — a stateless projection, so it
    * rides the micro-batch) and folds into the persisted CHUNK index
    * through the standard exactly-once apply (gbatch names, meta
    * ledger, applied marker) with a mid-stream compaction; the
    * post-drain chunk-BM25 probe must equal the one-shot corpus
    * route — it shares search_chunk_bm25's oracle, so the whole RAG
    * ingestion loop (stream → chunk → index → pooled retrieval) is
    * hash-gated end to end.
    */
  def searchStreamChunkProbe(s: SparkSession, d: String): DataFrame =
    searchIndexReplay(s, "graft_chunk_stream",
      graft.ops.Fixtures.documents(s, d).select(col("doc_id"), col("text")), "cid", "ctext",
      stream = graft.ops.Search.chunkedDocs(_, "doc_id", "text", graft.ops.Search.fixtureChunkSize)) {
      dir => graft.ops.Search.chunkBm25TopK(graft.ops.Search.Index(s, dir), graft.ops.Search.fixtureOrTerms, 10)
    }

  /** The ANALYZED stream maintenance path as an ORACLE-GATED query —
    * [[searchStreamProbe]]'s twin for the mode real users run: the
    * case/punctuation-DAMAGED fixture corpus arrives as 4 real
    * micro-batches, each folded into a fresh analyzed index
    * (apostings/apositions/ameta maintained per batch through the
    * meta-increment ledger) with a mid-stream compaction, then the
    * post-drain analyzed BM25 probe must equal the one-shot corpus
    * route — it shares search_analyzed_bm25's oracle, so the whole
    * analyzed maintenance lifecycle (batch apply → ledger sums →
    * compaction fold) is hash-gated end to end.
    */
  def searchStreamAnalyzedProbe(s: SparkSession, d: String): DataFrame =
    searchIndexReplay(s, "graft_search_stream_an",
      graft.ops.Search.damagedFixtureDocs(s, d).select(col("doc_id"), col("text")), "doc_id", "text",
      analyzed = true) {
      graft.ops.Search.bm25FromIndex(s, _, graft.ops.Search.fixtureOrTerms.map(_.toUpperCase), 10,
        graft.ops.Search.Analyzer.Folded)
    }

  /** A two-phase replay on ONE checkpoint — the shape of the upsert
    * and CDC probes: `initial` is written as 4 source files and `run`
    * drains them, then `wave` lands as one more file in the SAME
    * source dir and `run` drains again — restarting on the same
    * checkpoint picks up exactly that file as the next batch (batch
    * ids continue). `run` and `result` name their dirs through `at`
    * (the source is `at("src")`); scratch dirs are per-run.
    */
  private def twoPhaseReplay(s: SparkSession, prefix: String, initial: DataFrame, wave: DataFrame)(
      run: (String => String) => Unit
  )(result: (String => String) => DataFrame): DataFrame =
    withScratch(s, prefix) { base =>
      val at = (name: String) => base.resolve(name).toString
      initial.repartition(4, col("doc_id")).write.parquet(at("src"))
      run(at)
      wave.coalesce(1).write.mode("append").parquet(at("src"))
      run(at)
      result(at)
    }

  /** Streaming UPSERT maintenance as an ORACLE-GATED query — documents
    * that CHANGE, the index shape real pipelines need (re-crawled
    * pages, edited records): the fixture corpus arrives as 4
    * micro-batches building the index, then the SAME stream (same
    * checkpoint, same source dir — batch ids continue) delivers a 5th
    * batch that RE-SENDS every doc_id % 7 == 3 document with its text
    * rewritten. The upsert apply tombstones the batch's ids at
    * asof = batchId so every older version dies while the batch's own
    * gbatch rows survive; compaction then purges the dead rows and
    * re-derives meta from the survivors. The post-compaction BM25
    * probe must equal the corpus route over the FINAL document
    * versions — the oracle applies the same rewrite in SQL, so old
    * postings still matching (tombstones failed), new postings
    * missing (replacement failed), or drifted stats (heal failed) all
    * hash-mismatch.
    */
  def searchStreamUpsertProbe(s: SparkSession, d: String): DataFrame = {
    val docs = graft.ops.Fixtures.documents(s, d).select(col("doc_id"), col("text"))
    val rewritten = docs
      .filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"), expr("replace(text, 'dup', 'dupword')").as("text"))
    twoPhaseReplay(s, "graft_search_stream_up", docs, rewritten) { at =>
      drain(searchIndexStream(fileReplay(s, at("src")), "doc_id", "text", at("index"), at("ckpt"), replayTrigger,
        upsert = true))
    } { at =>
      graft.ops.Search.compactSearchIndex(s, at("index"))
      graft.ops.Search
        .bm25FromIndex(s, at("index"), graft.ops.Search.fixtureOrTerms, 10)
        .orderBy("rank")
        .localCheckpoint(true)
    }
  }

  /** FIELDED (BM25F) index maintenance as a stream — the last index
    * tier to get the incremental posture every other tier already has
    * (matching the reference's stance that every load path is
    * incremental): fielded documents arrive as micro-batches and each
    * folds into fpostings/fdoclen under the SAME exactly-once protocol
    * as [[searchIndexStream]] (deterministic `gbatch-<gen>` names with
    * crashed-attempt pre-delete, the per-field `fmeta_inc` ledger
    * summed into fmeta, applied-batch marker last, checkpoint-identity
    * guard). Upsert batches tombstone their own ids first; compaction
    * purges and heals per-field stats at the `compactEvery` cadence.
    */
  def fieldedIndexStream(
      docs: DataFrame,
      idCol: String,
      fieldCols: Seq[String],
      indexDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0,
      upsert: Boolean = false
  ): StreamingQuery = {
    val each = exactlyOnce(indexDir, checkpoint, compactEvery) { (batch, batchId) =>
      graft.ops.Search.applyFieldedIndexBatch(spread(batch, idCol), idCol, fieldCols, indexDir, batchId, upsert)
    }(graft.ops.Search.compactFieldedIndex(_, indexDir))
    start(batches(docs)(each), checkpoint, trigger)
  }

  /** The stream-maintained FIELDED index as an ORACLE-GATED query:
    * the fielded fixture corpus (title/body split) arrives as 4 real
    * micro-batches with a mid-stream compaction, then the post-drain
    * BM25F probe must equal the one-shot-built route — it shares
    * search_bm25f's oracle, so the whole fielded maintenance
    * lifecycle (batch apply → per-field ledger sums → compaction
    * fold) is hash-gated end to end.
    */
  def searchStreamBm25fProbe(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_search_stream_fld") { base =>
      val src = base.resolve("src").toString
      val idx = base.resolve("index").toString
      val ckpt = base.resolve("ckpt").toString
      graft.ops.Search
        .fieldedFixtureDocs(s, d)
        .repartition(4, col("doc_id"))
        .write
        .parquet(src)
      drain(fieldedIndexStream(fileReplay(s, src), "doc_id", Seq("title", "body"), idx, ckpt, replayTrigger,
        compactEvery = 3))
      graft.ops.Search
        .bm25fFromIndex(s, idx, graft.ops.Search.fixtureOrTerms, graft.ops.Search.fixtureBoosts, 10)
        .orderBy("rank")
        .localCheckpoint(true)
    }

  /** Streaming fielded UPSERT — [[searchStreamUpsertProbe]]'s twin on
    * the BM25F tier: 4 batches build the index, a 5th re-sends every
    * doc_id % 7 == 3 document with its text rewritten (same
    * checkpoint, batch ids continue), the upsert apply tombstones the
    * old versions, compaction purges and heals the per-field stats,
    * and the post-compaction BM25F probe must equal the fielded model
    * over the FINAL document versions. The title/body split applies
    * AFTER the rewrite, exactly like the oracle's.
    */
  def searchStreamBm25fUpsertProbe(s: SparkSession, d: String): DataFrame = {
    val docs = graft.ops.Fixtures.documents(s, d).select(col("doc_id"), col("text"))
    val rewritten = docs
      .filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"), expr("replace(text, 'dup', 'dupword')").as("text"))
    twoPhaseReplay(s, "graft_search_stream_fldup", graft.ops.Search.fieldedDocsOf(docs),
      graft.ops.Search.fieldedDocsOf(rewritten)) { at =>
      drain(fieldedIndexStream(fileReplay(s, at("src")), "doc_id", Seq("title", "body"), at("index"), at("ckpt"),
        replayTrigger, upsert = true))
    } { at =>
      graft.ops.Search.compactFieldedIndex(s, at("index"))
      graft.ops.Search
        .bm25fFromIndex(s, at("index"), graft.ops.Search.fixtureOrTerms, graft.ops.Search.fixtureBoosts, 10)
        .orderBy("rank")
        .localCheckpoint(true)
    }
  }

  /** IVF ANN-INDEX maintenance as a stream — the vector tier's member
    * of the index-maintenance family: embeddings arrive as
    * micro-batches and each batch is assigned to its nearest PERSISTED
    * centroid in-plan and appended to the partitioned
    * `assignments/list_id=N/` layout (increment × nLists work per
    * batch; the centroids stay fixed — production IVF maintenance
    * never refits per batch, a rebuild is the amortized op). Same
    * exactly-once protocol as the search index: deterministic
    * `gbatch-<B>` file names with crashed-attempt pre-delete, an
    * applied-batch marker written LAST, and the checkpoint-identity
    * guard against fresh-checkpoint batch-id restarts. `compactEvery`
    * folds per-batch file accretion back to one file per list dir.
    */
  def ivfIndexStream(
      vecs: DataFrame,
      indexDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0,
      upsert: Boolean = false
  ): StreamingQuery = {
    val each = exactlyOnce(indexDir, checkpoint, compactEvery) { (batch, batchId) =>
      graft.ops.Similarity.applyIvfIndexBatch(batch, indexDir, batchId, upsert)
    }(graft.ops.Similarity.compactIvfIndex(_, indexDir))
    start(batches(vecs)(each), checkpoint, trigger)
  }

  /** The stream-maintained IVF index as an ORACLE-GATED query: the
    * index is BUILT on the even vec_ids (seeded centroids + their
    * assignments), the odd vec_ids arrive as 3 real micro-batches
    * folded in by [[ivfIndexStream]] (in-plan assignment against the
    * persisted centroids, exactly-once appends, mid-stream
    * compaction), then the post-drain probe runs EXHAUSTIVE
    * (nProbe = nLists) — scanning every list makes the result the
    * exact cosine top-k over the full corpus however the vectors were
    * assigned, so the query SHARES ann_cosine_topk's brute-force
    * oracle: a lost batch, a duplicated replay, or a mis-assigned
    * list that dropped a vector all hash-mismatch. The
    * nProbe < nLists recall behavior of streamed rows is spec-pinned
    * separately (assignment parity with KMeansModel.transform).
    */
  def annStreamIvfProbe(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_ivf_stream") { base =>
      val src = base.resolve("src").toString
      val idx = base.resolve("index").toString
      val ckpt = base.resolve("ckpt").toString
      val emb = graft.ops.Fixtures.embeddings(s, d)
      graft.ops.Similarity.saveIvfIndex(emb.filter(col("vec_id") % 2 === 0), 16, idx)
      emb.filter(col("vec_id") % 2 =!= 0).repartition(3, col("vec_id")).write.parquet(src)
      drain(ivfIndexStream(fileReplay(s, src), idx, ckpt, replayTrigger, compactEvery = 2))
      graft.ops.Similarity
        .ivfTopKFromIndex(s, idx, queryId = 0L, k = 20, nProbe = 16)
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .localCheckpoint(true)
    }

  /** CDC INGESTION into the search index — the production ingestion
    * shape: the feed carries per-row operations (I/U/D) and the index
    * must converge to the source's final state. One exactly-once batch
    * apply handles all three: EVERY id in the batch is tombstoned at
    * the batch's generation (killing all older versions), and only the
    * non-deleted rows are re-added — an insert/update's new version
    * survives its own tombstone (gen < gen is false), a delete
    * contributes the tombstone alone. Contract: at most one operation
    * per id per micro-batch (collapse upstream by sequence number if
    * the source can emit more — the same requirement every CDC MERGE
    * here states). Deleted versions' stats stay counted until
    * compaction purges them (the documented Lucene window).
    */
  def searchIndexCdcStream(
      feed: DataFrame,
      idCol: String,
      textCol: String,
      opCol: String,
      indexDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      compactEvery: Int = 0,
      analyzed: Boolean = false
  ): StreamingQuery = {
    val each = exactlyOnce(indexDir, checkpoint, compactEvery) { (batch, batchId) =>
      val b = spread(batch, idCol)
      graft.ops.Search.applySearchIndexBatch(
        b.filter(col(opCol) =!= "D").drop(opCol),
        idCol,
        textCol,
        indexDir,
        batchId,
        analyzed,
        upsert = true,
        tombstoneIds = Some(b.select(col(idCol)))
      )
    }(graft.ops.Search.compactSearchIndex(_, indexDir))
    start(batches(feed)(each), checkpoint, trigger)
  }

  /** The CDC-maintained index as an ORACLE-GATED query: 4 insert
    * batches build the index, a 5th batch carries a MIXED CDC wave —
    * every doc_id % 5 == 1 document DELETED, every remaining
    * doc_id % 7 == 3 document UPDATED (text rewritten) — then
    * compaction purges and the BM25 probe must equal the corpus route
    * over the source's FINAL state: a deleted doc still serving, an
    * update's old version surviving, or unhealed stats all
    * hash-mismatch.
    */
  def searchStreamCdcProbe(s: SparkSession, d: String): DataFrame = {
    val docs = graft.ops.Fixtures.documents(s, d).select(col("doc_id"), col("text"))
    val wave = docs
      .filter(col("doc_id") % 5 === 1)
      .select(col("doc_id"), col("text"), lit("D").as("op"))
      .union(
        docs
          .filter(col("doc_id") % 7 === 3 && col("doc_id") % 5 =!= 1)
          .select(col("doc_id"), expr("replace(text, 'dup', 'dupword')").as("text"), lit("U").as("op"))
      )
    twoPhaseReplay(s, "graft_search_cdc", docs.withColumn("op", lit("I")), wave) { at =>
      drain(searchIndexCdcStream(fileReplay(s, at("src")), "doc_id", "text", "op", at("index"), at("ckpt"),
        replayTrigger))
    } { at =>
      graft.ops.Search.compactSearchIndex(s, at("index"))
      graft.ops.Search
        .bm25FromIndex(s, at("index"), graft.ops.Search.fixtureOrTerms, 10)
        .orderBy("rank")
        .localCheckpoint(true)
    }
  }

  /** DOC-STORE maintenance as a stream — the rendering tier's member
    * of the index-maintenance family: snippets and facets must reflect
    * the same document versions the postings index serves, so the
    * bucketed text/meta store folds the same micro-batches under the
    * same exactly-once generation protocol (gbatch-<gen> names,
    * applied-batch marker, checkpoint-identity guard, upsert
    * tombstones). Typically run as the postings stream's sibling over
    * one source — each index dir keeps its own single writer.
    */
  def docStoreStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      storeDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      metaCols: Seq[String] = Nil,
      compactEvery: Int = 0,
      upsert: Boolean = false
  ): StreamingQuery = {
    val each = exactlyOnce(storeDir, checkpoint, compactEvery) { (batch, batchId) =>
      graft.ops.Search.applyDocStoreBatch(spread(batch, idCol), idCol, textCol, storeDir, batchId, metaCols, upsert)
    }(graft.ops.Search.compactDocStore(_, storeDir))
    start(batches(docs)(each), checkpoint, trigger)
  }

  /** The SERP's facet sidebar over STREAM-MAINTAINED artifacts, as an
    * ORACLE-GATED query — the full consistency loop: the corpus
    * arrives as 4 micro-batches feeding TWO sibling streams (the
    * postings index and the doc store, each exactly-once on its own
    * checkpoint), then a 5th batch RE-SENDS every doc_id % 7 == 3
    * document with rewritten text through BOTH (upsert tombstones on
    * each artifact), both compact, and the facet counts served from
    * the two maintained artifacts must equal the corpus-route counts
    * over the FINAL document versions: a stale posting (match set
    * wrong), a stale store row (lang joined to a dead version), or a
    * failed purge all hash-mismatch.
    */
  def searchFacetsStreamProbe(s: SparkSession, d: String): DataFrame = {
    val docs = graft.ops.Fixtures.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
    val rewritten = docs
      .filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"), expr("replace(text, 'dup', 'dupword')").as("text"), col("lang"))
    // the two sibling maintainers are fully independent (distinct
    // artifact dirs, distinct checkpoints, read-only source) — drain
    // them CONCURRENTLY (§2.6), and likewise compact them at the end
    twoPhaseReplay(s, "graft_facet_stream", docs, rewritten) { at =>
      graft.core.Par.run(
        () =>
          drain(searchIndexStream(fileReplay(s, at("src")), "doc_id", "text", at("index"), at("ckpt_idx"),
            replayTrigger, upsert = true)),
        () =>
          drain(docStoreStream(fileReplay(s, at("src")), "doc_id", "text", at("store"), at("ckpt_store"),
            replayTrigger, metaCols = Seq("lang"), upsert = true))
      )
    } { at =>
      graft.core.Par.run(
        () => graft.ops.Search.compactSearchIndex(s, at("index")),
        () => graft.ops.Search.compactDocStore(s, at("store"))
      )
      graft.ops.Search
        .facetCounts(s, at("index"), at("store"), graft.ops.Search.fixtureAndTerms, "lang")
        .orderBy(desc("n_hits"), col("lang"))
        .localCheckpoint(true)
    }
  }

  /** The quality FILTER as a stream: train the NB classifier once on
    * the seed split, PERSIST the model artifact (model + prior
    * parquet — the train-once/score-forever lifecycle every
    * production filter runs), then score arriving micro-batches
    * against the loaded artifact inside foreachBatch. Per-doc scores
    * are a pure function of (doc, model), so batch boundaries cannot
    * change them — which is what lets the stream share the batch
    * query's oracle bit for bit. Per batch: one explode + broadcast
    * model join + doc-keyed sum ([[graft.ops.QualityClassifier.score]]),
    * appended to the flags dir; nothing stateful accumulates.
    */
  def classifierStreamScores(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_nb_stream") { base =>
      import graft.ops.QualityClassifier
      val modelDir = base.resolve("model").toString
      val priorsDir = base.resolve("priors").toString
      val src = base.resolve("src").toString
      val out = base.resolve("scores").toString
      val ckpt = base.resolve("ckpt").toString
      val docs = graft.ops.Fixtures.documents(s, d)
      val (model, priors) = QualityClassifier.trainModel(
        docs.filter(QualityClassifier.trainPred),
        expr(QualityClassifier.positivePred),
        QualityClassifier.fixtureVocab
      )
      model.repartition(1).write.parquet(modelDir)
      priors.repartition(1).write.parquet(priorsDir)
      val loadedModel = s.read.parquet(modelDir)
      val loadedPriors = s.read.parquet(priorsDir)
      docs
        .filter(s"NOT (${QualityClassifier.trainPred})")
        .select("doc_id", "lang", "text")
        .repartition(4, col("doc_id"))
        .write
        .parquet(src)
      val scores = appendEach(fileReplay(s, src), out) { batch =>
        QualityClassifier.score(spread(batch, "doc_id"), loadedModel, loadedPriors)
      }
      drain(scores, ckpt)
      s.read.parquet(out).orderBy("doc_id").localCheckpoint(true)
    }

  /** STREAM-STREAM inner join, oracle-gated end to end: two live
    * event feeds (views and clicks, replayed as real micro-batches
    * from separate file sources) joined on the user with an
    * event-time range — "clicks within an hour of a view". Both sides
    * carry watermarks and the range rides the TIMESTAMP columns, so
    * Spark maintains bounded two-sided join state and can clean it as
    * watermarks advance; inner-join matches emit as soon as both
    * sides' rows have arrived, so a full replay emits exactly the
    * batch join's pairs — cross-batch matches included, because the
    * unexpired state IS the other stream's history. The replay
    * watermark delay is effectively infinite (nothing drops), making
    * streamed ≡ batched provable and hash-gated.
    */
  def eventsStreamStreamJoin(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_ss_join") { base =>
      val vDir = base.resolve("views").toString
      val cDir = base.resolve("clicks").toString
      val out = base.resolve("pairs").toString
      val ckpt = base.resolve("ckpt").toString
      val e = graft.ops.Fixtures
        .events(s, d)
        .withColumn("ts_us", expr("ts_nanos div 1000"))
      e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts_us").as("vus"))
        .repartition(3, col("view_id"))
        .write.parquet(vDir)
      e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts_us").as("cus"))
        .repartition(3, col("click_id"))
        .write.parquet(cDir)
      // state-store partition count derived from the two sides' size
      val s2 = statefulReplaySession(s, vDir, cDir)
      def side(dir: String, tsCol: String, timeName: String) =
        fileReplay(s2, dir)
          .withColumn(timeName, timestamp_micros(col(tsCol)))
          .withWatermark(timeName, "3650 days")
      val vs = side(vDir, "vus", "v_time")
      val cs = side(cDir, "cus", "c_time")
      val pairs = vs
        .join(
          cs,
          expr(
            "c_user = v_user AND c_time >= v_time AND c_time <= v_time + interval 1 hour"
          )
        )
        .select(
          col("view_id"), col("click_id"), col("v_user").as("user_id"),
          (col("cus") - col("vus")).cast("bigint").as("gap_us"))
      drain(parquetSink(pairs, out), ckpt)
      s.read.parquet(out).orderBy("view_id", "click_id").localCheckpoint(true)
    }

  /** The reference's delta_import as a STREAM — a CDC feed (upserts +
    * delete tombstones, each with a change sequence) applied to a
    * keyed state table one micro-batch at a time via
    * [[graft.ops.DeltaSync.applyOps]]. The merge is max-by-seq and
    * tombstones are carried as rows, so the apply is COMMUTATIVE
    * across batches: whatever file order the stream surfaces, the
    * final table equals the one-shot fold of the whole feed — which is
    * what lets this share a batch oracle at all. Each cycle rewrites
    * the merged state through [[rewriteState]]'s crash-safe swap
    * (single-writer): a failed write leaves the previous batch's
    * state in place, and a re-run on the same checkpoint resumes.
    *
    * Fixture feed from the customer dimension: full insert load, then
    * segment updates for every 5th key, then tombstones for every 11th
    * — the oracle replays the construction and keeps the max-seq
    * non-deleted row per key.
    */
  def deltaApplyStream(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_cdc_apply") { base =>
      val src = base.resolve("ops").toString
      val state = base.resolve("state").toString
      val ckpt = base.resolve("ckpt").toString
      writeCdcFeed(s, d, src)
      drain(batches(fileReplay(s, src))((batch, batchId) => rewriteState(s, state, batchId)(cdcMerge(batch))), ckpt)
      s.read.parquet(state)
        .filter(col("is_deleted") === 0L)
        .select(col("c_custkey"), col("c_mktsegment"), col("seq"))
        .orderBy("c_custkey")
        .localCheckpoint(true)
    }

  /** [[deltaApplyStream]]'s feed, written as 4 files into `src`. */
  private[streaming] def writeCdcFeed(s: SparkSession, d: String, src: String): Unit = {
    val c = graft.ops.Fixtures.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val inserts = c
      .withColumn("is_deleted", lit(0L))
      .withColumn("seq", col("c_custkey").cast("long"))
    val updates = c
      .filter(col("c_custkey") % 5 === 0)
      .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_u")))
      .withColumn("is_deleted", lit(0L))
      .withColumn("seq", (col("c_custkey") + 10000000L).cast("long"))
    val deletes = c
      .filter(col("c_custkey") % 11 === 0)
      .withColumn("is_deleted", lit(1L))
      .withColumn("seq", (col("c_custkey") + 20000000L).cast("long"))
    inserts.unionByName(updates).unionByName(deletes)
      .repartition(4, col("c_custkey"))
      .write.parquet(src)
  }

  /** [[deltaApplyStream]]'s per-batch merge: `batch` folded into the
    * current state (an empty state before the first batch).
    */
  private[streaming] def cdcMerge(batch: DataFrame)(cur: Option[DataFrame]): DataFrame =
    graft.ops.DeltaSync.applyOps(cur.getOrElse(batch.limit(0)), batch, "c_custkey", "seq", Seq("c_mktsegment"))

  /** The CONTAINMENT screen as a stream — fourth member of the
    * filters-as-streams family: the collected corpus's chunk-digest
    * index is PERSISTED once, arriving micro-batches probe it in
    * foreachBatch for quote/superset duplication in both directions.
    * Per-doc pairs are pure in (doc, index) — the index is frozen, no
    * new×new pairs — so the stream shares the batch probe's oracle.
    */
  def cdcContainmentStream(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_cdc_stream") { base =>
      import graft.ops.Cdc
      val idxDir = base.resolve("chunk_index").toString
      val src = base.resolve("src").toString
      val out = base.resolve("pairs").toString
      val ckpt = base.resolve("ckpt").toString
      val (idx, arrivals) = Cdc.indexProbeInputs(s, d)
      Cdc
        .chunkIndex(idx, "doc_id", "text", Cdc.fixtureDivisor)
        .repartition(1)
        .write
        .parquet(idxDir)
      val index = s.read.parquet(idxDir)
      arrivals.repartition(4, col("doc_id")).write.parquet(src)
      val pairs = appendEach(fileReplay(s, src), out) { batch =>
        Cdc.containmentAgainstIndex(
          spread(batch, "doc_id"), index, "doc_id", "text", Cdc.fixtureDivisor,
          minContainmentMicro = 800000L, maxDocsPerChunk = 8)
      }
      drain(pairs, ckpt)
      s.read.parquet(out).orderBy("new_id", "idx_id").localCheckpoint(true)
    }

  /** Decontamination as a stream: the benchmark's n-gram digests are
    * PERSISTED once (eval suites change rarely; the corpus is the
    * thing that streams) and every arriving micro-batch probes the
    * loaded digest artifact — per-doc flags are a pure function of
    * (doc, digests), so the stream shares the batch route's oracle.
    * Per batch: one shingle pass + broadcast digest join; hit rows
    * append, nothing stateful accumulates.
    */
  def decontaminateStream(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_decon_stream") { base =>
      import graft.ops.Decontamination
      val digDir = base.resolve("digests").toString
      val src = base.resolve("src").toString
      val out = base.resolve("flags").toString
      val ckpt = base.resolve("ckpt").toString
      val docs = graft.ops.Fixtures.documents(s, d)
      Decontamination
        .benchDigests(docs.filter("doc_id % 20 = 0"))
        .repartition(1)
        .write
        .parquet(digDir)
      val digests = s.read.parquet(digDir)
      docs
        .filter("doc_id % 20 <> 0")
        .select("doc_id", "text")
        .repartition(4, col("doc_id"))
        .write
        .parquet(src)
      val flags = appendEach(fileReplay(s, src), out) { batch =>
        Decontamination.contaminationAgainstDigests(spread(batch, "doc_id"), digests)
      }
      drain(flags, ckpt)
      s.read.parquet(out).orderBy("doc_id").localCheckpoint(true)
    }

  /** The CCNet LM filter as a stream — third member of the
    * filters-as-streams family (classifier, decontamination, now the
    * perplexity filter): the unigram model is PERSISTED once as the
    * parquet artifact, arriving micro-batches score against the
    * loaded model in foreachBatch. Per-doc NLL is pure in (doc,
    * model), so the stream shares perplexity_score's oracle exactly
    * (the fixture regime trains on the same corpus it scores).
    */
  def perplexityStreamScores(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_ppl_stream") { base =>
      val modelDir = base.resolve("model").toString
      val src = base.resolve("src").toString
      val out = base.resolve("scores").toString
      val ckpt = base.resolve("ckpt").toString
      val docs = graft.ops.Fixtures.documents(s, d)
      graft.ops.CorpusStats.unigramModel(docs).repartition(1).write.parquet(modelDir)
      val model = s.read.parquet(modelDir)
      docs.select("doc_id", "text").repartition(4, col("doc_id")).write.parquet(src)
      val scores = appendEach(fileReplay(s, src), out) { batch =>
        graft.ops.CorpusStats.scoreWithUnigramModel(spread(batch, "doc_id"), model)
      }
      drain(scores, ckpt)
      s.read.parquet(out).orderBy("doc_id").localCheckpoint(true)
    }

  /** DSIR importance weighting as a stream — fifth filters-as-streams
    * member: the nBuckets-row importance model is PERSISTED once (it
    * is metadata-scale at any corpus size), arriving micro-batches
    * score their hashed n-gram features against the loaded artifact in
    * foreachBatch. Per-doc log-weights are pure in (doc, model), so
    * the stream shares the batch dsir_weights oracle.
    */
  def dsirStreamWeights(s: SparkSession, d: String): DataFrame =
    withScratch(s, "graft_dsir_stream") { base =>
      import graft.ops.DataSelection
      val modelDir = base.resolve("model").toString
      val src = base.resolve("src").toString
      val out = base.resolve("weights").toString
      val ckpt = base.resolve("ckpt").toString
      val docs = graft.ops.Fixtures.documents(s, d)
      DataSelection
        .importanceModel(docs, expr(DataSelection.targetPred), DataSelection.fixtureBuckets)
        .repartition(1)
        .write
        .parquet(modelDir)
      val model = s.read.parquet(modelDir)
      docs.select("doc_id", "text").repartition(4, col("doc_id")).write.parquet(src)
      val weights = appendEach(fileReplay(s, src), out) { batch =>
        DataSelection.weightsAgainstModel(spread(batch, "doc_id"), model, DataSelection.fixtureBuckets)
      }
      drain(weights, ckpt)
      s.read.parquet(out).orderBy("doc_id").localCheckpoint(true)
    }

  /** Streaming GROUPED linear counting — the CMS twin for
    * cardinality: events arrive as micro-batches and the running
    * state is the distinct (hour, bucket) pair set, bounded by
    * |hours|·m whatever the event volume (the state-bounding argument
    * that makes the sketch streaming-native; exact distinct state
    * would grow with the user population). Post-drain, occupancy per
    * hour reads the Complete-mode sink and the estimate is the shared
    * arithmetic; the exact count is recomputed from the batch table
    * (the sketch_topk pattern), so the stream shares
    * events_hourly_distinct's oracle end to end.
    */
  def sketchStreamDistinct(s: SparkSession, d: String): DataFrame = {
    val m = 4096
    withScratch(s, "graft_lc_stream") { base =>
      val src = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val ev = graft.ops.Fixtures
        .events(s, d)
        .withColumn("hour_bucket", expr("ts_nanos div 1000 div 3600000000"))
        .select(col("hour_bucket"), col("user_id"))
      ev.repartition(4, col("user_id")).write.parquet(src)
      val sinkName = s"graft_lc_occupancy_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      // state-store partition count derived from the replay's size;
      // the memory sink registers in the clone, so the serve side
      // (occupancy + exact recount over the SAME written rows) reads
      // through the clone too — one session per plan, no cross-session
      // DataFrame mixing
      val s2 = statefulReplaySession(s, src)
      val occupancy = fileReplay(s2, src)
        .select(col("hour_bucket"), graft.ops.CorpusStats.lcBucketCol(col("user_id"), m).as("bucket"))
        .groupBy(col("hour_bucket"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      drain(occupancy.writeStream.outputMode(OutputMode.Complete).format("memory").queryName(sinkName), ckpt)
      val occ = s2
        .table(sinkName)
        .groupBy(col("hour_bucket"))
        .agg(count(lit(1)).cast("long").as("occupied"))
      val out = s2.read
        .parquet(src)
        .groupBy(col("hour_bucket"))
        .agg(countDistinct(col("user_id")).cast("long").as("exact"))
        .join(occ, "hour_bucket")
        .withColumn("est_milli", graft.ops.CorpusStats.lcEstimateCol(m))
        .select(col("hour_bucket"), col("exact"), col("occupied"), col("est_milli"))
        .orderBy("hour_bucket")
        .localCheckpoint(true)
      s2.catalog.dropTempView(sinkName)
      out
    }
  }

  /** STREAMING count-min counters + batch serve — the trending-token
    * architecture: arriving documents feed a STREAMING AGGREGATION
    * whose grouping key is the CMS (row, slot) pair, so the state
    * store holds AT MOST depth×width counters no matter how many
    * distinct tokens ever arrive — a streaming-native sketch (an
    * exact streaming token count would grow state with the distinct
    * vocabulary, unbounded on a crawl). Counter updates are additive
    * and the aggregation is Complete-mode over a bounded key space —
    * replay-safe by construction.
    *
    * Serve side: the final counters drive [[CorpusStats.cmsProbe]]'s
    * prefilter + exact recount over the ACCUMULATED corpus (at
    * production scale: the lake the stream appends to; counters stay
    * continuously current in the state store while the recount is the
    * cheap scheduled batch job over prefilter survivors). Because the
    * counters after full replay EQUAL the batch counters (additivity)
    * and CMS never underestimates, the served output is bit-identical
    * to the batch sketch_topk_tokens — whose plain exact oracle this
    * query shares.
    */
  def sketchStreamTopk(s: SparkSession, d: String): DataFrame = {
    val width = 1024
    val depth = 4
    withScratch(s, "graft_cms_stream") { base =>
      val src = base.resolve("src").toString
      val ckpt = base.resolve("ckpt").toString
      val docs = graft.ops.Fixtures.documents(s, d)
      docs.select("doc_id", "text").repartition(4, col("doc_id")).write.parquet(src)
      val sinkName = s"graft_cms_counters_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      // state-store partition count derived from the replay's size;
      // the counters collect to a driver Seq (depth×width bounded), so
      // only the stream + its memory sink live on the clone
      val s2 = statefulReplaySession(s, src)
      val counts = graft.ops.CorpusStats
        .cmsCounters(fileReplay(s2, src).select(explode(split(col("text"), " ")).as("token")), width, depth)
      drain(counts.writeStream.outputMode(OutputMode.Complete).format("memory").queryName(sinkName), ckpt)
      val counters = s2
        .table(sinkName)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .toSeq
      s2.catalog.dropTempView(sinkName)
      val toks = docs.select(explode(split(col("text"), " ")).as("token"))
      graft.ops.CorpusStats
        .cmsProbe(toks, counters, minCount = 500L, width = width, depth = depth)
        .orderBy(desc("n"), col("token"))
        .localCheckpoint(true)
    }
  }

  /** dedup: same set as the one-shot incremental probe on the same
    * split; events: the batch tumbling-hour aggregation (Spark's
    * epoch-aligned 1 h windows ARE the hour buckets).
    */
  lazy val registry: Seq[Query] = {
    import graft.ops._
    Seq(
      // streamed counters after full replay equal the batch counters
      // (additive, bounded key space), and the serve is the exact
      // recount — shares the batch sketch's plain exact oracle
      Query("sketch_stream_topk", sketchStreamTopk,
        Query.oracleOf(CorpusStats.registry, "sketch_topk_tokens"), build = Some(EveryRun)),
      // occupancy is additive across micro-batches (a set union), so
      // the streamed sketch shares the batch hourly-distinct oracle
      Query("sketch_stream_distinct", sketchStreamDistinct,
        Query.oracleOf(Events.registry, "events_hourly_distinct"), build = Some(EveryRun)),
      // per-doc scores are a pure function of (doc, persisted model):
      // the stream shares the batch scoring oracle
      Query("nb_stream_scores", classifierStreamScores,
        Query.oracleOf(QualityClassifier.registry, "nb_classifier_scores"), build = Some(EveryRun)),
      // per-doc contamination flags are a pure function of (doc,
      // persisted benchmark digests): the stream shares the batch oracle
      Query("decontaminate_stream", decontaminateStream,
        Query.oracleOf(Decontamination.registry, "decontaminate"), build = Some(EveryRun)),
      // per-doc NLL is pure in (doc, persisted model): shares the
      // batch perplexity oracle
      Query("perplexity_stream_scores", perplexityStreamScores,
        Query.oracleOf(CorpusStats.registry, "perplexity_score"), build = Some(EveryRun)),
      // per-doc log-weights are pure in (doc, persisted nBuckets-row
      // model): shares the batch DSIR weights oracle
      Query("dsir_stream_weights", dsirStreamWeights,
        Query.oracleOf(DataSelection.registry, "dsir_weights"), build = Some(EveryRun)),
      // the replay seeds its private mutable index as an FS copy of the
      // shared demo index: the first run carries the index build, every
      // rep still pays the copy and the full micro-batch replay
      Query("dedup_stream_replay",
        (s, d) => dedupStreamReplay(s, Fixtures.documents(s, d), Some(Dedup.demoEvenMinhashIndex(s, d))),
        Query.oracleOf(Dedup.registry, "dedup_incremental"), build = Some(FirstRun)),
      // streamed ≡ batched: the same mixed corpus through micro-batches
      // must hash-match the one-pass batch decode's oracle
      Query("multimodal_stream_decode", multimodalStreamDecode,
        Query.oracleOf(Multimodal.registry, "multimodal_mixed_decode"), build = Some(EveryRun)),
      // per-query answers are independent, so the micro-batched serve
      // shares the batch k-NN join's golden pin; the index is memoized
      // per process and each rep replays the query micro-batches
      Query("ann_pq_stream_serve",
        (s, d) =>
          annStreamServe(
            s,
            Similarity.fixtureQueryVectors(s, d, Seq(0L, 1L, 2L)),
            Similarity.demoPqIndexDir(s, d),
            k = 5,
            nProbe = 4
          ),
        Query.oracleOf(Similarity.registry, "ann_pq_knn_join"), build = Some(FirstRun)),
      // after orientation/src normalization the replay must equal the
      // one-shot incremental probe of the same increment
      Query("dedup_stream_embedding", (s, d) => embDedupStreamReplay(s, d),
        Query.oracleOf(Similarity.registry, "dedup_incremental_embedding"), build = Some(FirstRun)),
      Query("dedup_stream_clusters", dedupStreamClusters, Dedup.incrementalClustersOracle,
        build = Some(FirstRun)),
      // the 400-day horizon out-spans the fixture, so nothing evicts
      // mid-replay and the streamed key set must equal batch DISTINCT
      Query("dedup_stream_exact", dedupStreamExactReplay,
        "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
        build = Some(EveryRun)),
      // the stream-maintained index must answer the conjunctive probe
      // exactly like the one-shot corpus pass — shared oracle = gate
      Query("search_stream_probe", searchStreamProbe,
        Query.oracleOf(Search.registry, "search_conjunctive"), build = Some(EveryRun)),
      Query("search_stream_chunk", searchStreamChunkProbe,
        Query.oracleOf(Search.registry, "search_chunk_bm25"), build = Some(EveryRun)),
      // the streamed analyzed maintenance lifecycle must land on the
      // one-shot corpus analyzed-BM25 route's exact rows
      Query("search_stream_analyzed_probe", searchStreamAnalyzedProbe,
        Query.oracleOf(Search.registry, "search_analyzed_bm25"), build = Some(EveryRun)),
      // the upsert-maintained, compacted index must serve BM25 over
      // the FINAL document versions — the oracle replays the rewrite
      Query("search_stream_upsert", searchStreamUpsertProbe, Search.oracleUpsertBm25,
        build = Some(EveryRun)),
      // the stream-maintained fielded index must answer BM25F exactly
      // like the one-shot build — shared oracle = gate
      Query("search_stream_bm25f", searchStreamBm25fProbe,
        Query.oracleOf(Search.registry, "search_bm25f"), build = Some(EveryRun)),
      // the upsert-maintained, compacted fielded index must serve
      // BM25F over the FINAL document versions
      Query("search_stream_bm25f_upsert", searchStreamBm25fUpsertProbe,
        Search.oracleStreamBm25fUpsert, build = Some(EveryRun)),
      // exhaustive probe over the stream-maintained IVF index is the
      // exact cosine top-k however vectors were assigned — shares the
      // brute-force oracle, so lost/duplicated/mis-assigned batches
      // all hash-mismatch
      Query("ann_stream_ivf_probe", annStreamIvfProbe,
        Query.oracleOf(Similarity.registry, "ann_cosine_topk"), build = Some(EveryRun)),
      // facets from the two stream-maintained artifacts must count the
      // FINAL document versions — stale postings, stale store rows and
      // failed purges all hash-mismatch
      Query("search_facets_stream", searchFacetsStreamProbe, Search.oracleUpsertFacets,
        build = Some(EveryRun)),
      // the CDC-maintained, compacted index must serve BM25 over the
      // source's final state (deletes gone, updates rewritten)
      Query("search_stream_cdc", searchStreamCdcProbe, Search.oracleCdcBm25, build = Some(EveryRun)),
      // per-doc pairs are pure in (doc, frozen chunk index): the
      // stream shares the batch containment probe's oracle
      Query("cdc_containment_stream", cdcContainmentStream, Cdc.containmentIndexOracle,
        build = Some(EveryRun)),
      // inner-join matches are pure in (left row, right row); the
      // infinite-delay replay drops nothing, so streamed ≡ batched
      Query("events_stream_stream_join", eventsStreamStreamJoin,
        """WITH v AS (
          |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vus
          |  FROM events WHERE event_type = 'view'),
          |c AS (
          |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS cus
          |  FROM events WHERE event_type = 'click')
          |SELECT v.view_id, c.click_id, v.user_id,
          |  CAST(c.cus - v.vus AS BIGINT) AS gap_us
          |FROM v JOIN c ON c.user_id = v.user_id
          |  AND c.cus >= v.vus AND c.cus - v.vus <= 3600000000
          |ORDER BY v.view_id, c.click_id""".stripMargin, build = Some(EveryRun)),
      // max-by-seq with tombstone rows is commutative across batches:
      // the stream's final state equals the one-shot fold of the feed
      Query("delta_apply_stream", deltaApplyStream,
        """WITH ops AS (
          |  SELECT c_custkey, c_mktsegment, 0 AS del, CAST(c_custkey AS BIGINT) AS seq
          |  FROM customer
          |  UNION ALL
          |  SELECT c_custkey, c_mktsegment || '_u', 0, CAST(c_custkey + 10000000 AS BIGINT)
          |  FROM customer WHERE c_custkey % 5 = 0
          |  UNION ALL
          |  SELECT c_custkey, c_mktsegment, 1, CAST(c_custkey + 20000000 AS BIGINT)
          |  FROM customer WHERE c_custkey % 11 = 0),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
          |  FROM ops)
          |SELECT c_custkey, c_mktsegment, seq
          |FROM r WHERE rn = 1 AND del = 0 ORDER BY c_custkey""".stripMargin, build = Some(EveryRun)),
      Query("events_stream_replay", eventsStreamReplay,
        """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin, build = Some(EveryRun)),
      // additive counts make the maintained state equal the one-shot
      // aggregation, so the streaming route shares the batch oracle
      Query("events_anomaly_stream", eventsAnomalyStream,
        Query.oracleOf(Events.registry, "events_anomaly"), build = Some(EveryRun))
    )
  }

  final case class Event(user_id: Long, ts_micros: Long, event_type: String, value: Double)
  final case class Session(
      user_id: Long,
      start_micros: Long,
      end_micros: Long,
      n_events: Long,
      closed: Boolean
  )

  private final case class SessionState(start: Long, end: Long, n: Long)

  /** Gap-based sessionization with explicit state + processing-time
    * timeout: the mapGroupsWithState pattern the reference has no
    * analog for (its delta sync is batch) but a streaming pipeline
    * needs. State per user is O(1) (no event buffering).
    */
  def sessionize(
      events: Dataset[Event],
      gapMicros: Long
  ): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
        // Batch-mode contract (tests/backfill): all events for the user
        // arrive in one call; emit every closed session + the open one.
        val sorted = evs.toSeq.sortBy(e => (e.ts_micros, e.event_type))
        val sessions = Seq.newBuilder[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          cur match {
            case Some(st) if e.ts_micros - st.end <= gapMicros =>
              cur = Some(st.copy(end = e.ts_micros, n = st.n + 1))
            case Some(st) =>
              sessions += Session(userId, st.start, st.end, st.n, closed = true)
              cur = Some(SessionState(e.ts_micros, e.ts_micros, 1))
            case None =>
              cur = Some(SessionState(e.ts_micros, e.ts_micros, 1))
          }
        }
        cur.foreach { st =>
          state.update(st)
          sessions += Session(userId, st.start, st.end, st.n, closed = false)
        }
        sessions.result().iterator
      }
  }
}
