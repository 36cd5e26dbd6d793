package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** The generation protocol every persisted, tombstoned index here is
  * maintained by: the postings index, the fielded index and the doc
  * store ([[Search]]) and the IVF index ([[Similarity]]). An index
  * [[Kind]] lists only what is its own — its key column, its
  * relations, its optional scalar stats and its persist decision —
  * and [[apply]], [[delete]] and [[compact]] are written once, here.
  *
  * Deleting (or replacing) documents in a corpus-scale index cannot
  * rewrite the files it touches — one doc's tokens scatter across
  * every bucket dir. The shape that survives 100 TB is Lucene's:
  * record deletions as TOMBSTONES, exclude dead rows at probe time (an
  * anti-join against a deletes-since-last-compaction-sized relation),
  * and purge physically at the compaction cadence.
  *
  * GENERATIONS make re-adding a deleted id (the upsert) correct
  * without rewriting anything: an index row's generation is parsed
  * from its FILE name (`gbatch-<G>-…` → G; base-build and plain-append
  * files → −1), a tombstone is (key, asof), and a row is DEAD iff some
  * tombstone of its key has asof > generation. An upsert batch at
  * generation G tombstones its ids at asof = G and lands its rows in
  * gbatch-G files: every older version dies, the batch's own rows
  * survive, and a LATER upsert's tombstone kills them in turn.
  * Compaction applies tombstones physically and rewrites survivors
  * under gbatch-<P> names, P = the max asof it consumed — survivors
  * are immune to every tombstone the compaction applied, so a CRASHED
  * purge rerun converges instead of re-killing them (a row is only
  * ever re-judged by tombstones STRICTLY newer than its rewrite).
  *
  * Every step is single-writer and retry-safe, so foreachBatch's
  * at-least-once delivery yields an exactly-once index ([[once]]).
  */
object Generations {

  /** One generation-carrying relation of an index kind: its dir under
    * the index, the column its rows are co-located and partitioned by,
    * the rows a (possibly persisted) batch contributes, and any work
    * that reads the relation once a build or compaction has rewritten
    * it.
    */
  final case class Relation(
      name: String,
      partitionCol: Option[String],
      rows: DataFrame => DataFrame,
      rewritten: () => Unit = () => ()
  )

  /** A per-batch side relation derived from the batch rows of the
    * relation named `of`: written under the same `gbatch-<gen>` names
    * and replay cleanup (plain appends: Spark's names), but never purged
    * nor listed for the high-water generation — the owning relation's
    * `rewritten` step consumes it.
    * The source rows are persisted while an increment re-reads them.
    */
  final case class Increment(name: String, of: String, rows: DataFrame => DataFrame)

  /** Scalar stats as (key, values) rows in ledger column order; an
    * unkeyed ledger uses the one key "".
    */
  type Scalars = Seq[(String, Seq[Long])]

  /** A batch-keyed scalar ledger under `<index>/<name>`: ONE row set
    * per applied increment under a deterministic `<tag>-0.parquet` name
    * (tag = `gbatch-<gen>`, `del-<asof>` or `seed`), and the kind's
    * meta is the SUM over the ledger. Meta stays a pure function of
    * on-disk state — a replayed batch rewrites its own rows and re-sums
    * to the same scalars — at LEDGER cost (one row set per applied
    * batch) instead of a per-batch rescan of doc-keyed relations;
    * compaction folds the ledger back to one seed row set. Increments
    * carry NEW ids only: per-batch distinct counts sum to the global
    * count exactly when ids never repeat across batches (upserts stay
    * counted until compaction heals them — the Lucene stale-stats
    * window). Read and written driver-side, zero Spark jobs.
    */
  final case class Ledger(name: String, schema: String, key: Option[String] = None) {
    private val values =
      org.apache.parquet.schema.MessageTypeParser
        .parseMessageType(schema)
        .getFields
        .asScala
        .map(_.getName)
        .filterNot(key.contains)
        .toSeq

    private def path(dir: String) = new Path(s"$dir/$name")

    /** Ledger files currently on disk (empty if the dir is absent). */
    def files(s: SparkSession, dir: String): Array[FileStatus] =
      Option(fsFor(s, dir).globStatus(new Path(path(dir), "*.parquet"))).getOrElse(Array.empty)

    def write(s: SparkSession, dir: String, rows: Scalars, tag: String): Unit =
      graft.core.ScalarParquet.writeAtomic(
        s.sessionState.newHadoopConf(),
        fsFor(s, dir),
        path(dir),
        s"$tag-0.parquet",
        schema,
        rows.map { case (k, v) => key.map(_ => k).toSeq ++ v }
      )

    /** Per-key sums over the whole ledger, sorted by key. A value column
      * a legacy file lacks (a `meta_inc` row from before `total_atoks`)
      * reads as 0.
      */
    def sums(s: SparkSession, dir: String): Scalars = {
      val m = scala.collection.mutable.Map.empty[String, Array[Long]]
      graft.core.ScalarParquet.foreachRow(s.sessionState.newHadoopConf(), fsFor(s, dir), path(dir)) { g =>
        val acc = m.getOrElseUpdate(key.fold("")(g.getString(_, 0)), new Array[Long](values.size))
        values.zipWithIndex.foreach { case (v, i) => acc(i) += longOrZero(g, v) }
      }
      m.toSeq.sortBy(_._1).map { case (k, a) => k -> a.toSeq }
    }

    /** Fold an existing ledger to one seed row set carrying `rows`
      * (compaction, and the single-writer [[append]]); true iff a ledger
      * existed.
      */
    def fold(s: SparkSession, dir: String, rows: => Scalars): Boolean =
      files(s, dir).nonEmpty && {
        fsFor(s, dir).delete(path(dir), true)
        write(s, dir, rows, "seed")
        true
      }
  }

  /** A kind's scalar statistics, kept exactly-once through its ledger.
    * `meta` names the relation whose presence means the index already
    * has stats: a stream adopting such an index seeds the ledger from
    * `read` first. `batch` is a batch's deltas (one fused aggregate),
    * `deleted` the ids' exact decrement from their currently LIVE rows
    * (double-deletes move nothing), `rederive` the exact values from
    * the compacted relations (healing any stale-stats window).
    */
  final case class Stats(
      ledger: Ledger,
      meta: String,
      read: () => Scalars,
      write: Scalars => Unit,
      batch: DataFrame => Scalars,
      deleted: DataFrame => Scalars,
      rederive: () => Scalars
  )

  /** When a compaction records its `_asof_horizon` (the last
    * generation as-of reads may still reconstruct).
    */
  sealed trait Horizon
  object Horizon {
    case object Never extends Horizon
    case object Always extends Horizon

    /** Only when a ledger was folded (as-of meta reads need one). */
    case object WithLedger extends Horizon
  }

  /** An index kind: `keyCol` names the id column of its rows and
    * tombstones; `persist(upsert)` says whether a batch is persisted
    * for its several readers ([[build]] and [[append]] ask with
    * upsert = false).
    */
  final case class Kind(
      keyCol: String,
      relations: Seq[Relation],
      increments: Seq[Increment] = Nil,
      stats: Option[Stats] = None,
      persist: Boolean => Boolean = _ => false,
      horizon: Horizon = Horizon.Never
  ) {
    private[Generations] def generational: Seq[String] = relations.map(_.name) :+ "tombstones"
  }

  private def fsFor(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sessionState.newHadoopConf())

  /** Per-key sums of scalar row sets, sorted by key. */
  private def plus(rows: Scalars*): Scalars =
    rows.flatten.groupMapReduce(_._1)(_._2)(_.zip(_).map { case (x, y) => x + y }).toSeq.sortBy(_._1)

  private def longOrZero(g: Group, field: String): Long =
    if (g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0) g.getLong(field, 0) else 0L

  private def text(s: SparkSession, dir: String, marker: String): Option[String] =
    graft.core.Compaction.readTextFile(s, s"$dir/$marker").map(_.trim)

  private def writeText(s: SparkSession, dir: String, marker: String, value: Any): Unit =
    graft.core.Compaction.writeTextFile(s, s"$dir/$marker", s"$value\n")

  // ---- stream markers --------------------------------------------------

  /** Last batch id fully applied to the index at `dir` (−1 if none) —
    * the skip gate that makes a foreachBatch REPLAY of an
    * already-applied batch a no-op under at-least-once delivery.
    */
  private[graft] def lastApplied(s: SparkSession, dir: String): Long =
    text(s, dir, "_last_batch").map(_.toLong).getOrElse(-1L)

  /** Advance the applied-batch marker — written only AFTER a batch's
    * relation files and meta are on disk, so the marker never claims
    * an unapplied batch (the reverse crash replays the batch, whose
    * apply is idempotent).
    */
  private[graft] def writeLastApplied(s: SparkSession, dir: String, batchId: Long): Unit =
    writeText(s, dir, "_last_batch", batchId)

  /** Run `body` for batch `batchId` of the stream checkpointed at
    * `streamId` unless the index at `dir` already applied it; true iff
    * it ran. The identity gate comes first: a FRESH checkpoint restarts
    * batch ids at 0, so the `_last_batch` gate alone would silently
    * drop every batch until the new ids pass the old marker — the
    * index records the identity of the stream that maintains it and a
    * mismatch fails loudly. Writing the identity is idempotent.
    */
  private[graft] def once(s: SparkSession, dir: String, streamId: String, batchId: Long)(body: => Unit): Boolean = {
    text(s, dir, "_stream_id") match {
      case Some(existing) =>
        require(
          existing == streamId,
          s"search index at $dir is maintained by the stream checkpointed at '$existing' but " +
            s"this stream checkpoints at '$streamId': a fresh checkpoint restarts batch ids at 0 " +
            "and the applied-batch marker would silently drop every batch until the ids pass it — " +
            "retain or discard the checkpoint and the index dir TOGETHER"
        )
      case None => writeText(s, dir, "_stream_id", streamId)
    }
    batchId > lastApplied(s, dir) && {
      body
      writeLastApplied(s, dir, batchId)
      true
    }
  }

  // ---- the read side: live and as-of rows -----------------------------

  private def tombstonesDir(dir: String) = s"$dir/tombstones"

  private[ops] def hasTombstones(s: SparkSession, dir: String): Boolean =
    fsFor(s, dir).exists(new Path(tombstonesDir(dir)))

  /** Row generation parsed from the source file name (scan-time,
    * codegen'd regexp — no extra I/O).
    */
  private def genFromFileCol: Column = {
    val m = regexp_extract(input_file_name(), "gbatch-(\\d+)-", 1)
    when(m === "", lit(-1L)).otherwise(m.cast("long"))
  }

  /** Tombstones folded to one (t_key, t_asof = max asof) row per
    * deleted id — over asof ≤ G only for an as-of read at G.
    */
  private def tombstoneMaxAsof(s: SparkSession, dir: String, keyCol: String, upTo: Option[Long] = None): DataFrame = {
    val t = s.read.schema(s"$keyCol LONG, asof LONG").parquet(tombstonesDir(dir))
    upTo
      .fold(t)(g => t.filter(col("asof") <= g))
      .groupBy(col(keyCol))
      .agg(max(col("asof")).as("t_asof"))
      .select(col(keyCol).as("t_key"), col("t_asof"))
  }

  /** `rel` (carrying `__gen`) minus the rows a (t_key, t_asof)
    * tombstone fold outranks.
    */
  private def dropDead(rel: DataFrame, tomb: DataFrame, keyCol: String): DataFrame =
    rel
      .join(broadcast(tomb), rel(keyCol) === col("t_key") && col("__gen") < col("t_asof"), "left_anti")
      .drop("__gen")

  /** Exclude DEAD rows from an index relation at probe time. Fast path
    * first: a live read with no tombstones on disk returns `rel`
    * UNTOUCHED (zero plan change — spec-pinned). Otherwise a left-anti
    * join against the broadcast tombstone fold with the generation
    * inequality. With `asOf = Some(G)` it is the relation as it stood
    * after generation G instead: rows with generation ≤ G, dead iff a
    * tombstone with asof ≤ G outranks them — valid back to the last
    * compaction (which rewrote history; reads below its horizon fail
    * loudly). Must be applied directly over the pruned scan (before any
    * shuffle) so input_file_name() still names the source file.
    */
  private[ops] def liveRows(
      s: SparkSession,
      dir: String,
      rel: DataFrame,
      keyCol: String = "doc_id",
      asOf: Option[Long] = None
  ): DataFrame = {
    val tombstoned = hasTombstones(s, dir)
    if (asOf.isEmpty && !tombstoned) rel
    else {
      asOf.foreach(requireAsOfInsideHorizon(s, dir, _))
      val g = rel.withColumn("__gen", genFromFileCol)
      val seen = asOf.fold(g)(a => g.filter(col("__gen") <= a))
      if (tombstoned) dropDead(seen, tombstoneMaxAsof(s, dir, keyCol, asOf), keyCol)
      else seen.drop("__gen")
    }
  }

  /** Fail an as-of read at a generation below the last compaction's
    * `_asof_horizon` (−1 if never compacted): compaction renames
    * survivors and folds the ledger, so such a read would silently
    * serve empty pages or the live state.
    */
  private[ops] def requireAsOfInsideHorizon(s: SparkSession, dir: String, asOfGen: Long): Unit = {
    val h = text(s, dir, "_asof_horizon").map(_.toLong).getOrElse(-1L)
    require(
      asOfGen >= h,
      s"as-of read at $dir: generation $asOfGen predates the last compaction " +
        s"(horizon $h) — compaction ends the travel horizon"
    )
  }

  // ---- generations -----------------------------------------------------

  /** High-water generation: max over the applied-batch marker, every
    * data file's parsed `gbatch-<G>` generation and every tombstone
    * file's `del-<asof>` tag — a driver-side file LISTING, run at the
    * maintenance cadence only, never in a probe.
    */
  private def currentHighGen(s: SparkSession, dir: String, rels: Seq[String]): Long = {
    val fs = fsFor(s, dir)
    val pat = "(?:gbatch|del)-(\\d+)-".r
    val fileGens = rels.flatMap { r =>
      val p = new Path(s"$dir/$r")
      if (!fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        Iterator
          .continually(it)
          .takeWhile(_.hasNext)
          .flatMap(i => pat.findFirstMatchIn(i.next().getPath.getName).map(_.group(1).toLong))
          .toList
      }
    }
    (lastApplied(s, dir) +: fileGens).max
  }

  /** The stream's GENERATION BASE for an index dir: batch N's rows
    * carry generation base + N. 0 when the stream bootstraps the dir
    * from nothing; adopting a PRE-EXISTING index records high-gen + 1,
    * so the stream's generations — and its upsert tombstones' asof
    * values — always exceed every generation already on disk. Without
    * this, a stream adopting a previously deleted-and-purged index
    * would write batch-0 tombstones at asof 0, unable to kill the
    * purge's gbatch-<P> survivors, and stale versions would serve
    * silently. Recorded once at adoption (replays read the value).
    */
  private def genBase(s: SparkSession, dir: String, rels: Seq[String]): Long =
    text(s, dir, "_gen_base").map(_.toLong).getOrElse {
      val base = currentHighGen(s, dir, rels) + 1L
      writeText(s, dir, "_gen_base", base)
      base
    }

  private def rename(fs: FileSystem, src: Path, dest: Path): Unit =
    if (!fs.rename(src, dest)) throw new java.io.IOException(s"index maintenance: rename $src -> $dest failed")

  /** The data files a write left in `staged`, in name order. */
  private def partFiles(fs: FileSystem, staged: String, partitionCol: Option[String]): Seq[Path] =
    Option(fs.globStatus(new Path(partitionCol.fold(s"$staged/part-*")(c => s"$staged/$c=*/part-*"))))
      .getOrElse(Array.empty)
      .map(_.getPath)
      .sortBy(_.toString)
      .toSeq

  /** Write a relation's rows to `path` under Spark's `part-*` names,
    * co-located by its partition column first (one file per partition
    * dir — the small-files guard every index write here uses).
    */
  private def writeRelation(df: DataFrame, path: String, partitionCol: Option[String], mode: String): Unit =
    partitionCol.fold(df.write)(c => df.repartition(col(c)).write.partitionBy(c)).mode(mode).parquet(path)

  /** Stage a relation increment (co-located by its partition column),
    * then RENAME its data files into the live dir as
    * `gbatch-<gen>-<i>` — the deterministic naming that makes a batch's
    * apply repeatable: a retry first deletes every `gbatch-<gen>-*`
    * file a crashed attempt left, then re-stages and re-moves. The
    * staged write is mode-overwrite and the moves are renames (no data
    * copy).
    */
  private def stageAndMove(df: DataFrame, staged: String, target: String, partitionCol: Option[String], gen: Long): Unit = {
    val fs = fsFor(df.sparkSession, target)
    writeRelation(df, staged, partitionCol, "overwrite")
    partFiles(fs, staged, partitionCol).zipWithIndex.foreach { case (src, i) =>
      val destDir = if (partitionCol.isDefined) new Path(target, src.getParent.getName) else new Path(target)
      fs.mkdirs(destDir)
      rename(fs, src, new Path(destDir, s"gbatch-$gen-$i.parquet"))
    }
    fs.delete(new Path(staged), true)
  }

  /** Stage one tombstone file ((key, asof) rows) and rename it in as
    * `del-<asof>-0`, the name the high-water listing parses.
    */
  private def writeTombstones(s: SparkSession, dir: String, rows: DataFrame, asof: Long): Unit = {
    val fs = fsFor(s, dir)
    val staged = s"$dir/_stage_del_$asof"
    rows.coalesce(1).write.mode("overwrite").parquet(staged)
    val dest = new Path(tombstonesDir(dir), s"del-$asof-0.parquet")
    fs.mkdirs(dest.getParent)
    if (fs.exists(dest)) fs.delete(dest, false)
    rename(fs, partFiles(fs, staged, None).head, dest)
    fs.delete(new Path(staged), true)
  }

  /** Tombstone-applying rewrite of one relation (the physical purge):
    * survivors only, one file per partition dir, each renamed to
    * `gbatch-<purgeGen>-c<i>` INSIDE the staged generation before the
    * crash-safe marker-commit swap. Survivors thereby carry the purge's
    * generation: no tombstone this compaction consumed can kill them
    * again, so a rerun after a crash at ANY point converges.
    */
  private def purgeRewrite(
      s: SparkSession,
      path: String,
      partitionCol: Option[String],
      tomb: DataFrame,
      purgeGen: Long,
      keyCol: String
  ): Unit =
    graft.core.Compaction.replaceWith(s, path) { staged =>
      val live = dropDead(s.read.parquet(path).withColumn("__gen", genFromFileCol), tomb, keyCol)
      partitionCol
        .fold(live.coalesce(1).write)(c => live.repartition(col(c)).write.partitionBy(c))
        .mode("overwrite")
        .parquet(staged)
      val fs = fsFor(s, path)
      partFiles(fs, staged, partitionCol).zipWithIndex.foreach { case (src, i) =>
        rename(fs, src, new Path(src.getParent, s"gbatch-$purgeGen-c$i.parquet"))
      }
    }

  // ---- build, append, apply, delete, compact ----------------------------

  /** The relation-write loop [[build]], [[append]] and [[apply]] share:
    * the kind's relation rows — and, with `increments`, its increment
    * rows — are each handed to `write`, overlapped with the batch's
    * scalar aggregate (they are independent over the batch). The batch
    * is pinned when the kind persists it, and a relation an increment
    * re-reads is pinned too; the pins are filled before the concurrent
    * readers start. `first` runs over the (pinned) batch before any
    * relation is written. Returns the batch's scalars.
    */
  private def writeBatch(
      kind: Kind,
      batch: DataFrame,
      persist: Boolean,
      increments: Boolean,
      first: DataFrame => Unit = _ => ()
  )(write: (String, Option[String], DataFrame) => Unit): Option[Scalars] = {
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { pinned += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    try {
      val b = if (persist) pin(batch) else batch
      val incs = if (increments) kind.increments else Nil
      val rows = kind.relations.map { r =>
        val df = r.rows(b)
        r.name -> (if (incs.exists(_.of == r.name)) pin(df) else df)
      }.toMap
      // fill every pin with one job before its concurrent readers start
      // (a reader on a half-filled cache recomputes it). The fill runs a
      // fresh plan: a frame executed before it was pinned keeps a plan
      // that misses its own cache entry. The relation pins read all of
      // the batch, so filling them fills its pin too.
      val rowPins = pinned.drop(if (persist) 1 else 0)
      (if (rowPins.nonEmpty) rowPins else pinned).foreach(_.select("*").foreachPartition((_: Iterator[Row]) => ()))
      first(b)
      val writes =
        kind.relations.map(r => (r.name, r.partitionCol, rows(r.name))) ++
          incs.map(i => (i.name, None, i.rows(rows(i.of))))
      graft.core.Par
        .all(
          kind.stats.map(st => () => Option(st.batch(b))).toSeq ++ writes.map { case (name, pc, df) =>
            () => { write(name, pc, df); None }
          },
          writes.size + 1
        )
        .flatten
        .headOption
    } finally pinned.foreach(_.unpersist(false))
  }

  /** BUILD the index at `dir` from `docs`: every relation overwritten
    * under Spark's `part-*` names, so built rows carry generation −1
    * (below any batch a stream adopting the index later applies, and
    * clear of its `gbatch-<gen>` replay cleanup); the stats written
    * straight from the batch aggregate, with no ledger (a stream seeds
    * one from them on adoption); then each relation's `rewritten` step
    * (the postings' vocab derivation). A rebuild onto a used dir first
    * drops the generation state of the index it replaces — tombstones
    * (which would kill the rebuilt generation −1 rows), ledger,
    * increments, staged batches and markers — so it starts a fresh
    * history; one dir holds one index.
    */
  def build(kind: Kind, docs: DataFrame, dir: String): Unit = {
    val fs = fsFor(docs.sparkSession, dir)
    (Seq("tombstones", "_gen_base", "_last_batch", "_stream_id", "_asof_horizon") ++
      kind.increments.map(_.name) ++ kind.stats.map(_.ledger.name))
      .foreach(n => fs.delete(new Path(s"$dir/$n"), true))
    Option(fs.globStatus(new Path(s"$dir/_stage_*"))).getOrElse(Array.empty).foreach(f => fs.delete(f.getPath, true))
    val scalars = writeBatch(kind, docs, kind.persist(false), increments = false) { (name, pc, df) =>
      writeRelation(df, s"$dir/$name", pc, "overwrite")
    }
    for (st <- kind.stats; m <- scalars) st.write(m)
    kind.relations.foreach(_.rewritten())
  }

  /** PLAIN APPEND `docs` (new ids only) to the index at `dir`: every
    * relation and increment appended under Spark's `part-*` names
    * (generation −1), the stats raised by the batch's, and a stream's
    * ledger folded to one seed row set carrying the new totals — appends
    * are single-writer and never replayed, so the wholesale fold is
    * safe. Refused onto live tombstones: any tombstone (asof ≥ 0) would
    * kill a re-added id's generation −1 rows; `op` names the caller in
    * that refusal. Stats are read before anything is written, so an
    * unreadable meta fails first.
    */
  def append(kind: Kind, docs: DataFrame, dir: String, op: String): Unit = {
    val s = docs.sparkSession
    require(
      !hasTombstones(s, dir),
      s"$op onto $dir with live tombstones: plain-append files carry no generation, so a " +
        "tombstoned id's re-added rows would be wrongly killed — compact the index first " +
        "(purges the tombstones) or maintain it through the streaming upsert apply"
    )
    val before = kind.stats.map(_.read())
    val scalars = writeBatch(kind, docs, kind.persist(false), increments = true) { (name, pc, df) =>
      writeRelation(df, s"$dir/$name", pc, "append")
    }
    for (st <- kind.stats; m0 <- before; m1 <- scalars) {
      val m = plus(m0, m1)
      st.write(m)
      st.ledger.fold(s, dir, m)
    }
  }

  /** Apply ONE batch to the index at `dir`, idempotently:
    *
    *  1. seed the ledger from the current meta if this stream took over
    *     an index that predates it (once per index lifetime);
    *  2. the batch's generation is its id offset by the dir's recorded
    *     base ([[genBase]]); delete every `gbatch-<gen>-*` file and the
    *     staged dir a CRASHED prior attempt of this batch left;
    *  3. UPSERT: tombstone the batch's ids (or `tombstoneIds`' — a CDC
    *     delete contributes a tombstone but no rows) at asof = gen
    *     BEFORE the new rows land: older versions die, the batch's own
    *     rows survive (gen < gen is false);
    *  4. stage every relation and increment and rename them in under
    *     `gbatch-<gen>-<i>` names ([[writeBatch]]);
    *  5. write the batch's ledger rows and rewrite meta as the ledger
    *     sum.
    *
    * The first batch needs no bootstrap case: writing into absent dirs
    * creates them.
    */
  def apply(
      kind: Kind,
      batch: DataFrame,
      idCol: String,
      dir: String,
      batchId: Long,
      upsert: Boolean = false,
      tombstoneIds: Option[DataFrame] = None
  ): Unit = {
    val s = batch.sparkSession
    val fs = fsFor(s, dir)
    kind.stats.foreach { st =>
      // meta is only (re)written AFTER a batch's ledger row lands, so a
      // non-empty ledger is never re-seeded
      if (st.ledger.files(s, dir).isEmpty && fs.exists(new Path(s"$dir/${st.meta}")))
        st.ledger.write(s, dir, st.read(), "seed")
    }
    val gen = genBase(s, dir, kind.generational) + batchId
    val staged = s"$dir/_stage_$batchId"
    fs.delete(new Path(staged), true)
    (kind.relations.map(r => r.partitionCol.fold(r.name)(c => s"${r.name}/$c=*")) ++
      kind.increments.map(_.name) ++ Seq("tombstones") ++ kind.stats.map(_.ledger.name))
      .foreach { d =>
        Option(fs.globStatus(new Path(s"$dir/$d/gbatch-$gen-*"))).getOrElse(Array.empty).foreach { f =>
          fs.delete(f.getPath, false)
        }
      }
    val tombstones: DataFrame => Unit = b =>
      if (upsert)
        stageAndMove(
          tombstoneIds.getOrElse(b).select(col(idCol).cast("long").as(kind.keyCol)).distinct().withColumn("asof", lit(gen)),
          s"$staged/tombstones",
          tombstonesDir(dir),
          partitionCol = None,
          gen
        )
    val scalars = writeBatch(kind, batch, kind.persist(upsert), increments = true, tombstones) { (name, pc, df) =>
      stageAndMove(df, s"$staged/$name", s"$dir/$name", pc, gen)
    }
    fs.delete(new Path(staged), true)
    for (st <- kind.stats; m <- scalars) {
      st.ledger.write(s, dir, m, s"gbatch-$gen")
      st.write(st.ledger.sums(s, dir))
    }
  }

  /** DELETE ids (the first column of `ids`) — the batch-API entry
    * point (a stream replaces rows through the upsert apply): tombstones
    * at asof = high-water generation + 1, killing every live row of
    * those ids whatever wrote it, then the stats decremented EXACTLY
    * by the ids' currently-live rows — measured BEFORE the tombstones
    * land. Tombstones first, stats second: a crash between the two
    * leaves a correct result set with stale stats (healed at
    * compaction), never stats claiming deletes that don't serve.
    */
  def delete(kind: Kind, s: SparkSession, dir: String, ids: DataFrame): Unit = {
    val asof = currentHighGen(s, dir, kind.generational) + 1L
    val idRel = ids.select(col(ids.columns.head).cast("long").as(kind.keyCol)).distinct()
    val dec = kind.stats.map(_.deleted(idRel))
    writeTombstones(s, dir, idRel.withColumn("asof", lit(asof)), asof)
    for (st <- kind.stats; d <- dec) {
      val byKey = d.toMap
      st.write(st.read().map { case (k, v) => k -> v.zip(byKey(k)).map { case (x, y) => x - y } })
      if (st.ledger.files(s, dir).nonEmpty) st.ledger.write(s, dir, d.map { case (k, v) => k -> v.map(-_) }, s"del-$asof")
    }
  }

  /** Compact every relation back to one file per partition dir (per
    * relation when unpartitioned); with live tombstones each rewrite
    * is ALSO the physical purge ([[purgeRewrite]]) and the tombstones
    * are consumed. The independent relation rewrites overlap. Stats are
    * then re-derived exactly from the compacted rows and the ledger is
    * folded to one seed row set. Every generation on disk before the
    * rewrite loses its per-row history, so the high-water mark taken
    * first becomes the `_asof_horizon`. Compaction is the one
    * maintenance step allowed to scan doc-keyed relations — it runs at
    * the amortized cadence, never in the per-batch loop.
    */
  def compact(kind: Kind, s: SparkSession, dir: String): Unit = {
    val fs = fsFor(s, dir)
    val tomb = if (hasTombstones(s, dir)) Some(tombstoneMaxAsof(s, dir, kind.keyCol)) else None
    val purgeGen = tomb.map(_.agg(max(col("t_asof"))).head().getLong(0)).getOrElse(-1L)
    val horizon = currentHighGen(s, dir, kind.generational)
    graft.core.Par.run(kind.relations.map { r => () =>
      val path = s"$dir/${r.name}"
      // recover first — a crashed swap may have left no live dir
      graft.core.Compaction.recover(s, path)
      if (fs.exists(new Path(path))) {
        tomb match {
          case Some(t) => purgeRewrite(s, path, r.partitionCol, t, purgeGen, kind.keyCol)
          case None    => graft.core.Compaction.compact(s, path, r.partitionCol, 1)
        }
        r.rewritten()
      }
    }: _*)
    if (tomb.isDefined) fs.delete(new Path(tombstonesDir(dir)), true)
    val folded = kind.stats.exists { st =>
      val exact = st.rederive()
      st.write(exact)
      st.ledger.fold(s, dir, exact)
    }
    if (kind.horizon == Horizon.Always || (kind.horizon == Horizon.WithLedger && folded))
      writeText(s, dir, "_asof_horizon", horizon)
  }
}
