package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Readers for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All queries read through here so schema quirks are normalized in one
  * place. The only quirk: `events.ts` is written as parquet
  * TIMESTAMP(NANOS) which Spark cannot represent natively (micros
  * ceiling — SURVEY.md §7.4.1); with
  * `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as a Long of
  * epoch nanos, which we normalize to a micros TimestampType column
  * plus the raw nanos (kept for full fidelity, the same split-column
  * strategy SURVEY.md §7.3 picks for sub-micro timestamps).
  */
object Fixtures {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Canonical render of a final-output DECIMAL column. Different
    * readers of the result disagree on the repr of trailing-zero
    * decimals (`Decimal('1.00')` vs `1.0`), so every query that emits
    * decimals stringifies them at the FINAL projection — and the
    * matching oracle SQL wraps the same expression in
    * `CAST(... AS VARCHAR)`. Both engines render scale-preserving
    * strings ("1.00"), so the compare is repr-independent. Decimal
    * stays the internal type (exact, order-independent sums).
    */
  def decStr(c: Column): Column = c.cast("string")

  /** The fixture parquet files are written as ONE row group each, so a
    * scan is a single task no matter how many cores exist — on a real
    * lake `spark.sql.files.maxPartitionBytes` splits multi-row-group /
    * multi-file tables and this helper is a no-op concern. For the
    * fact-sized fixtures we rebalance by the table's key right after
    * the scan with an EXPLICIT partition count: `repartition(col)`
    * without a count lets AQE coalesce the tiny shuffle back to one
    * partition, single-threading every downstream operator (measured
    * 6× slower on the pair-expansion ops). Filters/pruning still push
    * to the scan below the exchange.
    */
  private def spread(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n, col(key))
  }

  def lineitem(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "lineitem"), "l_orderkey")
  def orders(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "orders"), "o_orderkey")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "documents"), "doc_id")
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(table(s, d, "embeddings"), "vec_id")

  /** events with `ts` normalized to TimestampType (micros) and
    * `ts_nanos` holding the original epoch-nanos Long.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = spread(table(s, d, "events"), "event_id")
    raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumn("ts_nanos", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // a session without our inferTimestampNTZ pin: NTZ→LTZ cast
        // interprets the wall clock in the session TZ (UTC here) —
        // the same instant the pinned read produces
        raw
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_nanos", unix_micros(col("ts")) * lit(1000L))
      case _ =>
        raw.withColumn("ts_nanos", unix_micros(col("ts")) * lit(1000L))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString

  private val demoIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Dirs whose data outlives the call that made them — a memoized demo
    * index serves the whole process, a returned DataFrame reads its
    * scratch lazily — removed when the JVM exits.
    */
  private val processScratch = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  private lazy val reaper: Unit = {
    sys.addShutdownHook(processScratch.forEach(f => org.apache.commons.io.FileUtils.deleteQuietly(f)))
    ()
  }

  private def deleteAtExit(dir: String): Unit = {
    reaper
    processScratch.add(new java.io.File(dir))
  }

  /** A fresh `<java.io.tmpdir>/<prefix>…` dir removed when the JVM exits. */
  def processScratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    deleteAtExit(dir)
    dir
  }

  /** Scratch dir for a self-contained query's demo index, built ONCE
    * per (kind, dataset) in this process. The application id in the
    * path keeps concurrent sessions (a bench and a verify run on the
    * same dataset) from racing overwrite writes against each other's
    * reads; the build-once memo makes repeated in-session runs (bench
    * reps) pure probes, so the bench median is the steady-state serve
    * number while first_run carries the one-time build.
    */
  def demoIndexDir(s: SparkSession, kind: String, d: String)(build: String => Unit): String = {
    val appId = s.sparkContext.applicationId
    demoIndexes.computeIfAbsent(
      s"$kind|$d|$appId",
      _ => {
        val dir = new java.io.File(
          sys.props("java.io.tmpdir"),
          s"graft_${kind}_${md5hex(d)}_$appId"
        ).toString
        deleteAtExit(dir)
        build(dir)
        dir
      }
    )
  }

  /** Materialize an output-sized result to scratch parquet, release
    * the given cached relations, and return the read-back rows
    * re-sorted (a parquet scan does not preserve write order — splits
    * are scheduled size-first). This is what lets a query wrapper
    * UNPERSIST its increment caches before returning: the caller's
    * action replays a tiny scan, not the now-uncached probe plan.
    */
  def materializedSorted(df: DataFrame, sortCols: Seq[String], caches: DataFrame*): DataFrame = {
    val out = processScratchDir("graft_mat") + "/r"
    df.write.parquet(out)
    caches.foreach(_.unpersist())
    df.sparkSession.read.parquet(out).orderBy(sortCols.map(col): _*)
  }

  /** Session settings every entry point applies: 32 shuffle partitions
    * (local[32] harness — at cluster scale this is sized to the data,
    * see NOTES in Bench), AQE on, UTC, nanos-as-long for `events`.
    */
  def sessionBuilder(master: String, cpus: String): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // untagged parquet timestamps (no isAdjustedToUTC) must read as
      // TimestampType, not TIMESTAMP_NTZ: the session TZ is pinned UTC
      // so the instant is identical, and the whole operator surface
      // (unix_micros, windows, watermarks) is TimestampType-shaped.
      // The driver has regenerated the fixtures with both annotations
      // across rounds; this pin makes the read deterministic.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
}
