package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened against a harness abort mid-run (a dead session must not
  * zero the round's correctness signal — it has, twice):
  *
  *  - the oracle map is written FIRST and a running `MANIFEST.json`
  *    (query → rows/status) is rewritten after EVERY query, so any
  *    partial run leaves a judgeable record of what completed;
  *  - RESUME-from-manifest: a re-invocation over an existing outDir
  *    skips every query whose manifest entry is ok AND whose dump dir
  *    exists, so ANY retried invocation converges to a complete dump
  *    instead of restarting from zero;
  *  - the registry runs on a small FAIR-scheduled thread pool
  *    (SPARK_GRAFT_VERIFY_THREADS, default 4) to shrink the exposure
  *    window — demo-index builds are already memoized once-per-process
  *    behind a ConcurrentHashMap, so concurrent queries share them;
  *  - after a FULL run, Verify itself emits the driver-schema verdict:
  *    it invokes tools/self_check.py (DuckDB compare, the driver's
  *    exact schema) and writes `CORRECTNESS_SELF.json` into outDir AND
  *    `CORRECTNESS_SELF_r<N>.json` into the repo root — a committed,
  *    driver-schema artifact exists the moment Verify exits, with no
  *    separate harness step left to die.
  *
  * The cache is cleared between query groups so a long full-registry
  * run cannot accrete executor memory.
  */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Parse OUR OWN manifest format back: query name → raw entry JSON.
    * Query names are plain identifiers and entry values are flat
    * objects, so a regex is exact here (no general JSON needed).
    */
  private[graft] def manifestEntries(manifestJson: String): Seq[(String, String)] =
    """"([A-Za-z0-9_]+)":\s*(\{[^{}]*\})""".r
      .findAllMatchIn(manifestJson)
      .map(m => m.group(1) -> m.group(2))
      .toSeq

  /** Names whose manifest entry reports ok — the resume skip set
    * (callers must ALSO check the dump dir still exists).
    */
  private[graft] def completedInManifest(manifestJson: String): Set[String] =
    manifestEntries(manifestJson).collect {
      case (name, entry) if entry.contains("\"ok\": true") => name
    }.toSet

  /** Run the registry (or the `only` subset) into `outDir`, resuming
    * over whatever a prior run completed. Returns the names actually
    * EXECUTED this invocation (resumed-over names are excluded) — the
    * resume contract VerifySpec pins.
    */
  private[graft] def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      only: Option[Set[String]],
      threads: Int
  ): Seq[String] = {
    val names = SparkEntry.select(only)
    new java.io.File(outDir).mkdirs()
    // oracle dump FIRST: the compare harness needs it for whatever
    // subset of dumps a partial run manages to write
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val manifestPath = Paths.get(s"$outDir/MANIFEST.json")
    val prior: Seq[(String, String)] =
      if (Files.exists(manifestPath)) manifestEntries(Files.readString(manifestPath)) else Seq.empty
    val priorOk = prior.collect {
      case (name, entry)
          if entry.contains("\"ok\": true") && new java.io.File(outDir, name).exists() =>
        name -> entry
    }.toMap
    val manifest = scala.collection.mutable.LinkedHashMap[String, String]()
    // carry completed entries forward so a resumed run converges to a
    // manifest covering EVERY query, not just this invocation's
    names.foreach(n => priorOk.get(n).foreach(e => manifest(n) = e))
    val lock = new Object
    def flushManifest(): Unit = lock.synchronized {
      Files.writeString(
        manifestPath,
        manifest.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
      )
    }
    val pending = names.filterNot(priorOk.contains)
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    pending.foreach(queue.add)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    def worker(id: Int): Thread = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"verify-$id")
      var name = queue.poll()
      while (name != null) {
        val fn = SparkEntry.queries(name)
        val entry =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            // read-back count is parquet-footer metadata, not a re-run
            val rows = spark.read.parquet(s"$outDir/$name").count()
            s"""{"ok": true, "rows": $rows}"""
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            s"""{"ok": false, "error": ${q(String.valueOf(e.getMessage).take(300))}}"""
          }
        lock.synchronized { manifest(name) = entry }
        flushManifest()
        // release anything a query family cached; demo indexes are
        // disk-backed (Fixtures.demoIndexDir), so nothing is lost, and
        // a constrained harness doesn't watch cached partitions accrete
        if (done.incrementAndGet() % 20 == 0) spark.catalog.clearCache()
        name = queue.poll()
      }
    }, s"graft-verify-$id")
    val ws = (0 until math.max(1, math.min(threads, pending.size))).map(worker)
    ws.foreach(_.start())
    ws.foreach(_.join())
    flushManifest()
    pending
  }

  /** The round number for the committed self-check artifact name:
    * one past the highest BENCH_r<N>.json already in the repo root
    * (the driver writes one per completed round).
    */
  private def currentRound(repoRoot: java.io.File): Option[Int] = {
    val re = """BENCH_r(\d+)\.json""".r
    val rounds = Option(repoRoot.list()).getOrElse(Array.empty).collect {
      case re(n) => n.toInt
    }
    if (rounds.isEmpty) None else Some(rounds.max + 1)
  }

  /** Emit the driver-schema correctness verdict from Verify itself:
    * run tools/self_check.py (DuckDB compare) over the dump dir,
    * writing into outDir and committing-ready into the repo root. Any
    * failure here must not fail Verify — the dumps and manifest are
    * already on disk and remain the primary artifact.
    */
  private def emitSelfCheck(sfDir: String, outDir: String): Unit =
    try {
      val cwd = new java.io.File(".").getCanonicalFile
      val script = new java.io.File(cwd, "tools/self_check.py")
      if (!script.isFile) {
        System.err.println(s"[verify] self-check skipped: ${script.getPath} not found")
        return
      }
      val outJson = s"$outDir/CORRECTNESS_SELF.json"
      val rc = new ProcessBuilder("python3", script.getPath, sfDir, outDir, outJson)
        .inheritIO().start().waitFor()
      System.err.println(s"[verify] self-check exit code $rc -> $outJson")
      val tag = currentRound(cwd).map(n => f"r$n%02d").getOrElse("latest")
      val repoCopy = new java.io.File(cwd, s"CORRECTNESS_SELF_$tag.json").toPath
      Files.copy(Paths.get(outJson), repoCopy,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      System.err.println(s"[verify] self-check verdict copied to $repoCopy")
    } catch {
      case e: Throwable => System.err.println(s"[verify] self-check skipped: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    val spark = graft.ops.Fixtures
      .sessionBuilder(s"local[$cpus]", cpus)
      // FAIR mode round-robins the worker pools so one slow family
      // cannot starve the rest of the registry
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated filter for local iteration (same hook as
    // Bench); the driver never sets it, so gate runs cover every query
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    val executed = run(spark, sfDir, outDir, only, threads)
    System.err.println(
      s"[verify] executed ${executed.size} queries this invocation (resume skipped the rest)"
    )
    // the driver-schema verdict, emitted by the entry point itself —
    // only for FULL-registry runs (a subset dump would misreport every
    // other query as missing); SPARK_GRAFT_SELF_CHECK=0 opts out
    if (only.isEmpty && sys.env.getOrElse("SPARK_GRAFT_SELF_CHECK", "1") != "0")
      emitSelfCheck(sfDir, outDir)
    spark.stop()
  }
}
