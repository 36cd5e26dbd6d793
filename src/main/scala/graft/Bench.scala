package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. Failures are reported in a separate
  * `errors` map (not folded into timings — a failed query must not
  * masquerade as a fast one).
  *
  * Denoised methodology (round 5): each query runs once cold
  * (`first_run` — comparable to the single-shot numbers of rounds
  * 1-4) and then `reps` more times; the MEDIAN of those reps is the
  * headline per-query number in `queries`. A fresh-JVM single shot
  * measures codegen/JIT/scheduler jitter as much as the query — the
  * round-4 bench showed 2-3× swings on bit-identical code — while a
  * median of warm runs measures the plan. Same pattern as
  * tools/MicroBench.scala.
  *
  * Both label maps below come from each query's `Query` record.
  *
  * `shares_scan_with` marks queries whose number is NOT standalone:
  * they read state memoized by another query's run (the dual-wide
  * metrics cache, the IVF model memo), mirroring the reference's
  * materialize-once design. Their cost lives in the named query's
  * entry.
  *
  * `build_included` marks the self-contained index queries:
  * "first_run" = the demo index is built once per process
  * (Fixtures.demoIndexDir), so first_run carries the one-time build
  * and the median is the steady-state PROBE — the serve number that
  * matters at 100 TB; "every_run" = each run rebuilds from fresh
  * scratch dirs (the stream replay), so every rep pays build + replay.
  *
  * Output is TRUNCATION-PROOF three ways (round 5 lost its own median
  * map to a tail-capture): a compact headline line (medians only)
  * prints FIRST, the full detail line prints LAST with the median map
  * as its final fields, and the full JSON is also written to
  * bench_full.json in the repo (tracked) plus /tmp/graft_bench.json.
  * Whichever line — or line fragment — a capture keeps, the medians
  * survive.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // optional comma-separated filter for local iteration; unset, the
    // bench covers every registered query
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.select(only)
    val spark = graft.ops.Fixtures
      .sessionBuilder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the session (JVM/codegen/file-listing) on the smallest SF so
    // per-query numbers measure the queries, not first-run setup.
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }

    // `every_run` queries (stream replays) pay their FULL source
    // rewrite + fresh-checkpoint replay on every single run: a median
    // of three identical replays re-measures the same machinery at 3×
    // the wall clock (the r14 bench session hit 55 min, ~150 s of it
    // replay repetition). One cold first_run plus ONE replay rep
    // reports the same steady number; serving queries keep the full
    // rep count (their medians denoise real plan timings).
    var medians = Vector.empty[(String, Double)]
    var firsts = Vector.empty[(String, Double)]
    var errors = Vector.empty[(String, String)]
    names.foreach { name =>
      val query = SparkEntry.registry(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        query.run(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        val first = once()
        val effReps = if (query.build.contains(Query.EveryRun)) math.min(1, reps) else reps
        val runs = (1 to effReps).map(_ => once()).sorted
        firsts :+= (name -> first)
        medians :+= (name -> runs(runs.length / 2))
      } catch {
        case e: Throwable =>
          errors :+= (name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    // millisecond precision keeps the line short — a long line risks
    // head-truncation in tail-style output capture
    def r3(v: Double): String = f"$v%.3f"
    def numMap(xs: Vector[(String, Double)]): String =
      xs.map { case (k, v) => s"${jstr(k)}:${r3(v)}" }.mkString("{", ",", "}")
    val qs = numMap(medians)
    val fr = numMap(firsts)
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    // per-query labels from the records of the queries that ran — see
    // the object scaladoc
    def labels(label: Query => Option[String]): String =
      medians
        .flatMap { case (n, _) => label(SparkEntry.registry(n)).map(v => s"${jstr(n)}:${jstr(v)}") }
        .mkString("{", ",", "}")
    val shares = labels(_.sharesScanWith)
    val builds = labels(_.build.map(_.label))
    val total = medians.map(_._2).sum
    val totalFirst = firsts.map(_._2).sum
    // headline FIRST (short: survives head-keeping captures whole),
    // detail LAST with the median map as its final fields (survives
    // tail-keeping captures) — either line alone carries the medians
    val headline =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,"total_first_run":${r3(
          totalFirst
        )},"queries":$qs,"sf":"$sfDir"}"""
    val detail =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,"total_first_run":${r3(
          totalFirst
        )},"first_run":$fr,"shares_scan_with":$shares,"build_included":$builds,"errors":$es,"queries":$qs,"sf":"$sfDir"}"""
    // the full JSON also lands in tracked + tmp files, so any stdout
    // truncation can always be reconstructed from the repo itself.
    // SUBSET runs (SPARK_GRAFT_QUERIES) must never touch the tracked
    // artifact: twice now a subset file was accidentally committed as
    // bench_full.json by a `git add -A` after an A/B run
    // (bench_ab_r10.md addendums 2 and 3) — only the full registry
    // writes it; subsets go to /tmp alone
    val sinks =
      if (only.isEmpty) Seq("/root/repo/bench_full.json", "/tmp/graft_bench.json")
      else Seq("/tmp/graft_bench.json")
    sinks.foreach { f =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(f), detail + "\n")
      catch { case _: Throwable => () }
    }
    println(headline)
    println(detail)
    spark.stop()
  }
}
