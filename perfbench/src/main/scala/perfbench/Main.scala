package perfbench

import org.apache.spark.sql.SparkSession
import graft.ops.Fixtures

/** Runs one workload for a fixed time and prints its metrics.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> [--trace-out <file>]
  *
  * Set-up (input generation and any index build) runs the workload's
  * `setupReps` times, each into a fresh directory; `setup_s` is its
  * median plus the time of the warm-up ops that follow. Then ops run in a
  * closed loop with one client until `--seconds` have passed and at least
  * [[MinTimedOps]] ops have run. Every op
  * is checked after its timer stops; a failed or wrong op counts in
  * `failed` and never in a timing. The last stdout line is the result
  * JSON: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`.
  */
object Main {
  /** Op ids from here on are warm-up ops. */
  val WarmUpBase = 1000000
  /** Ops the timed loop runs however long they take, so that a run's
    * median never rests on a single op.
    */
  val MinTimedOps = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String, traceOut: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"),
      m.getOrElse("trace-out", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.names.contains(a.workload), s"unknown workload '${a.workload}'; one of ${Workloads.names.mkString(", ")}")
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime
    val spark = Fixtures
      .sessionBuilder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    val sessionS = (System.nanoTime - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a, sessionS, cores)
    finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args, sessionS: Double, cores: Int): Unit = {
    val batchLog = new BatchLog(spark)
    val recorder = if (a.trace) Some(new Recorder(spark, batchLog)) else None
    val tracer = recorder.getOrElse(Tracer.Off)
    val w = Workloads(a.workload, spark, a.seed, a.work)
    var attempted = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Runs op `id`; its time if it completed and checked correct. */
    def runOp(id: Int): Option[(Double, Long)] = {
      attempted += 1
      val t = System.nanoTime
      val outcome =
        try Right(tracer.op(id)(w.op(id, tracer)))
        catch { case e: Exception => Left(s"op $id failed: $e") }
      val s = (System.nanoTime - t) / 1e9
      val err = outcome.fold(Some(_), d =>
        try d.check().map(m => s"op $id incorrect: $m")
        catch { case e: Exception => Some(s"op $id check failed: $e") }
        finally d.cleanup())
      err.foreach(failures += _)
      if (err.isEmpty) outcome.toOption.map(d => (s, d.rows)) else None
    }

    val setups = (0 until w.setupReps).map { r =>
      val t = System.nanoTime
      w.setUp(s"${a.work}/input$r")
      (System.nanoTime - t) / 1e9
    }
    w.prepareChecks()
    val warmUp = {
      val t = System.nanoTime
      (0 until w.warmUps).foreach(r => runOp(WarmUpBase + r))
      (System.nanoTime - t) / 1e9
    }

    val end = System.nanoTime + (a.seconds * 1e9).toLong
    val timed = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    var i = 0
    while (System.nanoTime < end || i < MinTimedOps) {
      runOp(i).foreach { case (s, rows) => timed += ((i, s, rows)) }
      i += 1
    }

    val loopS = (System.nanoTime - end) / 1e9 + a.seconds
    val opS = timed.map(_._2).toSeq
    val n = opS.size
    val rowsPerS = if (n == 0) 0.0 else timed.map(_._3).sum / opS.sum
    val batchS = batchLog.of(timed.map(_._1).toSet).map(_.durationsMs.getOrElse("triggerExecution", 0L) / 1000.0)
    val setupS = Stats.quantile(setups, 0.5) + warmUp
    val rss = Stats.peakRssMb()

    // human-readable report: every end-to-end metric, where it applies
    def p90(xs: Seq[Double], what: String): String =
      if (xs.size >= 100) f"${Stats.quantile(xs, 0.9)}%.4f s ($what n=${xs.size})"
      else s"n/a (only ${xs.size} $what; p90 needs >= 100 so that 10 lie beyond it)"
    println(s"# workload ${a.workload} seed ${a.seed} cores $cores trace ${if (a.trace) 1 else 0}")
    println(s"# sizes ${w.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    println(f"# session_s          $sessionS%.3f s (session start, not part of setup_s)")
    println(f"# setup_s            $setupS%.4f s (median set-up of ${setups.map(x => f"$x%.3f").mkString(", ")} + ${w.warmUps} warm-up ops $warmUp%.3f)")
    println(f"# op_s_p50           ${Stats.quantile(opS, 0.5)}%.4f s (n=$n, ${opS.map(x => f"$x%.3f").mkString(" ")}; loop $loopS%.1f s)")
    println(s"# op_s_p90           ${p90(opS, "ops")}")
    println(f"# rows_per_s         $rowsPerS%.1f rows/s")
    if (batchS.nonEmpty) {
      println(f"# batch_s_p50        ${Stats.quantile(batchS, 0.5)}%.4f s (n=${batchS.size})")
      println(s"# batch_s_p90        ${p90(batchS, "batches")}")
    } else {
      println("# batch_s_p50        n/a (no micro-batches in this workload)")
      println("# batch_s_p90        n/a (no micro-batches in this workload)")
    }
    println(f"# failed_ratio       ${failures.size.toDouble / attempted}%.4f (${failures.size} of $attempted ops, warm-up ops included)")
    println(f"# peak_rss_mb        $rss%.1f MB")
    failures.take(5).foreach(f => println(s"# FAILED $f"))

    val metrics: Seq[(String, Double)] = recorder match {
      case None =>
        Seq("setup_s" -> setupS, "op_s_p50" -> Stats.quantile(opS, 0.5), "rows_per_s" -> rowsPerS, "peak_rss_mb" -> rss)
      case Some(rec) =>
        if (a.traceOut.nonEmpty) rec.write(java.nio.file.Paths.get(a.traceOut), timed.map(_._1).toSeq)
        val layers = rec.summary(timed.map(_._1).toSeq, w.routeOf).toSeq.sortBy(_._1)
        layers.foreach { case (k, v) => println(f"# layer $k%-40s $v%.6f ${unitOf(k)}") }
        layers
    }
    import Json._
    println(
      obj(
        "correct" -> (if (failures.isEmpty && n > 0) "true" else "false"),
        "attempted" -> num(attempted),
        "failed" -> num(failures.size),
        "metrics" -> obj(metrics.map { case (k, v) => k -> obj("value" -> num(v), "unit" -> str(unitOf(k))) }: _*)
      )
    )
  }

  /** Unit of a metric, from its name. */
  def unitOf(name: String): String =
    if (name == "rows_per_s") "rows/s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_s") || name.endsWith(".s") || name.contains("_s_p") || name.startsWith("self_s.")) "s"
    else if (name.contains("_ms")) "ms"
    else if (name.endsWith("bytes") || name.contains("bytes_")) "bytes"
    else "count"
}
