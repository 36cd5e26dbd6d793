package perfbench

import scala.collection.mutable
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What a workload reports to while it runs. The timed run uses
  * [[Tracer.Off]], which only evaluates the bodies; the traced run
  * uses a [[Recorder]].
  */
trait Tracer {
  /** Runs `body` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T

  /** Records a count at the current op's boundary. */
  def count(name: String, value: Double): Unit

  /** Runs one op: `op` is its id, shared by every span inside. */
  def op[T](op: Int)(body: => T): T
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
    def count(name: String, value: Double): Unit = ()
    def op[T](op: Int)(body: => T): T = body
  }
}

/** Micro-batch progress of every streaming query, tagged with the op
  * that was running. The timed run attaches it too: micro-batch time is
  * an end-to-end metric of the CDC workload.
  */
final class BatchLog(spark: SparkSession) extends StreamingQueryListener {
  final case class Batch(op: Int, durationsMs: Map[String, Long], inputRows: Long)
  @volatile var currentOp: Int = -1
  private val batches = mutable.ArrayBuffer.empty[Batch]

  def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = event.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized(batches += Batch(currentOp, d, p.numInputRows))
  }

  /** Batches of the given ops that read input. */
  def of(ops: Set[Int]): Seq[Batch] = synchronized(batches.filter(b => ops(b.op) && b.inputRows > 0).toSeq)

  spark.streams.addListener(this)
}

/** The traced run's recorder: one span per call the benchmark makes
  * into a program module, plus a `SparkListener` and a
  * `QueryExecutionListener` that collect job, stage, task, block and
  * planning events. Everything is kept in memory and summarised (and
  * written out) when the run ends.
  *
  * Jobs belong to the span that was open on the submitting thread (a
  * local property, inherited by threads the program starts inside the
  * span) and to a layer by their call site: jobs submitted from
  * `ActionRunner.validate` are validation wherever they run, jobs a
  * streaming query runs are the CDC stream's `foreachBatch` body (the
  * `DeltaSync` merge); any other job belongs to its span.
  */
final class Recorder(spark: SparkSession, batchLog: BatchLog) extends SparkListener with Tracer {
  import Recorder._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val counts = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jdbcStages = mutable.HashSet.empty[Int]
  private val execSites = mutable.HashMap.empty[Long, String]
  private val planningMs = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
  private val opBlocks = mutable.HashMap.empty[Int, (Long, Int)]
  private val liveBlocks = mutable.HashMap.empty[String, Long]
  private var liveBytes = 0L
  private var peakBytes = 0L
  private var nextSpan = 1
  private val stack = new ThreadLocal[List[SpanRec]] { override def initialValue(): List[SpanRec] = Nil }
  @volatile private var currentOp = -1

  def span[T](name: String)(body: => T): T = {
    val parent = stack.get
    val id = synchronized { nextSpan += 1; nextSpan }
    val rec = SpanRec(id, parent.headOption.fold(0)(_.id), currentOp, name, System.nanoTime, 0L, System.currentTimeMillis, 0L)
    stack.set(rec :: parent)
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      val done = rec.copy(end = System.nanoTime, endMs = System.currentTimeMillis)
      synchronized(spans += done)
      stack.set(parent)
      sc.setLocalProperty(SpanProp, parent.headOption.map(_.id.toString).orNull)
    }
  }

  def count(name: String, value: Double): Unit = synchronized(counts += ((currentOp, name, value)))

  def op[T](op: Int)(body: => T): T = {
    org.apache.spark.perfbench.BusDrain(sc)
    val before = synchronized { peakBytes = liveBytes; liveBlocks.keySet.toSet }
    currentOp = op
    batchLog.currentOp = op
    try span("op")(body)
    finally {
      org.apache.spark.perfbench.BusDrain(sc)
      synchronized(opBlocks(op) = (peakBytes, liveBlocks.keySet.count(b => !before(b))))
      currentOp = -1
      batchLog.currentOp = -1
    }
  }

  // ------------------------------------------------------------ listeners

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
    // a job's call site is the long form recorded on its result stage
    val site = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, prop, e.time, -1L, site, TaskSums(), Option(e.properties).fold(Map.empty[String, String]) {
      p => Seq(ExecProp, StreamProp).flatMap(k => Option(p.getProperty(k)).map(k -> _)).toMap
    })
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized(execSites(x.executionId) = x.details)
    case _ => ()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.rddInfos.exists(_.name.contains("JDBCRDD"))) jdbcStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) j.tasks.add(e, jdbcStages(e.stageId))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      liveBytes -= liveBlocks.remove(id).getOrElse(0L)
      val size = info.memSize + info.diskSize
      if (info.storageLevel.isValid && size > 0) { liveBlocks(id) = size; liveBytes += size }
      peakBytes = math.max(peakBytes, liveBytes)
    }
  }

  private object qeListener extends QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      Recorder.this.synchronized(planningMs(currentOp) += ms)
    }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  // ------------------------------------------------------------ summary

  /** Per-layer metrics over the measured ops: per-op means of times and
    * counts, medians of per-batch and per-probe times.
    */
  def summary(measured: Seq[Int], routeOf: Int => Option[String]): Map[String, Double] = synchronized {
    val ops = measured.toSet
    val n = math.max(1, measured.size).toDouble
    val spanById = spans.map(s => s.id -> s).toMap
    val opJobs = jobs.values.filter(j => spanById.get(j.span).exists(s => ops(s.op)) && j.endMs >= 0).toSeq
    def spanOf(j: JobRec) = spanById(j.span)
    val byLayer = opJobs.groupBy(j => layerOf(j, spanById)).withDefaultValue(Nil)
    def sums(js: Seq[JobRec]): TaskSums = js.foldLeft(TaskSums())((a, j) => a.plus(j.tasks))
    def busyS(js: Seq[JobRec]): Double = covered(js.map(j => (j.startMs, j.endMs))) / 1000.0
    val opSpans = spans.filter(s => ops(s.op)).toSeq
    def spanS(name: String): Double = opSpans.filter(_.name == name).map(_.seconds).sum / n
    def countOf(name: String): Double = counts.filter(c => ops(c._1) && c._2 == name).map(_._3).sum / n

    val out = mutable.LinkedHashMap.empty[String, Double]
    out("core.catalog.s") = spanS("core.catalog")
    out("core.plan.s") = spanS("core.plan") + spanS("core.LiveJdbc.plan")
    out("core.plan.actions") = countOf("core.plan.actions")

    val load = byLayer("core.exec.load")
    out("core.exec.load.busy_s") = busyS(load) / n
    out("core.exec.load.rows_written") = sums(load).recordsWritten / n
    out("core.exec.load.bytes_written") = sums(load).bytesWritten / n
    out("core.exec.load.files_written") = countOf("core.exec.load.files_written")

    val validate = byLayer("validate")
    out("validate.busy_s") = busyS(validate) / n
    out("validate.rows_scanned") = sums(validate).recordsRead / n
    out("validate.shuffle_bytes") = sums(validate).shuffleWriteBytes / n
    out("validate.jobs") = validate.size / n

    val live = byLayer("core.LiveJdbc.execute")
    val readback = validate.filter(j => spanOf(j).name == "core.LiveJdbc.execute")
    out("livejdbc.load.busy_s") = busyS(live) / n
    out("livejdbc.load.rows") = sums(live).recordsRead / n
    out("livejdbc.readback.busy_s") = busyS(readback) / n
    out("livejdbc.readback.rows") = sums(readback).jdbcRecordsRead / n
    // the execute call's time with no Spark job running: DDL and key
    // import over the live connection, plus driver-side planning
    val execSpans = opSpans.filter(_.name == "core.LiveJdbc.execute")
    out("livejdbc.ddl_s") = execSpans.map { s =>
      val inside = opJobs.filter(_.span == s.id).map(j => (j.startMs, j.endMs))
      (s.endMs - s.startMs - covered(inside)) / 1000.0
    }.sum / n

    val batches = batchLog.of(ops)
    def batchP50(key: String): Double = median(batches.map(_.durationsMs.getOrElse(key, 0L).toDouble))
    out("streaming.batches") = batches.size / n
    out("streaming.input_rows") = batches.map(_.inputRows).sum / n
    out("streaming.trigger_ms_p50") = batchP50("triggerExecution")
    out("streaming.add_batch_ms_p50") = batchP50("addBatch")
    out("streaming.query_planning_ms_p50") = batchP50("queryPlanning")
    out("streaming.wal_commit_ms_p50") = batchP50("walCommit")
    out("streaming.commit_offsets_ms_p50") = batchP50("commitOffsets")
    out("streaming.latest_offset_ms_p50") = batchP50("latestOffset")
    out("streaming.get_batch_ms_p50") = batchP50("getBatch")
    out("streaming.fixed_ms_p50") = median(batches.map { b =>
      (b.durationsMs.getOrElse("triggerExecution", 0L) - b.durationsMs.getOrElse("addBatch", 0L)).toDouble
    })

    val merge = byLayer("deltasync")
    out("deltasync.busy_s") = busyS(merge) / n
    out("deltasync.shuffle_bytes") = sums(merge).shuffleWriteBytes / n

    // search metrics are per probe, over the ops that ran a probe
    val probes = measured.filter(i => routeOf(i).isDefined)
    val pn = math.max(1, probes.size).toDouble
    val probeSpans = opSpans.filter(s => routeOf(s.op).isDefined)
    val probeJobs = opJobs.filter(j => routeOf(spanOf(j).op).isDefined)
    val searchOps = probeSpans.filter(_.name == "op")
    out("search.call_s") = probeSpans.filter(_.name == "ops.Search").map(_.seconds).sum / pn
    out("search.collect_s") = probeSpans.filter(_.name == "result.collect").map(_.seconds).sum / pn
    out("search.planning_ms") = probes.map(planningMs).sum / pn
    out("search.jobs_per_probe") = probeJobs.size / pn
    out("search.bytes_read_per_probe") = sums(probeJobs).bytesRead / pn
    Inputs.routes.foreach { r =>
      out(s"search.$r.probe_ms_p50") = median(searchOps.filter(s => routeOf(s.op).contains(r)).map(_.seconds * 1000))
    }

    val all = sums(opJobs)
    out("spark.jobs") = opJobs.size / n
    out("spark.stages") = all.stages.size / n
    out("spark.tasks") = all.tasks / n
    out("spark.task_run_s") = all.runMs / 1000.0 / n
    out("spark.task_cpu_s") = all.cpuNs / 1e9 / n
    out("spark.gc_s") = all.gcMs / 1000.0 / n
    out("spark.scheduler_delay_s") = all.schedulerDelayMs / 1000.0 / n
    out("spark.input_bytes") = all.bytesRead / n
    out("spark.shuffle_write_bytes") = all.shuffleWriteBytes / n
    out("spark.shuffle_read_bytes") = all.shuffleReadBytes / n
    out("spark.shuffle_fetch_wait_s") = all.fetchWaitMs / 1000.0 / n
    out("spark.spill_bytes") = all.spillBytes / n
    out("spark.output_bytes") = all.bytesWritten / n
    out("spark.peak_exec_mem_bytes") = all.peakExecMem.toDouble
    out("spark.tasks_failed") = all.failed / n
    out("spark.pinned_bytes_peak") = measured.flatMap(opBlocks.get).map(_._1).maxOption.getOrElse(0L).toDouble
    out("spark.blocks_left_after_op") = measured.flatMap(opBlocks.get).map(_._2).sum / n
    val opRoots = opSpans.filter(_.name == "op")
    out("driver.gap_s") = opRoots.map { s =>
      val inside = opJobs.filter(j => spanById(j.span).op == s.op).map(j => (j.startMs, j.endMs))
      (s.endMs - s.startMs - covered(inside)) / 1000.0
    }.sum / n

    selfTimes(opSpans).foreach { case (name, s) => out(s"self_s.$name") = s / n }
    out("trace.op_s_p50") = median(opRoots.map(_.seconds))
    out("trace.spans_per_op") = opSpans.size / n
    out.toMap
  }

  /** The layer a job belongs to. Its call site is its SQL execution's:
    * AQE submits stage jobs from a pool thread whose own stack has no
    * program frames.
    */
  private def layerOf(j: JobRec, spanById: Map[Int, SpanRec]): String = {
    val site = j.props.get(ExecProp).flatMap(id => execSites.get(id.toLong)).getOrElse(j.site)
    if (j.props.contains(StreamProp)) "deltasync"
    else if (site.contains("ActionRunner$.validate")) "validate"
    else spanById.get(j.span).fold("none")(_.name)
  }

  /** Self time of each span name: its duration minus the part its
    * child spans cover (children of one span run one after another).
    */
  private def selfTimes(opSpans: Seq[SpanRec]): Map[String, Double] = {
    val children = opSpans.groupBy(_.parent)
    val self = opSpans.map(s => s.name -> (s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum))
    SpanNames.map(name => name -> self.filter(_._1 == name).map(_._2).sum).toMap
  }

  /** Writes every span, job and batch of the run as JSON. */
  def write(path: java.nio.file.Path, measured: Seq[Int]): Unit = synchronized {
    import Json._
    val spanById = spans.map(s => s.id -> s).toMap
    val spanJs = spans.map(s =>
      obj("id" -> num(s.id), "parent" -> num(s.parent), "op" -> num(s.op), "name" -> str(s.name),
        "start_ns" -> num(s.start), "end_ns" -> num(s.end)))
    val jobJs = jobs.values.map(j =>
      obj("job" -> num(j.id), "span" -> num(j.span), "start_ms" -> num(j.startMs), "end_ms" -> num(j.endMs),
        "tasks" -> num(j.tasks.tasks), "layer" -> str(layerOf(j, spanById))))
    val batchJs = batchLog.of(measured.toSet).map(b =>
      obj("op" -> num(b.op), "input_rows" -> num(b.inputRows),
        "duration_ms" -> obj(b.durationsMs.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      obj("measured_ops" -> arr(measured.map(num(_))), "spans" -> arr(spanJs.toSeq), "jobs" -> arr(jobJs.toSeq),
        "batches" -> arr(batchJs)))
  }
}

object Recorder {
  private val SpanProp = "perfbench.span"
  private val ExecProp = "spark.sql.execution.id"
  /** Set on jobs a streaming query runs: for the CDC stream, the
    * `foreachBatch` body (the `DeltaSync.applyOps` merge and the state
    * rewrite).
    */
  private val StreamProp = "sql.streaming.queryId"

  /** Span names the workloads use, in call order. */
  val SpanNames: Seq[String] = Seq(
    "op", "core.catalog", "core.plan", "core.exec.load", "ops.CheckMigration", "core.LiveJdbc.plan",
    "core.LiveJdbc.execute", "streaming.StreamingIngest", "ops.Search", "result.collect"
  )

  final case class SpanRec(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long, startMs: Long, endMs: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  final case class JobRec(
      id: Int, span: Int, startMs: Long, endMs: Long, site: String, tasks: TaskSums, props: Map[String, String]
  )

  /** Task metrics summed over a job's tasks. */
  final case class TaskSums(
      var tasks: Long = 0, var failed: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var schedulerDelayMs: Long = 0, var bytesRead: Long = 0, var recordsRead: Long = 0,
      var jdbcRecordsRead: Long = 0, var bytesWritten: Long = 0, var recordsWritten: Long = 0,
      var shuffleWriteBytes: Long = 0, var shuffleReadBytes: Long = 0, var fetchWaitMs: Long = 0,
      var spillBytes: Long = 0, var peakExecMem: Long = 0, stages: mutable.Set[Int] = mutable.Set.empty
  ) {
    def add(e: SparkListenerTaskEnd, jdbc: Boolean): Unit = {
      tasks += 1
      stages += e.stageId
      if (e.reason != TaskSuccess) failed += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        val info = e.taskInfo
        schedulerDelayMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        bytesRead += m.inputMetrics.bytesRead
        recordsRead += m.inputMetrics.recordsRead
        if (jdbc) jdbcRecordsRead += m.inputMetrics.recordsRead
        bytesWritten += m.outputMetrics.bytesWritten
        recordsWritten += m.outputMetrics.recordsWritten
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }

    def plus(o: TaskSums): TaskSums = TaskSums(
      tasks + o.tasks, failed + o.failed, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      schedulerDelayMs + o.schedulerDelayMs, bytesRead + o.bytesRead, recordsRead + o.recordsRead,
      jdbcRecordsRead + o.jdbcRecordsRead, bytesWritten + o.bytesWritten, recordsWritten + o.recordsWritten,
      shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes, fetchWaitMs + o.fetchWaitMs,
      spillBytes + o.spillBytes, math.max(peakExecMem, o.peakExecMem), stages ++ o.stages
    )
  }

  /** Length of the union of [start, end] intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
}
