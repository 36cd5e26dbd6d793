package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.options.MigrationOptions

/** Action runner: executes a MigrationPlan against a parquet-lake
  * target. Mirrors the reference's review-then-execute contract: the
  * dry-run path returns the statement stream untouched; the execute
  * path maps each action to its Spark job and records a per-statement
  * outcome (the reference's apply executor,
  * convert_datatypes.sql:495-512,664-703).
  */
object ActionRunner {

  final case class Outcome(ord: Int, stmt: String, status: String)

  /** Execute the plan: Load = read source table → write parquet into
    * the target lake; Validate = wide-metric comparison source vs
    * loaded target (zero deviations = success). DDL/constraint actions
    * are metadata-only in a parquet lake and recorded as applied.
    *
    * Sections run in ordinal order; inside a section the loads (each
    * table writes its own directory) and the validations (read-only)
    * run concurrently through [[Par.staged]]. Outcomes come back in
    * plan order, and a failing table reports `ERROR` on its own rows
    * only.
    */
  def run(
      spark: SparkSession,
      plan: PlanBuilder.MigrationPlan,
      sourceTable: (String, String) => DataFrame,
      targetDir: String,
      dryRun: Boolean = false
  ): Seq[Outcome] = {
    val ordered = plan.actions.sortBy(a => (a.ord, a.sqlText))
    if (dryRun) return ordered.map(a => Outcome(a.ord, a.sqlText, "previewed"))
    val sparkBound: MigrationAction => Boolean = {
      case _: MigrationAction.Load | _: MigrationAction.Validate => true
      case _ => false
    }
    Par.staged(ordered)(_.ord, sparkBound) { a =>
      val status =
        try {
          a match {
            case MigrationAction.Load(s, t, _) =>
              sourceTable(s, t).write.mode("overwrite").parquet(s"$targetDir/$s.$t")
              "loaded"
            case MigrationAction.Validate(s, t, _) =>
              val src = sourceTable(s, t)
              val tgt = spark.read.parquet(s"$targetDir/$s.$t")
              val dev = validate(src, tgt)
              if (dev == 0) "validated" else s"DEVIATIONS: $dev"
            case _ => "applied"
          }
        } catch { case e: Exception => errorStatus(e) }
      Outcome(a.ord, a.sqlText, status)
    }
  }

  /** The outcome status of a failed action: the exception's message,
    * or its class when it carries none.
    */
  private[core] def errorStatus(e: Throwable): String =
    s"ERROR: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"

  /** Differential validation (reference CHECK_MIGRATION, §2.E): the
    * type-gated wide metric rows of both sides (the
    * [[graft.ops.CheckMigration.metricSpec]] of the source schema),
    * computed in ONE query and collected as one row, then compared
    * metric by metric, null-safely, on the driver. Returns the number
    * of deviating metrics — the `DEVIATION` rows of
    * [[graft.ops.CheckMigration.deviationReport]] over the same two
    * aggregates, without its melt, join and sort jobs.
    */
  def validate(source: DataFrame, target: DataFrame): Long = {
    import graft.ops.CheckMigration
    val spec = CheckMigration.metricSpec(source.schema)
    val a = CheckMigration.wideMetricsAgg(source, spec)
    val b = CheckMigration.wideMetricsAgg(target, spec)
    val n = a.columns.length
    // positional names: the two sides share every metric name
    val both = a.toDF((0 until n).map(i => s"a$i"): _*).crossJoin(b.toDF((0 until n).map(i => s"b$i"): _*)).head()
    (0 until n).count(i => both.get(i) != both.get(n + i)).toLong
  }
}

/** The end-to-end migration slice of SURVEY.md §7.2: catalog → plan →
  * execute loads → validate. Source here is the parquet fixture lake
  * (the offline stand-in for a JDBC source); the JDBC path shares
  * everything but the `sourceTable` function.
  */
object MigrationJob {

  final case class Result(outcomes: Seq[ActionRunner.Outcome]) {
    def failures: Seq[ActionRunner.Outcome] =
      outcomes.filter(o => o.status.startsWith("ERROR") || o.status.startsWith("DEVIATIONS"))
  }

  def run(
      spark: SparkSession,
      sfDir: String,
      targetDir: String,
      tables: Seq[String],
      opts: MigrationOptions = MigrationOptions()
  ): Result = {
    val cols = Catalog.readParquetColumns(spark, sfDir, "tpch", tables)
    val plan = PlanBuilder.build(GenericJdbcDialect, cols, Nil, opts)
    val outcomes = ActionRunner.run(
      spark,
      plan,
      (_, t) => spark.read.parquet(s"$sfDir/$t.parquet"),
      targetDir
    )
    Result(outcomes)
  }
}
