package graft.core

import graft.SparkSpec
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The end-to-end slice of SURVEY.md §7.2: catalog read (parquet
  * footers) → plan → execute loads → differential validation with the
  * wide-metric compare. Run at sf0.001.
  */
class MigrationJobSpec extends SparkSpec {

  test("migrate nation+region+customer end to end with zero deviations") {
    val target = tempDir("graft_mig").toString
    val result = MigrationJob.run(
      spark,
      "/root/testdata/sf0.001",
      target,
      Seq("region", "nation", "customer")
    )
    assert(result.failures.isEmpty, result.failures.mkString("\n"))
    val loaded = result.outcomes.filter(_.status == "loaded")
    val validated = result.outcomes.filter(_.status == "validated")
    assert(loaded.size == 3 && validated.size == 3)
    // the loaded lake is readable and row-complete
    val src = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
    val tgt = spark.read.parquet(s"$target/tpch.customer").count()
    assert(src == tgt && tgt > 0)
  }

  test("validation detects an injected deviation") {
    val src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val corrupted = src.limit(20) // dropped rows
    assert(ActionRunner.validate(src, corrupted) > 0)
    assert(ActionRunner.validate(src, src) == 0)
  }

  test("dry run previews without writing") {
    val target = tempDir("graft_dry").toString
    val cols = Catalog.readParquetColumns(spark, "/root/testdata/sf0.001", "tpch", Seq("region"))
    val plan = PlanBuilder.build(GenericJdbcDialect, cols, Nil)
    val out = ActionRunner.run(spark, plan, (_, t) => spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet"), target, dryRun = true)
    assert(out.forall(_.status == "previewed"))
    assert(!Files.list(java.nio.file.Paths.get(target)).findAny().isPresent)
  }

  private val sf = "/root/testdata/sf0.001"
  private val threeTables = Seq("region", "nation", "customer")
  private def threeTablePlan = PlanBuilder.build(GenericJdbcDialect, Catalog.readParquetColumns(spark, sf, "tpch", threeTables), Nil)
  private def liveRunners(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName).filter(_.startsWith(Par.ThreadPrefix)).toSet

  test("concurrent sections return the sequential outcomes in plan order, on runners that end with the call") {
    val plan = threeTablePlan
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.marker", "inherited")
    val concurrent =
      try
        ActionRunner.run(
          spark,
          plan,
          (_, t) => {
            seen.add(Thread.currentThread.getName -> sc.getLocalProperty("graft.test.marker"))
            spark.read.parquet(s"$sf/$t.parquet")
          },
          tempDir("graft_conc").toString
        )
      finally sc.setLocalProperty("graft.test.marker", null)
    assert(liveRunners().isEmpty, liveRunners())
    // one action per call is the sequential baseline
    val seqDir = tempDir("graft_seq").toString
    val sequential = plan.actions
      .sortBy(a => (a.ord, a.sqlText))
      .flatMap(a => ActionRunner.run(spark, PlanBuilder.MigrationPlan(Seq(a)), (_, t) => spark.read.parquet(s"$sf/$t.parquet"), seqDir))
    assert(concurrent == sequential)
    assert(concurrent.count(_.status == "loaded") == 3 && concurrent.count(_.status == "validated") == 3)
    // the Spark-bound actions ran on the runner pool, which inherited
    // the caller's local properties (job group, trace span)
    val onPool = seen.asScala.filter(_._1.startsWith(Par.ThreadPrefix)).toSeq
    assert(onPool.size == 6, seen)
    assert(onPool.forall(_._2 == "inherited"), seen)
  }

  test("a failing source table errors its own actions only, reporting a message-less exception by class") {
    val plan = threeTablePlan
    val nationStmts = plan.actions.collect {
      case MigrationAction.Load(_, "nation", stmt) => stmt
      case MigrationAction.Validate(_, "nation", stmt) => stmt
    }.toSet
    val out = ActionRunner.run(
      spark,
      plan,
      (_, t) => if (t == "nation") throw new IllegalStateException() else spark.read.parquet(s"$sf/$t.parquet"),
      tempDir("graft_err").toString
    )
    val errors = out.filter(_.status.startsWith("ERROR"))
    assert(errors.map(_.stmt).toSet == nationStmts && errors.size == 2, out.mkString("\n"))
    assert(errors.forall(_.status == "ERROR: java.lang.IllegalStateException"), errors)
    assert(out.count(_.status == "loaded") == 2 && out.count(_.status == "validated") == 2, out.mkString("\n"))
    assert(liveRunners().isEmpty, liveRunners())
  }
}
