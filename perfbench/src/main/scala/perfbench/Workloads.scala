package perfbench

import java.sql.{DriverManager, SQLException}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.core.{ActionRunner, Catalog, GenericJdbcDialect, LiveJdbc, MigrationAction, MigrationJob, PlanBuilder}
import graft.ops.{Movement, Search}
import graft.streaming.StreamingIngest

/** The outcome of one op, returned once its timed part is done. */
final case class Done(rows: Long, check: () => Option[String], cleanup: () => Unit = () => ())

/** One benchmark workload. `setUp` writes the seeded inputs (and any
  * state built from them) under a fresh directory; `op` runs one timed
  * operation against the last set-up, under `tr`.
  */
trait Workload {
  def name: String
  /** Fixed sizes, recorded in the report. */
  def sizes: Seq[(String, Long)]
  def setUp(dir: String): Unit
  /** How many times a run sets up: the median is `setup_s`. */
  def setupReps: Int = 3
  /** Untimed ops after set-up, enough for the JIT and Spark's code
    * generation to approach steady state; their time counts in `setup_s`.
    */
  def warmUps: Int
  /** Work done once after set-up, before timing (reference outputs). */
  def prepareChecks(): Unit = ()
  def op(i: Int, tr: Tracer): Done
  /** The search route op `i` runs, if any. */
  def routeOf(i: Int): Option[String] = None
}

object Workloads {
  val names: Seq[String] = Seq("migrate_lake", "migrate_jdbc", "cdc_sync", "search_serve")

  /** Source size of both migrate workloads, and the tables they migrate. */
  val lake = Inputs.LakeSize(customers = 1000, suppliers = 100, parts = 2000, orders = 3000)
  val lakeTables: Seq[String] = Seq("orders", "lineitem")
  val lakeRows: Long = lakeTables.map(lake.rows).sum
  private val lakeSizes = lakeTables.map(t => s"rows.$t" -> lake.rows(t)) :+ ("rows.total" -> lakeRows)
  val cdcCustomers = 15000
  val corpus = Inputs.CorpusSize(docs = 500, vocab = 2000, minLen = 20, maxLen = 100)
  val probesPerRoute = 1
  val k = 10

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload = name match {
    case "migrate_lake" => new MigrateLake(spark, seed, work)
    case "migrate_jdbc" => new MigrateJdbc(spark, seed, work)
    case "cdc_sync" => new CdcSync(spark, seed)
    case "search_serve" => new SearchServe(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'; one of ${names.mkString(", ")}")
  }

  private def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Rows in a parquet table directory, from the file footers alone. */
  private def footerRows(spark: SparkSession, dir: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getRecordCount
      finally r.close()
    }.sum
  }

  private def parquetFiles(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0 else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Rows of a result, columns in name order, rendered and sorted. */
  def canonical(df: DataFrame, rows: Array[Row]): Seq[String] = {
    val names = df.columns.sorted
    rows.map(r => names.map(n => String.valueOf(r.get(r.fieldIndex(n)))).mkString("|")).toSeq.sorted
  }

  // ------------------------------------------------------------ migrate_lake

  /** One `MigrationJob.run` of the seven-table source into a fresh
    * parquet target. The traced run makes the same calls one by one —
    * catalog read, plan build, then `ActionRunner.run` over the load
    * actions and over the validation actions — to time each layer.
    */
  final class MigrateLake(spark: SparkSession, seed: Long, work: String) extends Workload {
    val name = "migrate_lake"
    override def warmUps: Int = 1
    private var lakeDir = ""
    def sizes: Seq[(String, Long)] = lakeSizes
    def setUp(dir: String): Unit = { lakeDir = dir; Inputs.writeLake(spark, dir, seed, lake, lakeTables.toSet) }

    def op(i: Int, tr: Tracer): Done = {
      val target = s"$work/target/op$i"
      val outcomes =
        if (tr eq Tracer.Off) MigrationJob.run(spark, lakeDir, target, lakeTables).outcomes
        else {
          val cols = tr.span("core.catalog")(Catalog.readParquetColumns(spark, lakeDir, "tpch", lakeTables))
          val plan = tr.span("core.plan")(PlanBuilder.build(GenericJdbcDialect, cols, Nil))
          tr.count("core.plan.actions", plan.actions.size)
          val (validates, rest) = plan.actions.partition(_.isInstanceOf[MigrationAction.Validate])
          val src = (_: String, t: String) => spark.read.parquet(s"$lakeDir/$t.parquet")
          val loaded = tr.span("core.exec.load")(ActionRunner.run(spark, PlanBuilder.MigrationPlan(rest), src, target))
          tr.count("core.exec.load.files_written", lakeTables.map(t => parquetFiles(spark, s"$target/tpch.$t")).sum)
          loaded ++ tr.span("ops.CheckMigration")(ActionRunner.run(spark, PlanBuilder.MigrationPlan(validates), src, target))
        }
      Done(
        lakeRows,
        () => {
          val bad = outcomes.filterNot { o =>
            o.status == "loaded" && o.stmt.startsWith("LOAD ") ||
            o.status == "validated" && o.stmt.startsWith("VALIDATE ") ||
            o.status == "applied" && !o.stmt.startsWith("LOAD ") && !o.stmt.startsWith("VALIDATE ")
          }
          val loads = outcomes.count(_.status == "loaded")
          val counts = lakeTables.filter(t => footerRows(spark, s"$target/tpch.$t") != lake.rows(t))
          if (bad.nonEmpty) Some(s"unexpected outcomes: ${bad.take(3).mkString("; ")}")
          else if (loads != lakeTables.size) Some(s"$loads tables loaded, expected ${lakeTables.size}")
          else if (counts.nonEmpty) Some(s"target row counts differ from the source: ${counts.mkString(", ")}")
          else None
        },
        () => delete(spark, target)
      )
    }
  }

  // ------------------------------------------------------------ migrate_jdbc

  /** One `LiveJdbc.execute` of the same source into a fresh in-memory
    * Derby database, dropped after the op.
    */
  final class MigrateJdbc(spark: SparkSession, seed: Long, work: String) extends Workload {
    val name = "migrate_jdbc"
    override def warmUps: Int = 1
    private var lakeDir = ""
    def sizes: Seq[(String, Long)] = lakeSizes
    def setUp(dir: String): Unit = { lakeDir = dir; Inputs.writeLake(spark, dir, seed, lake, lakeTables.toSet) }

    def op(i: Int, tr: Tracer): Done = {
      val db = s"memory:perfbench_${seed}_${ProcessHandle.current.pid}_$i"
      val keys = Movement.fixtureKeyMeta
      val cols = tr.span("core.catalog")(Catalog.readParquetColumns(spark, lakeDir, "tpch", lakeTables))
      val planned = tr.span("core.LiveJdbc.plan")(LiveJdbc.plan(cols, keys))
      tr.count("core.plan.actions", planned.size)
      val src = (_: String, t: String) => spark.read.parquet(s"$lakeDir/$t.parquet")
      val outcomes = tr.span("core.LiveJdbc.execute")(LiveJdbc.execute(spark, s"jdbc:derby:$db;create=true", cols, keys, src))
      Done(
        lakeRows,
        () => {
          val want = planned.map(p => (p.ord, p.sql, LiveJdbc.expectedStatus(p.kind))).sorted
          val got = outcomes.map(o => (o.ord, o.stmt, o.status)).sorted
          val missed = want.diff(got)
          val counts = liveCounts(s"jdbc:derby:$db").filter { case (t, n) => n != lake.rows(t) }
          if (missed.nonEmpty) {
            val byStmt = got.map(g => (g._1, g._2) -> g._3).toMap
            Some(missed.take(3).map(m => s"${m._2} -> ${byStmt.getOrElse((m._1, m._2), "missing")}").mkString("; "))
          } else if (counts.nonEmpty) Some(s"target row counts differ from the source: ${counts.mkString(", ")}")
          else None
        },
        () => drop(db)
      )
    }

    private def liveCounts(url: String): Seq[(String, Long)] = {
      val conn = DriverManager.getConnection(url)
      try lakeTables.map { t =>
        val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM TPCH.${t.toUpperCase}")
        rs.next()
        t -> rs.getLong(1)
      } finally conn.close()
    }

    /** Drops the in-memory database; Derby reports success as 08006. */
    private def drop(db: String): Unit =
      try DriverManager.getConnection(s"jdbc:derby:$db;drop=true").close()
      catch { case e: SQLException if e.getSQLState == "08006" => () }
  }

  // ------------------------------------------------------------ cdc_sync

  /** One `StreamingIngest.deltaApplyStream` over the generated customer
    * dimension: its feed of upserts and tombstones is applied in
    * micro-batches through `DeltaSync.applyOps`, and the merged state
    * is collected.
    */
  final class CdcSync(spark: SparkSession, seed: Long) extends Workload {
    val name = "cdc_sync"
    override def warmUps: Int = 1
    private var dir = ""
    private lazy val expected = Inputs.cdcExpected(seed, cdcCustomers).map { case (k, s, q) => s"$k|$s|$q" }
    def sizes: Seq[(String, Long)] =
      Seq("rows.customer" -> cdcCustomers.toLong, "rows.feed" -> Inputs.cdcFeedRows(cdcCustomers))
    def setUp(d: String): Unit = { dir = d; Inputs.writeCdcCustomers(spark, d, seed, cdcCustomers) }
    override def prepareChecks(): Unit = expected

    def op(i: Int, tr: Tracer): Done = {
      val state = tr.span("streaming.StreamingIngest")(StreamingIngest.deltaApplyStream(spark, dir))
      val rows = tr.span("result.collect")(state.collect())
      Done(
        Inputs.cdcFeedRows(cdcCustomers),
        () => {
          val got = rows.map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}").toSeq
          if (got == expected) None
          else Some(s"state differs from the fold of the feed: ${got.size} rows, expected ${expected.size}; " +
            s"first difference ${got.zipAll(expected, "-", "-").find(p => p._1 != p._2)}")
        }
      )
    }
  }

  // ------------------------------------------------------------ search_serve

  /** One top-k probe against the persisted analyzed index, routes in a
    * seeded mix. Each distinct probe's answer is computed once, before
    * timing, by [[SearchReference]]: the corpus-route semantics that the
    * index route must agree with, evaluated in plain Scala.
    */
  final class SearchServe(spark: SparkSession, seed: Long) extends Workload {
    val name = "search_serve"
    private var dir = ""
    private val distinct = Inputs.probes(seed, corpus, probesPerRoute)
    private val order = {
      val rnd = new scala.util.Random(seed)
      Iterator.continually(rnd.shuffle(distinct.indices.toVector)).flatten.take(4096).toVector
    }
    private var expected = Map.empty[Int, Seq[String]]
    def sizes: Seq[(String, Long)] = Seq(
      "rows.documents" -> corpus.docs.toLong,
      "vocabulary" -> corpus.vocab.toLong,
      "distinct_probes" -> distinct.size.toLong,
      "k" -> k.toLong
    )

    def setUp(d: String): Unit = {
      dir = d
      Inputs.writeCorpus(spark, d, seed, corpus)
      Search.saveSearchIndex(docs, "doc_id", "text", s"$d/index", analyzed = true)
    }

    private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")

    override def prepareChecks(): Unit = {
      val ref = new SearchReference(Inputs.corpusDocs(seed, corpus))
      expected = distinct.indices.map(j => j -> ref.answer(distinct(j), k)).toMap
    }

    /** Warm-up ops take the distinct probes in turn; timed ops follow the seeded order. */
    private def probeOf(i: Int): Int =
      if (i >= Main.WarmUpBase) (i - Main.WarmUpBase) % distinct.size else order(i % order.size)
    override def setupReps: Int = 1
    override def warmUps: Int = 2
    override def routeOf(i: Int): Option[String] = Some(distinct(probeOf(i)).route)

    def op(i: Int, tr: Tracer): Done = {
      val j = probeOf(i)
      val p = distinct(j)
      val idx = s"$dir/index"
      val df = tr.span("ops.Search") {
        p.route match {
          case "bm25" => Search.bm25FromIndex(spark, idx, p.terms, k)
          case "abm25" => Search.analyzedBm25FromIndex(spark, idx, p.terms, k)
          case "conj" => Search.conjunctiveFromIndex(spark, idx, p.terms, k)
          case "aconj" => Search.analyzedFromIndex(spark, idx, p.terms, k, requireAll = true)
          case "phrase" => Search.phraseFromIndex(spark, idx, p.terms)
          case "aphrase" => Search.analyzedPhraseFromIndex(spark, idx, p.terms)
        }
      }
      val rows = tr.span("result.collect")(df.collect())
      Done(
        corpus.docs.toLong,
        () => {
          val got = canonical(df, rows)
          if (expected.get(j).contains(got)) None
          else Some(s"${p.route} ${p.terms.mkString(" ")}: ${got.take(3)} vs reference ${expected.get(j).map(_.take(3))}")
        }
      )
    }
  }
}
