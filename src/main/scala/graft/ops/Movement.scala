package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{ColumnMeta, KeyColumnMeta, KeyType, LiveJdbc, PartitionPlanner, PlanBuilder, GenericJdbcDialect}
import graft.sync.FileStateSync
import graft.{Q, Query}
import graft.Query.EveryRun

/** Data-movement operator queries (SURVEY.md §2.D): the bin-packed
  * partition-parallel read, the end-to-end migration plan stream, and
  * the incremental file-state merge.
  */
object Movement {
  import Fixtures._

  /** Partition-parallel read via the bin-packing planner: per-year row
    * counts (metadata-scale, collected driver-side exactly like the
    * reference's Lua planner reads partition counts,
    * oracle_to_exasol.sql:142-262) → 3 bins → one predicate-filtered
    * read per bin → union. The verified invariant is the one that
    * matters for a parallel read: the union of all bins is exactly the
    * table (no row lost, none duplicated).
    */
  val parallelReadUnion: Q = (s, d) => {
    val o = orders(s, d)
    val counts = o
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("rows"))
      .collect()
      .map(r => PartitionPlanner.SourcePartition(r.getAs[Int]("y").toString, r.getAs[Long]("rows")))
    val preds = PartitionPlanner.partitionPredicates(counts.toSeq, 3, "year(o_orderdate)")
    val parts = preds.map(p => o.filter(expr(p)))
    parts
      .reduce(_ unionAll _)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        Fixtures.decStr(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DecimalType(38, 2))).as("total")
      )
  }

  // ---- migration plan stream ----------------------------------------

  /** FixtureCatalog rows as source-side ColumnMeta (parse the target
    * type strings back into (typeName, len, p, s)).
    */
  def fixtureColumnMeta: Seq[ColumnMeta] =
    FixtureCatalog.columns.map { c =>
      val t = c.type_name
      val (tn, len, p, sc) =
        if (t.startsWith("DECIMAL")) {
          val Array(pp, ss) = t.stripPrefix("DECIMAL(").stripSuffix(")").split(",")
          ("decimal", None, Some(pp.trim.toInt), Some(ss.trim.toInt))
        } else if (t.startsWith("VARCHAR"))
          ("varchar", Some(t.stripPrefix("VARCHAR(").stripSuffix(")").toInt), None, None)
        else if (t == "DOUBLE") ("double", None, None, None)
        else if (t.startsWith("TIMESTAMP")) ("timestamp", None, None, None)
        else (t.toLowerCase, None, None, None)
      ColumnMeta(
        schema = c.schema_name,
        table = c.table_name,
        ordinal = c.ordinal,
        name = c.col_name,
        typeName = tn,
        nullable = c.is_nullable,
        default = c.col_default,
        charLength = len,
        precision = p,
        scale = sc
      )
    }

  def fixtureKeyMeta: Seq[KeyColumnMeta] =
    FixtureCatalog.keys.map { k =>
      KeyColumnMeta(
        schema = k.schema_name,
        table = k.table_name,
        constraintName = k.constraint_name,
        keyType = if (k.kind == "P") KeyType.PrimaryKey else KeyType.ForeignKey,
        position = k.position,
        column = k.col_name,
        refSchema = k.ref_schema,
        refTable = k.ref_table
      )
    }

  // ---- live-target execution loop -----------------------------------

  /** The dimension slice migrated live (embedded Derby target). */
  private val liveTables = Set("region", "nation", "customer", "orders")
  private def liveCols: Seq[ColumnMeta] = fixtureColumnMeta.filter(c => liveTables(c.table))

  /** End-to-end LIVE migration (§2.D #44 + §2.F #64 executed, not just
    * planned): DDL + parallel JDBC load + post-load NOT NULL/PK/FK
    * import + predicate-parallel read-back validation run for real
    * against an embedded Derby database; the query returns the outcome
    * stream. Oracle = the pure statement plan with each action's
    * expected success status — a golden check that every live action
    * (including the out-of-scope-FK skip) actually succeeded.
    */
  val liveMigration: Q = (s, d) => {
    import s.implicits._
    // unique in-memory db per invocation so reruns in one JVM are
    // isolated; the name never appears in the output
    val db = java.util.UUID.randomUUID().toString.replace("-", "")
    val url = s"jdbc:derby:memory:graft_$db;create=true"
    LiveJdbc
      .execute(s, url, liveCols, fixtureKeyMeta, (_, t) => s.read.parquet(s"$d/$t.parquet"))
      .toDF("ord", "stmt", "status")
      .orderBy("ord", "stmt")
  }

  /** The full ordered statement stream of the plan builder over the
    * literal fixture catalog. Oracle = the same pure function
    * evaluated at registration time and pinned as a VALUES literal —
    * i.e. a golden-file check run through the driver's compare.
    */
  val migrationPlan: Q = (s, _) => {
    import s.implicits._
    PlanBuilder
      .build(GenericJdbcDialect, fixtureColumnMeta, fixtureKeyMeta)
      .rendered
      .toDF("ord", "stmt")
      .orderBy("ord", "stmt")
  }

  private def migrationPlanOracle: String = {
    val rows = PlanBuilder
      .build(GenericJdbcDialect, fixtureColumnMeta, fixtureKeyMeta)
      .rendered
      .map { case (o, st) => s"($o, '${st.replace("'", "''")}')" }
      .mkString(", ")
    s"SELECT ord, stmt FROM (VALUES $rows) AS plan(ord, stmt) ORDER BY ord, stmt"
  }

  // ---- VALUES-pinned planner outputs --------------------------------
  // The pure-Scala planners are deterministic functions; their exact
  // outputs over literal inputs are pinned as DuckDB VALUES oracles —
  // golden checks run through the driver's compare.

  private val planPartitions = Seq(
    PartitionPlanner.SourcePartition("p_2019", 1200L),
    PartitionPlanner.SourcePartition("p_2020", 400L),
    PartitionPlanner.SourcePartition("p_2021", 900L),
    PartitionPlanner.SourcePartition("p_2022", 300L),
    PartitionPlanner.SourcePartition("p_2023", 700L),
    PartitionPlanner.SourcePartition("p_2024", 100L)
  )

  private def partitionPlanRows: Seq[(Int, String, Long)] =
    PartitionPlanner.binPack(planPartitions, 3).zipWithIndex.flatMap { case (bin, i) =>
      bin.map(p => (i, p.name, p.rows))
    }

  /** Greedy LPT bin assignment over a literal partition table. */
  val partitionPlan: Q = (s, _) => {
    import s.implicits._
    partitionPlanRows.toDF("bin_id", "part_name", "n_rows").orderBy("bin_id", "part_name")
  }

  private val fkEdges = Seq(
    graft.core.FkHarmonizer.FkEdge(
      "orders_customer_fk",
      graft.core.FkHarmonizer.ColRef("tpch", "orders", "o_custkey"),
      graft.core.FkHarmonizer.ColRef("tpch", "customer", "c_custkey"),
      enabled = true
    ),
    graft.core.FkHarmonizer.FkEdge(
      "lineitem_orders_fk",
      graft.core.FkHarmonizer.ColRef("tpch", "lineitem", "l_orderkey"),
      graft.core.FkHarmonizer.ColRef("tpch", "orders", "o_orderkey"),
      enabled = false
    )
  )
  private val fkTypes: Map[graft.core.FkHarmonizer.ColRef, graft.core.FkHarmonizer.TypeSpec] = Map(
    graft.core.FkHarmonizer.ColRef("tpch", "orders", "o_custkey") -> graft.core.FkHarmonizer.DecimalSpec(9, 0),
    graft.core.FkHarmonizer.ColRef("tpch", "customer", "c_custkey") -> graft.core.FkHarmonizer.DecimalSpec(18, 0),
    graft.core.FkHarmonizer.ColRef("tpch", "orders", "o_orderkey") -> graft.core.FkHarmonizer.DecimalSpec(18, 0),
    graft.core.FkHarmonizer.ColRef("tpch", "lineitem", "l_orderkey") -> graft.core.FkHarmonizer.DecimalSpec(18, 0)
  )

  private def fkPlanRows: Seq[(Int, String)] =
    graft.core.FkHarmonizer.plan(fkEdges, fkTypes).zipWithIndex.map { case (a, i) => (i + 1, a.sql) }

  /** FK-group harmonization change plan over a literal FK graph:
    * one referential group (customer↔orders↔lineitem), one member
    * narrower than the rest → DROP both FKs, MODIFY it, RE-ADD in
    * original state.
    */
  val fkHarmonizationPlan: Q = (s, _) => {
    import s.implicits._
    fkPlanRows.toDF("step", "stmt").orderBy("step")
  }

  /** Pin a deterministic Scala-computed result as a DuckDB VALUES
    * oracle. `select` must cast integer columns explicitly (DuckDB
    * infers INTEGER for small literals; Spark side may be BIGINT).
    */
  private def pinnedOracle(rows: Seq[Product], cols: String, select: String): String = {
    val vals = rows
      .map(r =>
        "(" + r.productIterator
          .map {
            case s: String => "'" + s.replace("'", "''") + "'"
            case x => x.toString
          }
          .mkString(", ") + ")"
      )
      .mkString(", ")
    s"SELECT $select FROM (VALUES $vals) AS t($cols) ORDER BY 1, 2"
  }

  // ---- incremental file-state merge ---------------------------------

  /** Deterministic listing/state frames derived from `documents`:
    * listing = every doc as a file; state = docs with doc_id % 3 == 0
    * loaded 'done' (odd ones with an older last_modified → modified),
    * doc_id % 3 == 1 errored (quarantine retry), doc_id % 3 == 2 new.
    */
  val fileStateMerge: Q = (s, d) => {
    val docs = documents(s, d)
    val listing = docs.select(
      concat(col("source"), lit("/"), col("doc_id").cast("string")).as("file_name"),
      col("n_chars").as("last_modified")
    )
    val state = docs
      .filter(col("doc_id") % 3 =!= 2)
      .select(
        concat(col("source"), lit("/"), col("doc_id").cast("string")).as("file_name"),
        (col("n_chars") - col("doc_id") % 2).as("last_modified"),
        when(col("doc_id") % 3 === 0, FileStateSync.StatusDone)
          .otherwise("Error: load failed")
          .as("status")
      )
    FileStateSync
      .reconcile(listing, state)
      .orderBy("file_name")
  }

  /** Filesystem listing as a table function (the S3/Azure UDTF analog,
    * §2.A #16 / §2.H #77). Name-only output: the DuckDB oracle can
    * glob names but not sizes/mtimes. The oracle pins the correctness
    * SF directory (the driver's gate always runs at sf0.01).
    */
  val fileListing: Q = (s, d) =>
    graft.sources.FileListing
      .listDf(s, s"$d/*.parquet")
      .select("file_name")
      .orderBy("file_name")

  /** JOIN-KEY SKEW diagnostic — the report an engineer reads BEFORE
    * shuffling 100 TB on a key: top-k heaviest key values with their
    * row share, total key cardinality, and a salt recommendation when
    * the heaviest key exceeds the share threshold (a single key
    * holding >1% of a corpus-sized join input serializes one reducer;
    * the salting grid in core/Salting is the fix this report points
    * at). One linear key-count aggregate; the top-k is
    * TakeOrderedAndProject; totals broadcast as 1-row frames.
    */
  def skewReport(
      df: DataFrame,
      keyCol: String,
      topK: Int,
      saltThresholdMicro: Long
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(keyCol).cast("string").as("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).cast("bigint").as("n"))
    val totals = counts.agg(
      sum(col("n")).cast("bigint").as("n_rows"),
      count(lit(1)).cast("bigint").as("n_keys")
    )
    counts
      .orderBy(desc("n"), asc("key"))
      .limit(topK)
      .crossJoin(broadcast(totals))
      .withColumn("share_micro", expr("n * 1000000 div n_rows"))
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(desc("n"), asc("key"))).cast("bigint")
      )
      .withColumn(
        "salt_recommended",
        (col("share_micro") >= saltThresholdMicro).cast("int").cast("bigint")
      )
      .select(
        col("rank"), col("key"), col("n"), col("n_rows"), col("n_keys"),
        col("share_micro"), col("salt_recommended"))
      .orderBy("rank")
  }

  val skewReportQ: Q = (s, d) =>
    skewReport(Fixtures.orders(s, d), "o_custkey", topK = 10, saltThresholdMicro = 10000L)

  /** JSONL landing gate: the documents table round-trips through a
    * JSONL scratch dir with THREE corrupt lines injected (two
    * non-JSON, one valid-JSON type mismatch). The good split must
    * reproduce the parquet table's per-language stats exactly (the
    * oracle never sees the JSONL at all) and the quarantine must hold
    * exactly the 3 injected lines — a leak in either direction breaks
    * a column.
    */
  val jsonlIngest: Q = (s, d) => {
    val docs = Fixtures.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl")
    val src = base.resolve("src").toString
    docs.repartition(4, col("doc_id")).write.json(src)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(src, "corrupt.txt"),
      java.util.Arrays.asList(
        "this is not json at all",
        "{\"doc_id\": 1, \"lang\": \"en\", \"text\": \"unterminated",
        "{\"doc_id\": \"not-a-number\", \"lang\": \"xx\", \"text\": \"type mismatch\"}"
      )
    )
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("lang", "string")
      .add("text", "string")
    val (good, corrupt, raw) = graft.sources.JsonlLoader.readWithQuarantine(s, src, schema)
    try {
      val nCorrupt = corrupt.count()
      good
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          expr("bit_xor(doc_id)").as("id_xor")
        )
        .withColumn("n_corrupt", lit(nCorrupt))
        .orderBy("lang")
        // eager: the scratch dir is deleted in the finally below, so
        // the returned frame must not lazily re-read it
        .localCheckpoint(true)
    } finally {
      graft.sources.JsonlLoader.release(raw)
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
  }

  /** JSONL REPAIR gate: the documents table round-trips through a
    * JSONL scratch dir with the doc_id < 5 rows written BOM-prefixed
    * (quarantined by the reader — a real-world landing defect) plus
    * two unfixable garbage lines. One repair round with a BOM-strip
    * fix must return the damaged docs to the good relation: the
    * final union reproduces the parquet table's per-language stats
    * EXACTLY (the oracle never sees the JSONL) with a residue of
    * exactly the 2 garbage lines — under-repair breaks n_docs/id_xor,
    * over-repair breaks n_residue.
    */
  val jsonlRepair: Q = (s, d) => {
    val docs = Fixtures.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl_rep")
    val src = base.resolve("src").toString
    docs.filter(col("doc_id") >= 5).repartition(4, col("doc_id")).write.json(src)
    // the damaged landing: valid JSON behind a BOM, one line per doc
    docs
      .filter(col("doc_id") < 5)
      .select(concat(lit("﻿"), to_json(struct(col("doc_id"), col("lang"), col("text")))).as("value"))
      .coalesce(1)
      .write
      .mode("append")
      .text(src)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(src, "garbage.txt"),
      java.util.Arrays.asList("not json at all", "{\"doc_id\": \"x\", \"lang\": 1, \"text\":")
    )
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("lang", "string")
      .add("text", "string")
    val (good, corrupt, raw) = graft.sources.JsonlLoader.readWithQuarantine(s, src, schema)
    try {
      val (repaired, residue) =
        graft.sources.JsonlLoader.repairQuarantine(corrupt, schema, c => regexp_replace(c, "^﻿", ""))
      val nResidue = residue.count()
      good
        .unionByName(repaired)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          expr("bit_xor(doc_id)").as("id_xor")
        )
        .withColumn("n_residue", lit(nResidue))
        .orderBy("lang")
        .localCheckpoint(true)
    } finally {
      graft.sources.JsonlLoader.release(raw)
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
  }

  private def liveMigrationOracle: String = {
    val rows = LiveJdbc
      .plan(liveCols, fixtureKeyMeta)
      .map(p => s"(${p.ord}, '${p.sql.replace("'", "''")}', '${LiveJdbc.expectedStatus(p.kind)}')")
      .mkString(", ")
    s"""SELECT CAST(ord AS INTEGER) AS ord, stmt, status
       |FROM (VALUES $rows) AS t(ord, stmt, status) ORDER BY ord, stmt""".stripMargin
  }

  lazy val registry: Seq[Query] = Seq(
    Query("skew_report", skewReportQ,
      """WITH c AS (
        |  SELECT CAST(o_custkey AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys FROM c),
        |r AS (
        |  SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rank
        |  FROM c ORDER BY n DESC, key ASC LIMIT 10)
        |SELECT CAST(r.rank AS BIGINT) AS rank, r.key, r.n, t.n_rows, t.n_keys,
        |  CAST(r.n * 1000000 // t.n_rows AS BIGINT) AS share_micro,
        |  CAST(CASE WHEN r.n * 1000000 // t.n_rows >= 10000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS salt_recommended
        |FROM r, t ORDER BY rank""".stripMargin),
    Query("parallel_read_union", parallelReadUnion,
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total
        |FROM orders""".stripMargin),
    Query("migration_plan", migrationPlan, migrationPlanOracle),
    Query("live_migration", liveMigration, liveMigrationOracle),
    Query("partition_plan", partitionPlan, pinnedOracle(
      partitionPlanRows,
      "bin_id, part_name, n_rows",
      "CAST(bin_id AS INTEGER) AS bin_id, part_name, CAST(n_rows AS BIGINT) AS n_rows"
    )),
    Query("fk_harmonization_plan", fkHarmonizationPlan, pinnedOracle(
      fkPlanRows,
      "step, stmt",
      "CAST(step AS INTEGER) AS step, stmt"
    )),
    Query("file_listing", fileListing,
      """SELECT list_extract(string_split(file, '/'), -1) AS file_name
        |FROM glob('/root/testdata/sf0.01/*.parquet')
        |ORDER BY file_name""".stripMargin),
    // the oracle never touches the JSONL: the roundtrip + quarantine
    // must land exactly back on the parquet table (3 = injected lines)
    Query("jsonl_ingest", jsonlIngest,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  CAST(3 AS BIGINT) AS n_corrupt
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin, build = Some(EveryRun)),
    // repair must restore the BOM-damaged docs exactly (full-table
    // stats again) leaving only the 2 unfixable lines quarantined
    Query("jsonl_repair", jsonlRepair,
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  CAST(2 AS BIGINT) AS n_residue
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin, build = Some(EveryRun)),
    Query("file_state_merge", fileStateMerge,
      s"""WITH listing AS (
         |  SELECT source || '/' || CAST(doc_id AS VARCHAR) AS file_name,
         |         n_chars AS last_modified
         |  FROM documents),
         |state AS (
         |  SELECT source || '/' || CAST(doc_id AS VARCHAR) AS file_name,
         |         n_chars - doc_id % 2 AS last_modified,
         |         CASE WHEN doc_id % 3 = 0 THEN '${FileStateSync.StatusDone}'
         |              ELSE 'Error: load failed' END AS status
         |  FROM documents WHERE doc_id % 3 <> 2)
         |SELECT coalesce(l.file_name, s.file_name) AS file_name,
         |  coalesce(l.last_modified, s.last_modified) AS last_modified,
         |  CASE WHEN s.file_name IS NULL THEN '${FileStateSync.StatusNew}'
         |       WHEN l.file_name IS NULL THEN s.status
         |       WHEN l.last_modified > s.last_modified THEN '${FileStateSync.StatusUpdate}'
         |       WHEN s.status <> '${FileStateSync.StatusDone}' THEN '${FileStateSync.StatusUpdate}'
         |       ELSE '${FileStateSync.StatusDone}' END AS status
         |FROM listing l FULL JOIN state s ON l.file_name = s.file_name
         |ORDER BY file_name""".stripMargin)
  )
}
