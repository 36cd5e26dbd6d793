package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Flat → star-schema decomposition (SURVEY.md §2.D #50; reference
  * post_load_optimization/Flat_To_Star_Schema/Convert_To_Star_Schema.sql:317-446):
  * dimension tables = DISTINCT natural keys + surrogate ids, fact =
  * the flat table joined back to each dimension with NULL-safe
  * equality (`<=>` ↔ the reference's `(a=b OR (a IS NULL AND b IS
  * NULL))`), idempotent re-runs via anti-join.
  *
  * Surrogate keys: the reference uses an IDENTITY column; here the
  * global dense rank over the natural key gives *deterministic* ids
  * (testable against the oracle). The rank is computed WITHOUT a
  * global single-partition window: distinct keys are range-partitioned
  * (globally ordered across partitions), ranked per partition in
  * parallel, and composed with per-partition offsets (a partition-
  * count-sized driver list) — so a high-cardinality dimension ranks at
  * full parallelism instead of collapsing onto one task.
  */
object StarSchema {
  import Fixtures._

  /** Build a dimension: distinct natural-key rows + dense-rank
    * surrogate id via range-partitioned parallel rank composition.
    * Output ids are identical to a global `dense_rank` (keys are
    * unique after distinct, and range partitioning preserves global
    * order across partitions) at any partition count.
    */
  def dimension(flat: DataFrame, naturalCols: Seq[String], idCol: String): DataFrame = {
    val order = naturalCols.map(c => asc_nulls_first(c))
    val distinctRows = flat
      .select(naturalCols.map(col): _*)
      .distinct()
      .repartitionByRange(order: _*)
      .cache()
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val local = distinctRows
      .withColumn("__pid", spark_partition_id())
      .withColumn("__rn", row_number().over(w))
    // per-partition row counts → cumulative offsets; partition-count-
    // sized, never data-sized
    val counts = local
      .groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .collect()
      .map(r => (r.getAs[Int]("__pid"), r.getAs[Long]("__cnt")))
      .sortBy(_._1)
    val offsets = counts
      .scanLeft((0, 0L)) { case ((_, acc), (pid, cnt)) => (pid, acc + cnt) }
      .tail
      .zip(counts)
      .map { case ((pid, cumEnd), (_, cnt)) => (pid, cumEnd - cnt) }
    val spark = flat.sparkSession
    import spark.implicits._
    val offsetDf = offsets.toSeq.toDF("__pid", "__offset")
    local
      .join(broadcast(offsetDf), "__pid")
      .withColumn(idCol, (col("__rn") + col("__offset")).cast("bigint"))
      .drop("__pid", "__rn", "__offset")
      .select((naturalCols :+ idCol).map(col): _*)
  }

  /** Join the flat table back to a dimension null-safely, replacing the
    * natural columns with the surrogate id.
    */
  def factJoin(flat: DataFrame, dim: DataFrame, naturalCols: Seq[String], idCol: String): DataFrame = {
    val dimRenamed = naturalCols.foldLeft(dim)((d, c) => d.withColumnRenamed(c, s"__dim_$c"))
    val cond = naturalCols
      .map(c => col(c) <=> col(s"__dim_$c"))
      .reduce(_ && _)
    flat
      .join(broadcast(dimRenamed), cond, "inner")
      .drop(naturalCols.map(c => s"__dim_$c"): _*)
      .drop(naturalCols: _*)
  }

  /** Idempotent dimension maintenance: insert only natural-key rows
    * not already present (the reference's `INSERT … SELECT DISTINCT …
    * WHERE NOT EXISTS`, Convert_To_Star_Schema.sql:386,443) — null-safe
    * anti-join, so re-running a load never duplicates dimension rows.
    */
  def insertMissing(dim: DataFrame, incoming: DataFrame, naturalCols: Seq[String]): DataFrame = {
    val newRows = incoming.select(naturalCols.map(col): _*).distinct()
    val cond = naturalCols.map(c => newRows(c) <=> dim(c)).reduce(_ && _)
    newRows.join(dim, cond, "left_anti")
  }

  val dims: Q = (s, d) =>
    dimension(orders(s, d), Seq("o_orderstatus", "o_orderpriority"), "dim_id")
      .select(col("dim_id"), col("o_orderstatus"), col("o_orderpriority"))
      .orderBy("dim_id")

  val fact: Q = (s, d) => {
    val flat = orders(s, d)
    val dim = dimension(flat, Seq("o_orderstatus", "o_orderpriority"), "dim_id")
    factJoin(flat, dim, Seq("o_orderstatus", "o_orderpriority"), "dim_id")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("dim_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s")
      )
      .orderBy("o_orderkey")
  }

  /** Full decomposition with TWO dimensions — the reference's actual
    * shape (one dim table per column group, fact holding only
    * surrogate keys + measures).
    */
  val factMultiDim: Q = (s, d) => {
    val flat = orders(s, d)
    val dimStatus = dimension(flat, Seq("o_orderstatus"), "status_id")
    val dimPriority = dimension(flat, Seq("o_orderpriority"), "priority_id")
    val f1 = factJoin(flat, dimStatus, Seq("o_orderstatus"), "status_id")
    factJoin(f1, dimPriority, Seq("o_orderpriority"), "priority_id")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("status_id"),
        col("priority_id"),
        Fixtures.decStr(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("totalprice")
      )
      .orderBy("o_orderkey")
  }

  /** SLOWLY-CHANGING-DIMENSION (SCD type 2) history builder — the
    * versioned-dimension layer the flat-to-star decomposition stops
    * short of: given periodic dimension snapshots, emit one row per
    * ATTRIBUTE VERSION with its validity window [valid_from, valid_to)
    * (open versions carry Long.MaxValue). Change detection hashes the
    * tracked attributes (null-safe, field-separated) and keeps rows
    * where the hash differs from the key's previous snapshot — one
    * per-key window over snapshots, dimension-sized, never fact-sized.
    */
  def scd2History(
      snapshots: DataFrame,
      keyCol: String,
      snapCol: String,
      attrCols: Seq[String]
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySnap = Window.partitionBy(col(keyCol)).orderBy(col(snapCol))
    snapshots
      .withColumn(
        "__h",
        md5(concat_ws(
          "|",
          attrCols.map(c => coalesce(col(c).cast("string"), lit(" "))): _*
        ).cast("binary"))
      )
      .withColumn("__prev", lag(col("__h"), 1).over(bySnap))
      .filter(col("__prev").isNull || col("__h") =!= col("__prev"))
      .withColumn("valid_from", col(snapCol).cast("bigint"))
      .withColumn(
        "valid_to",
        coalesce(lead(col("valid_from"), 1).over(bySnap), lit(Long.MaxValue))
      )
      .withColumn("version", row_number().over(bySnap).cast("bigint"))
      .drop("__h", "__prev")
  }

  /** AS-OF dimension resolution: each fact row joins the dimension
    * version valid at its time — equi-join on the key with the range
    * residual, so Catalyst plans a (broadcast) hash join on the key,
    * never a nested loop; SCD2 windows are half-open by construction,
    * so exactly one version matches.
    */
  def scd2Resolve(
      facts: DataFrame,
      history: DataFrame,
      factKeyCol: String,
      histKeyCol: String,
      factTimeCol: String
  ): DataFrame =
    facts.join(
      broadcast(history),
      facts(factKeyCol) === history(histKeyCol) &&
        facts(factTimeCol) >= history("valid_from") &&
        facts(factTimeCol) < history("valid_to")
    )

  /** Fixture snapshots: three generations of the customer dimension
    * with planted segment renames (s1: every 7th key, s2: every 13th —
    * overlapping at lcm 91, so some keys carry three versions). The
    * oracle replays the identical construction.
    */
  private[graft] def customerSnapshots(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    def snap(id: Long, seg: org.apache.spark.sql.Column) =
      c.withColumn("snap_id", lit(id)).withColumn("c_mktsegment", seg)
    snap(0L, col("c_mktsegment"))
      .unionByName(snap(
        1L,
        when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("_v1")))
          .otherwise(col("c_mktsegment"))
      ))
      .unionByName(snap(
        2L,
        when(col("c_custkey") % 13 === 0, concat(col("c_mktsegment"), lit("_v2")))
          .otherwise(
            when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("_v1")))
              .otherwise(col("c_mktsegment"))
          )
      ))
  }

  val scd2Versions: Q = (s, d) =>
    scd2History(
      customerSnapshots(s, d), "c_custkey", "snap_id", Seq("c_nationkey", "c_mktsegment"))
      .select(
        col("c_custkey"), col("version"), col("c_mktsegment"), col("valid_from"), col("valid_to"))
      .orderBy("c_custkey", "version")

  /** Every 10th order resolved against the version valid at its
    * deterministic snapshot time (o_orderkey mod 3).
    */
  val scd2AsofOrders: Q = (s, d) => {
    val hist = scd2History(
      customerSnapshots(s, d), "c_custkey", "snap_id", Seq("c_nationkey", "c_mktsegment"))
    val facts = orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .withColumn("order_snap", (col("o_orderkey") % 3).cast("bigint"))
      .select(col("o_orderkey"), col("o_custkey"), col("order_snap"))
    scd2Resolve(facts, hist, "o_custkey", "c_custkey", "order_snap")
      .select(
        col("o_orderkey"), col("o_custkey"), col("order_snap"),
        col("c_mktsegment"), col("valid_from"))
      .orderBy("o_orderkey")
  }

  // the snapshot construction + change detection + validity windows,
  // shared by both SCD2 oracles; change detection compares the raw
  // separated attr concat (md5 equality ≡ string equality)
  private lazy val scd2ChainSql: String =
    """snaps AS (
      |  SELECT c_custkey, c_nationkey, c_mktsegment, 0 AS snap_id FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_nationkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '_v1' ELSE c_mktsegment END, 1
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, c_nationkey,
      |    CASE WHEN c_custkey % 13 = 0 THEN c_mktsegment || '_v2'
      |         WHEN c_custkey % 7 = 0 THEN c_mktsegment || '_v1'
      |         ELSE c_mktsegment END, 2
      |  FROM customer),
      |hh AS (
      |  SELECT *,
      |    coalesce(CAST(c_nationkey AS VARCHAR), ' ') || '|' || coalesce(c_mktsegment, ' ') AS sig,
      |    lag(coalesce(CAST(c_nationkey AS VARCHAR), ' ') || '|' || coalesce(c_mktsegment, ' '))
      |      OVER (PARTITION BY c_custkey ORDER BY snap_id) AS psig
      |  FROM snaps),
      |ch AS (SELECT * FROM hh WHERE psig IS NULL OR sig <> psig),
      |v AS (
      |  SELECT c_custkey, c_mktsegment, CAST(snap_id AS BIGINT) AS valid_from,
      |    CAST(coalesce(lead(CAST(snap_id AS BIGINT))
      |           OVER (PARTITION BY c_custkey ORDER BY snap_id),
      |         9223372036854775807) AS BIGINT) AS valid_to,
      |    CAST(row_number() OVER (PARTITION BY c_custkey ORDER BY snap_id) AS BIGINT) AS version
      |  FROM ch)""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("scd2_versions", scd2Versions,
      s"""WITH $scd2ChainSql
         |SELECT c_custkey, version, c_mktsegment, valid_from, valid_to
         |FROM v ORDER BY c_custkey, version""".stripMargin),
    Query("scd2_asof_orders", scd2AsofOrders,
      s"""WITH $scd2ChainSql,
         |f AS (
         |  SELECT o_orderkey, o_custkey, CAST(o_orderkey % 3 AS BIGINT) AS order_snap
         |  FROM orders WHERE o_orderkey % 10 = 0)
         |SELECT f.o_orderkey, f.o_custkey, f.order_snap, v.c_mktsegment, v.valid_from
         |FROM f JOIN v ON v.c_custkey = f.o_custkey
         |  AND f.order_snap >= v.valid_from AND f.order_snap < v.valid_to
         |ORDER BY f.o_orderkey""".stripMargin),
    Query("star_dims", dims,
      """SELECT CAST(dense_rank() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT) AS dim_id,
        |       o_orderstatus, o_orderpriority
        |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        |ORDER BY dim_id""".stripMargin),
    Query("star_fact", fact,
      """WITH dim AS (
        |  SELECT CAST(dense_rank() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT) AS dim_id,
        |         o_orderstatus, o_orderpriority
        |  FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders))
        |SELECT o_orderkey, o_custkey, dim_id,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s
        |FROM orders o JOIN dim d
        |  ON o.o_orderstatus IS NOT DISTINCT FROM d.o_orderstatus
        | AND o.o_orderpriority IS NOT DISTINCT FROM d.o_orderpriority
        |ORDER BY o_orderkey""".stripMargin),
    Query("star_fact_multidim", factMultiDim,
      """WITH dim_s AS (
        |  SELECT CAST(dense_rank() OVER (ORDER BY o_orderstatus) AS BIGINT) AS status_id, o_orderstatus
        |  FROM (SELECT DISTINCT o_orderstatus FROM orders)),
        |dim_p AS (
        |  SELECT CAST(dense_rank() OVER (ORDER BY o_orderpriority) AS BIGINT) AS priority_id, o_orderpriority
        |  FROM (SELECT DISTINCT o_orderpriority FROM orders))
        |SELECT o_orderkey, o_custkey, status_id, priority_id,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS totalprice
        |FROM orders o
        |JOIN dim_s s ON o.o_orderstatus IS NOT DISTINCT FROM s.o_orderstatus
        |JOIN dim_p p ON o.o_orderpriority IS NOT DISTINCT FROM p.o_orderpriority
        |ORDER BY o_orderkey""".stripMargin)
  )
}
