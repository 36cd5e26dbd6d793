package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** The relational primitives the reference's generators rely on
  * internally (SURVEY.md §2.G): scan/filter/project, sort-within-group
  * string aggregation, LIMIT sampling, DISTINCT dedup, null-safe
  * equality joins, anti-join idempotency, sequence-generator
  * dimensions, window functions (incl. max-count mode detection), and
  * globally ordered UNION ALL statement streams.
  *
  * Every query here is declarative DataFrame API — Catalyst pushes the
  * filters/projections into the parquet scan and AQE picks
  * broadcast/shuffle strategies; at 100 TB these all stay
  * single-shuffle (or shuffle-free for the scan/limit ones).
  */
object Relational {
  import Fixtures._

  // §2.G scan + filter + project — pushdown-friendly: the filter and
  // the 5-column projection both reach the parquet scan.
  val scanFilterProject: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  // §2.G #67 sort-within-group string aggregation
  // (group_concat ... order by — postgresql_to_exasol.sql:380-383).
  val groupConcatCustomers: Q = (s, d) =>
    customer(s, d)
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        concat_ws(",", array_sort(collect_list(col("c_name")))).as("customers"),
        count(lit(1)).as("n_customers")
      )
      .select(col("n_name"), col("customers"), col("n_customers"))
      .orderBy("n_name")

  // §2.G #68 LIMIT-based sampling (convert_varchar.sql:396-404) —
  // deterministic via total ordering.
  val limitSample: Q = (s, d) =>
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(1000)

  // §2.G #70 null-safe equality join (Convert_To_Star_Schema.sql:372-380
  // ↔ Spark `<=>`). Nulls are manufactured deterministically with
  // nullif so the null-bucket path is actually exercised.
  val nullSafeJoin: Q = (s, d) => {
    val c = customer(s, d).withColumn("k", nullif(col("c_nationkey") % 5, lit(0)))
    val su = supplier(s, d)
      .withColumn("k2", nullif(col("s_nationkey") % 5, lit(0)))
      .select("k2")
      .distinct()
    c.join(su, col("k") <=> col("k2"), "inner")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_matched"))
      .select(col("k"), col("n_matched"))
      .orderBy(asc_nulls_first("k"))
  }

  // §2.G #71 anti-join (NOT EXISTS idempotency guard,
  // Convert_To_Star_Schema.sql:386,443).
  val antiJoin: Q = (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  // §2.G #74 sequence generator as a dimension
  // (`connect by level <= 8` ↔ explode(sequence(0,7)),
  // postgresql_to_exasol.sql:305).
  val sequenceDim: Q = (s, d) =>
    lineitem(s, d)
      .select(col("l_returnflag"))
      .distinct()
      .select(col("l_returnflag"), explode(sequence(lit(0), lit(7))).as("metric_id"))
      .select(col("l_returnflag"), col("metric_id").cast("bigint").as("metric_id"))
      .orderBy("l_returnflag", "metric_id")

  // §2.G #75 window functions: count-over-partition and the max-count
  // mode detection of oracle_to_exasol.sql:742.
  val windowMode: Q = (s, d) => {
    val counts = orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("o_orderstatus"))
    counts
      .withColumn("max_cnt", max(col("cnt")).over(w))
      .filter(col("cnt") === col("max_cnt"))
      .groupBy(col("o_orderstatus"))
      .agg(min(col("o_orderpriority")).as("mode_priority"), max(col("cnt")).as("mode_cnt"))
      .orderBy("o_orderstatus")
  }

  // Flagship: revenue per nation (join + broadcast dims + single
  // shuffle agg). All arithmetic in exact decimals so the DuckDB
  // oracle hash-matches (double sums are order-dependent).
  private def dec182(c: Column): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
  val revenueNation: Q = (s, d) =>
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec182(col("l_extendedprice")) * dec182(lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items")
      )
      .select(col("r_name"), col("n_name"), Fixtures.decStr(col("revenue")).as("revenue"), col("n_items"))
      .orderBy("r_name", "n_name")

  lazy val registry: Seq[Query] = Seq(
    Query("scan_filter_project", scanFilterProject,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("group_concat_customers", groupConcatCustomers,
      """SELECT n_name,
        |       string_agg(c_name, ',' ORDER BY c_name) AS customers,
        |       count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("limit_sample", limitSample,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin),
    Query("null_safe_join", nullSafeJoin,
      """WITH c AS (SELECT nullif(c_nationkey % 5, 0) AS k FROM customer),
        |     s AS (SELECT DISTINCT nullif(s_nationkey % 5, 0) AS k2 FROM supplier)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_matched
        |FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k2
        |GROUP BY k ORDER BY k NULLS FIRST""".stripMargin),
    Query("anti_join", antiJoin,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Query("sequence_dim", sequenceDim,
      """SELECT l_returnflag, CAST(metric_id AS BIGINT) AS metric_id
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
        |CROSS JOIN generate_series(0, 7) t(metric_id)
        |ORDER BY l_returnflag, metric_id""".stripMargin),
    Query("window_mode", windowMode,
      """WITH counts AS (
        |  SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |flagged AS (
        |  SELECT *, max(cnt) OVER (PARTITION BY o_orderstatus) AS max_cnt FROM counts)
        |SELECT o_orderstatus, min(o_orderpriority) AS mode_priority,
        |       max(cnt) AS mode_cnt
        |FROM flagged WHERE cnt = max_cnt
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("revenue_nation", revenueNation,
      """SELECT r_name, n_name,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS VARCHAR) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)
  )
}
