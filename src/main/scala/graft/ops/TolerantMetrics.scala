package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Query}

/** ClickHouse-tolerance metric variants (SURVEY.md §2.E #52; reference
  * clickhouse_to_exasol.sql:204-246): the target engine coerces
  * `'' → NULL` and `inf/nan → NULL`, so the source-side metrics must
  * apply the same coercions or every table would flag false
  * deviations. Policies exercised here:
  *
  *   - empty strings counted as NULL; DISTINCT excludes ''
  *   - float metrics guard non-finite values to NULL (`if(isFinite)`)
  *   - SUM runs through DECIMAL(38,s) to defeat integer wraparound
  *
  * The fixture has no ''/inf/nan, so the query *injects* them
  * deterministically (keyed on row ids) — the policies are then
  * actually load-bearing in the asserted output.
  */
object TolerantMetrics {
  import Fixtures._

  private def finite(c: Column): Column =
    when(!isnan(c) && c =!= Double.PositiveInfinity && c =!= Double.NegativeInfinity, c)

  val tolerantMetrics: Q = (s, d) =>
    lineitem(s, d)
      .withColumn(
        "sflag",
        when(col("l_linenumber") === 7, "").otherwise(col("l_returnflag"))
      )
      .withColumn(
        "qty",
        when(col("l_orderkey") % 97 === 0, Double.PositiveInfinity)
          .when(col("l_orderkey") % 89 === 0, Double.NaN)
          .otherwise(col("l_quantity"))
      )
      .agg(
        count(lit(1)).as("row_cnt"),
        // '' treated as NULL (clickhouse_to_exasol.sql:36-40)
        sum(when(col("sflag").isNull || col("sflag") === "", 1).otherwise(0))
          .cast("bigint")
          .as("sflag_nulls"),
        countDistinct(when(col("sflag") =!= "", col("sflag"))).as("sflag_distinct"),
        // finiteness guard (clickhouse_to_exasol.sql:171)
        sum(when(isnan(col("qty")) || abs(col("qty")) === Double.PositiveInfinity, 1).otherwise(0))
          .cast("bigint")
          .as("qty_nonfinite"),
        decStr(min(finite(col("qty")).cast(DecimalType(36, 2)))).as("qty_min"),
        decStr(max(finite(col("qty")).cast(DecimalType(36, 2)))).as("qty_max"),
        // overflow-safe SUM through DECIMAL(38,2) (clickhouse_to_exasol.sql:204-246)
        decStr(sum(finite(col("qty")).cast(DecimalType(36, 2))).cast(DecimalType(38, 2))).as("qty_sum")
      )

  lazy val registry: Seq[Query] = Seq(
    Query("tolerant_metrics", tolerantMetrics,
      """WITH t AS (
        |  SELECT CASE WHEN l_linenumber = 7 THEN '' ELSE l_returnflag END AS sflag,
        |         CASE WHEN l_orderkey % 97 = 0 THEN 'infinity'::DOUBLE
        |              WHEN l_orderkey % 89 = 0 THEN 'nan'::DOUBLE
        |              ELSE l_quantity END AS qty
        |  FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        |  CAST(sum(CASE WHEN sflag IS NULL OR sflag = '' THEN 1 ELSE 0 END) AS BIGINT) AS sflag_nulls,
        |  CAST(count(DISTINCT CASE WHEN sflag <> '' THEN sflag END) AS BIGINT) AS sflag_distinct,
        |  CAST(sum(CASE WHEN isnan(qty) OR NOT isfinite(qty) THEN 1 ELSE 0 END) AS BIGINT) AS qty_nonfinite,
        |  CAST(min(CAST(CASE WHEN isfinite(qty) THEN qty END AS DECIMAL(36,2))) AS VARCHAR) AS qty_min,
        |  CAST(max(CAST(CASE WHEN isfinite(qty) THEN qty END AS DECIMAL(36,2))) AS VARCHAR) AS qty_max,
        |  CAST(CAST(sum(CAST(CASE WHEN isfinite(qty) THEN qty END AS DECIMAL(36,2))) AS DECIMAL(38,2)) AS VARCHAR) AS qty_sum
        |FROM t""".stripMargin)
  )
}
