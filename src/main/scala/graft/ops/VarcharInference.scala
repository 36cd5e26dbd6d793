package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Query}

/** Sampled VARCHAR type inference + multi-format date probe + the
  * legacy rich metric set (SURVEY.md §2.E #54, #56, #57).
  *
  * classify_varchar mirrors convert_varchar.sql:385-461: take a
  * deterministic LIMIT sample, classify every value ONCE with a
  * short-circuiting precedence chain (cheapest test first), then
  * aggregate conditional counts and derive a type verdict per column.
  * date_probe mirrors convert_varchar.sql:119-172: success-count each
  * candidate date format and detect day/month ambiguity.
  *
  * Scale: sampling bounds the scan (the reference's "1-5% is
  * statistically sufficient" rule); classification is a codegen'd
  * `when` chain over the sample — no UDFs, no extra shuffle beyond
  * the per-column aggregation.
  */
object VarcharInference {
  import Fixtures._

  private val sampleRows = 2000

  /** Tall (col_name, val) sample of string-rendered columns — stands in
    * for the reference's all-VARCHAR staging table.
    */
  private def tallSample(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy("o_orderkey")
      .limit(sampleRows)
      .selectExpr(
        """stack(6,
          |  'num_dec', cast(cast(o_totalprice as decimal(18,2)) as string),
          |  'num_int', cast(o_orderkey as string),
          |  'date_iso', date_format(o_orderdate, 'yyyy-MM-dd'),
          |  'bool01', cast(o_orderkey % 2 as string),
          |  'geo_wkt', concat('POINT (', cast(o_orderkey % 100 as string), ' ', cast(o_custkey % 100 as string), ')'),
          |  'interval_ds', concat(cast(o_orderkey % 30 as string), ' 12:30:45')
          |) as (col_name, val)""".stripMargin
      )

  /** Exclusive classification: precedence boolean → integer → decimal
    * → date → day-second interval → WKT geometry → other (the
    * reference's short-circuit CASE incl. IS_DSINTERVAL and the WKT
    * regex → GEO branch, convert_varchar.sql:385-461).
    */
  private def classify: org.apache.spark.sql.Column =
    when(col("val").isNull, "null")
      .when(col("val").isin("0", "1"), "bool")
      .when(col("val").rlike("^-?[0-9]+$"), "int")
      .when(col("val").rlike("^-?[0-9]+\\.[0-9]+$"), "dec")
      .when(col("val").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"), "date")
      .when(col("val").rlike("^[0-9]+ [0-9]{2}:[0-9]{2}:[0-9]{2}$"), "dsinterval")
      .when(col("val").rlike("^(POINT|LINESTRING|POLYGON|MULTIPOINT) ?\\(.*\\)$"), "geo")
      .otherwise("oth")

  val classifyVarchar: Q = (s, d) =>
    tallSample(s, d)
      .withColumn("cls", classify)
      .groupBy(col("col_name"))
      .agg(
        count(lit(1)).as("n_vals"),
        sum(when(col("cls") === "bool", 1).otherwise(0)).cast("bigint").as("n_bool"),
        sum(when(col("cls") === "int", 1).otherwise(0)).cast("bigint").as("n_int"),
        sum(when(col("cls") === "dec", 1).otherwise(0)).cast("bigint").as("n_dec"),
        sum(when(col("cls") === "date", 1).otherwise(0)).cast("bigint").as("n_date"),
        sum(when(col("cls") === "dsinterval", 1).otherwise(0)).cast("bigint").as("n_dsinterval"),
        sum(when(col("cls") === "geo", 1).otherwise(0)).cast("bigint").as("n_geo"),
        sum(when(col("cls") === "oth", 1).otherwise(0)).cast("bigint").as("n_oth"),
        max(length(col("val"))).cast("bigint").as("max_len")
      )
      .withColumn(
        "verdict",
        when(col("n_oth") > 0, concat(lit("VARCHAR("), col("max_len").cast("string"), lit(")")))
          .when(col("n_date") === col("n_vals"), "DATE")
          .when(col("n_dsinterval") === col("n_vals"), "INTERVAL DAY TO SECOND")
          .when(col("n_geo") === col("n_vals"), "GEOMETRY")
          .when(col("n_bool") === col("n_vals"), "BOOLEAN")
          .when(col("n_bool") + col("n_int") === col("n_vals"), "DECIMAL(18,0)")
          .when(col("n_bool") + col("n_int") + col("n_dec") === col("n_vals"), "DECIMAL(18,6)")
          .otherwise(concat(lit("VARCHAR("), col("max_len").cast("string"), lit(")")))
      )
      .orderBy("col_name")

  /** Multi-format date probe over a mixed-format string column: count
    * parse successes per candidate format and day/month-ambiguous
    * values (parseable as both dd/MM and MM/dd).
    */
  val dateProbe: Q = (s, d) =>
    orders(s, d)
      .select(
        when(col("o_orderkey") % 2 === 0, date_format(col("o_orderdate"), "dd/MM/yyyy"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .as("sval")
      )
      .agg(
        count(lit(1)).as("n_total"),
        count(expr("try_to_date(sval, 'yyyy-MM-dd')")).as("n_iso"),
        count(expr("try_to_date(sval, 'dd/MM/yyyy')")).as("n_dmy"),
        count(expr("try_to_date(sval, 'MM/dd/yyyy')")).as("n_mdy"),
        sum(
          when(
            expr("try_to_date(sval, 'dd/MM/yyyy')").isNotNull &&
              expr("try_to_date(sval, 'MM/dd/yyyy')").isNotNull,
            1
          ).otherwise(0)
        ).cast("bigint").as("n_ambiguous")
      )

  /** Legacy rich metrics (oracle_to_exasol.sql:587-801): per-group row
    * count, exact median, decimal sum, double average, the TOP/mode
    * value via max-count, and length stats.
    *
    * The char-column TOP/OCC pair follows the reference's shape
    * (oracle_to_exasol.sql:719-750): cnt per value with
    * max(count(*)) over(), keep the rows where cnt = max_cnt, then
    * TOP = listagg of the TIED values (ordered, capped at 2000 chars,
    * the reference's substr(listagg(...), 1, 2000)) and OCC = that
    * max count. priority_mode keeps the single deterministic
    * representative (first tie).
    */
  val richMetrics: Q = (s, d) => {
    val base = orders(s, d)
    val metrics = base
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        median(col("o_custkey")).cast(DecimalType(18, 1)).as("custkey_median"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("totalprice_sum"),
        min(length(col("o_orderpriority"))).cast("bigint").as("priority_minlen"),
        max(length(col("o_orderpriority"))).cast("bigint").as("priority_maxlen")
      )
    val mode = base
      .groupBy(col("o_orderstatus").as("st2"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("max_cnt", max(col("cnt")).over(Window.partitionBy(col("st2"))))
      .filter(col("cnt") === col("max_cnt"))
      .groupBy(col("st2"))
      .agg(
        min(col("o_orderpriority")).as("priority_mode"),
        substring(array_join(array_sort(collect_list(col("o_orderpriority"))), ","), 1, 2000)
          .as("priority_top"),
        max(col("cnt")).as("priority_occ")
      )
    metrics
      .join(mode, col("o_orderstatus") === col("st2"))
      .drop("st2")
      .select(
        col("o_orderstatus"),
        col("n_rows"),
        Fixtures.decStr(col("custkey_median")).as("custkey_median"),
        Fixtures.decStr(col("totalprice_sum")).as("totalprice_sum"),
        (col("totalprice_sum").cast("double") / col("n_rows")).as("totalprice_avg"),
        col("priority_mode"),
        col("priority_top"),
        col("priority_occ"),
        col("priority_minlen"),
        col("priority_maxlen")
      )
      .orderBy("o_orderstatus")
  }

  /** The classifier's ALTER recipes (convert_varchar.sql:561-604):
    * columns with a non-VARCHAR verdict get a MODIFY statement; the
    * rest keep their type (NULL stmt).
    */
  val classifyVarcharStmts: Q = (s, d) =>
    classifyVarchar(s, d)
      .select(
        col("col_name"),
        col("verdict"),
        when(
          !col("verdict").startsWith("VARCHAR"),
          concat(
            lit("ALTER TABLE \"STAGE\".\"ORDERS_RAW\" MODIFY (\""),
            upper(col("col_name")),
            lit("\" "),
            col("verdict"),
            lit(");")
          )
        ).as("stmt")
      )
      .orderBy("col_name")

  private val tallSampleSql =
    s"""WITH sample AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT $sampleRows),
       |tall AS (
       |  SELECT 'num_dec' AS col_name, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS val FROM sample
       |  UNION ALL SELECT 'num_int', CAST(o_orderkey AS VARCHAR) FROM sample
       |  UNION ALL SELECT 'date_iso', strftime(o_orderdate, '%Y-%m-%d') FROM sample
       |  UNION ALL SELECT 'bool01', CAST(o_orderkey % 2 AS VARCHAR) FROM sample
       |  UNION ALL SELECT 'geo_wkt', 'POINT (' || CAST(o_orderkey % 100 AS VARCHAR) || ' ' || CAST(o_custkey % 100 AS VARCHAR) || ')' FROM sample
       |  UNION ALL SELECT 'interval_ds', CAST(o_orderkey % 30 AS VARCHAR) || ' 12:30:45' FROM sample)""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("classify_varchar", classifyVarchar,
      s"""$tallSampleSql,
         |classified AS (
         |  SELECT col_name, val,
         |    CASE WHEN val IS NULL THEN 'null'
         |         WHEN val IN ('0','1') THEN 'bool'
         |         WHEN regexp_matches(val, '^-?[0-9]+$$') THEN 'int'
         |         WHEN regexp_matches(val, '^-?[0-9]+\\.[0-9]+$$') THEN 'dec'
         |         WHEN regexp_matches(val, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$') THEN 'date'
         |         WHEN regexp_matches(val, '^[0-9]+ [0-9]{2}:[0-9]{2}:[0-9]{2}$$') THEN 'dsinterval'
         |         WHEN regexp_matches(val, '^(POINT|LINESTRING|POLYGON|MULTIPOINT) ?\\(.*\\)$$') THEN 'geo'
         |         ELSE 'oth' END AS cls
         |  FROM tall),
         |aggd AS (
         |  SELECT col_name,
         |    CAST(count(*) AS BIGINT) AS n_vals,
         |    CAST(sum(CASE WHEN cls='bool' THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
         |    CAST(sum(CASE WHEN cls='int' THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
         |    CAST(sum(CASE WHEN cls='dec' THEN 1 ELSE 0 END) AS BIGINT) AS n_dec,
         |    CAST(sum(CASE WHEN cls='date' THEN 1 ELSE 0 END) AS BIGINT) AS n_date,
         |    CAST(sum(CASE WHEN cls='dsinterval' THEN 1 ELSE 0 END) AS BIGINT) AS n_dsinterval,
         |    CAST(sum(CASE WHEN cls='geo' THEN 1 ELSE 0 END) AS BIGINT) AS n_geo,
         |    CAST(sum(CASE WHEN cls='oth' THEN 1 ELSE 0 END) AS BIGINT) AS n_oth,
         |    CAST(max(length(val)) AS BIGINT) AS max_len
         |  FROM classified GROUP BY col_name)
         |SELECT aggd.*,
         |  CASE WHEN n_oth > 0 THEN 'VARCHAR(' || CAST(max_len AS VARCHAR) || ')'
         |       WHEN n_date = n_vals THEN 'DATE'
         |       WHEN n_dsinterval = n_vals THEN 'INTERVAL DAY TO SECOND'
         |       WHEN n_geo = n_vals THEN 'GEOMETRY'
         |       WHEN n_bool = n_vals THEN 'BOOLEAN'
         |       WHEN n_bool + n_int = n_vals THEN 'DECIMAL(18,0)'
         |       WHEN n_bool + n_int + n_dec = n_vals THEN 'DECIMAL(18,6)'
         |       ELSE 'VARCHAR(' || CAST(max_len AS VARCHAR) || ')' END AS verdict
         |FROM aggd ORDER BY col_name""".stripMargin),
    Query("classify_varchar_stmts", classifyVarcharStmts, {
      val classifySql = // re-derive the classify oracle body (same CTEs)
        s"""$tallSampleSql,
           |classified AS (
           |  SELECT col_name, val,
           |    CASE WHEN val IS NULL THEN 'null'
           |         WHEN val IN ('0','1') THEN 'bool'
           |         WHEN regexp_matches(val, '^-?[0-9]+$$') THEN 'int'
           |         WHEN regexp_matches(val, '^-?[0-9]+\\.[0-9]+$$') THEN 'dec'
           |         WHEN regexp_matches(val, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$') THEN 'date'
           |         WHEN regexp_matches(val, '^[0-9]+ [0-9]{2}:[0-9]{2}:[0-9]{2}$$') THEN 'dsinterval'
           |         WHEN regexp_matches(val, '^(POINT|LINESTRING|POLYGON|MULTIPOINT) ?\\(.*\\)$$') THEN 'geo'
           |         ELSE 'oth' END AS cls
           |  FROM tall),
           |aggd AS (
           |  SELECT col_name,
           |    CAST(count(*) AS BIGINT) AS n_vals,
           |    CAST(sum(CASE WHEN cls='bool' THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
           |    CAST(sum(CASE WHEN cls='int' THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
           |    CAST(sum(CASE WHEN cls='dec' THEN 1 ELSE 0 END) AS BIGINT) AS n_dec,
           |    CAST(sum(CASE WHEN cls='date' THEN 1 ELSE 0 END) AS BIGINT) AS n_date,
           |    CAST(sum(CASE WHEN cls='dsinterval' THEN 1 ELSE 0 END) AS BIGINT) AS n_dsinterval,
           |    CAST(sum(CASE WHEN cls='geo' THEN 1 ELSE 0 END) AS BIGINT) AS n_geo,
           |    CAST(sum(CASE WHEN cls='oth' THEN 1 ELSE 0 END) AS BIGINT) AS n_oth,
           |    CAST(max(length(val)) AS BIGINT) AS max_len
           |  FROM classified GROUP BY col_name),
           |verdicts AS (
           |  SELECT col_name,
           |    CASE WHEN n_oth > 0 THEN 'VARCHAR(' || CAST(max_len AS VARCHAR) || ')'
           |         WHEN n_date = n_vals THEN 'DATE'
           |         WHEN n_dsinterval = n_vals THEN 'INTERVAL DAY TO SECOND'
           |         WHEN n_geo = n_vals THEN 'GEOMETRY'
           |         WHEN n_bool = n_vals THEN 'BOOLEAN'
           |         WHEN n_bool + n_int = n_vals THEN 'DECIMAL(18,0)'
           |         WHEN n_bool + n_int + n_dec = n_vals THEN 'DECIMAL(18,6)'
           |         ELSE 'VARCHAR(' || CAST(max_len AS VARCHAR) || ')' END AS verdict
           |  FROM aggd)
           |SELECT col_name, verdict,
           |  CASE WHEN verdict NOT LIKE 'VARCHAR%' THEN
           |    'ALTER TABLE "STAGE"."ORDERS_RAW" MODIFY ("' || upper(col_name) || '" ' || verdict || ');'
           |  END AS stmt
           |FROM verdicts ORDER BY col_name""".stripMargin
      classifySql
    }),
    Query("date_probe", dateProbe,
      """WITH src AS (
        |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%d/%m/%Y')
        |              ELSE strftime(o_orderdate, '%Y-%m-%d') END AS sval
        |  FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(try_strptime(sval, '%Y-%m-%d')) AS BIGINT) AS n_iso,
        |  CAST(count(try_strptime(sval, '%d/%m/%Y')) AS BIGINT) AS n_dmy,
        |  CAST(count(try_strptime(sval, '%m/%d/%Y')) AS BIGINT) AS n_mdy,
        |  CAST(sum(CASE WHEN try_strptime(sval, '%d/%m/%Y') IS NOT NULL
        |                 AND try_strptime(sval, '%m/%d/%Y') IS NOT NULL
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_ambiguous
        |FROM src""".stripMargin),
    Query("rich_metrics", richMetrics,
      """WITH metrics AS (
        |  SELECT o_orderstatus,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(median(o_custkey) AS DECIMAL(18,1)) AS custkey_median,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS totalprice_sum,
        |    CAST(min(length(o_orderpriority)) AS BIGINT) AS priority_minlen,
        |    CAST(max(length(o_orderpriority)) AS BIGINT) AS priority_maxlen
        |  FROM orders GROUP BY o_orderstatus),
        |counted AS (
        |  SELECT o_orderstatus AS st2, o_orderpriority, count(*) AS cnt,
        |    max(count(*)) OVER (PARTITION BY o_orderstatus) AS max_cnt
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
        |mode AS (
        |  SELECT st2,
        |    min(o_orderpriority) AS priority_mode,
        |    substr(string_agg(o_orderpriority, ',' ORDER BY o_orderpriority), 1, 2000) AS priority_top,
        |    CAST(max(cnt) AS BIGINT) AS priority_occ
        |  FROM counted WHERE cnt = max_cnt GROUP BY st2)
        |SELECT o_orderstatus, n_rows,
        |  CAST(custkey_median AS VARCHAR) AS custkey_median,
        |  CAST(totalprice_sum AS VARCHAR) AS totalprice_sum,
        |  CAST(totalprice_sum AS DOUBLE) / n_rows AS totalprice_avg,
        |  priority_mode, priority_top, priority_occ, priority_minlen, priority_maxlen
        |FROM metrics JOIN mode ON o_orderstatus = st2
        |ORDER BY o_orderstatus""".stripMargin)
  )
}
