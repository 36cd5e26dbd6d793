package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Query}

/** Data-profiling aggregations (SURVEY.md §2.E #55-57) — the
  * reference's post_load_optimization analysis queries re-expressed as
  * single-scan wide aggregations.
  *
  * The key operator is the *vectorized multi-hypothesis test* of
  * convert_datatypes.sql:201-264: for every candidate decimal scale s,
  * count in ONE pass the rows where the round-trip
  * `double → DECIMAL(36,s) → double` is lossy. The smallest s with
  * zero violations is the lossless scale. (Rounding-mode differences
  * between engines cannot affect the count: a value that rounds at
  * all is a violation in either direction.)
  *
  * Scale: each profile is one `agg` over the table — map-side partial
  * aggregation, one tiny shuffled row per partition, no second pass.
  */
object Profiling {
  import Fixtures._

  private val scales = 0 to 6
  private val profCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def roundtripViolations(c: String, s: Int): Column =
    sum(
      when(col(c).isNotNull && col(c).cast(DecimalType(36, s)).cast("double") =!= col(c), 1)
        .otherwise(0)
    ).cast("bigint")

  /** Wide single-scan profile of candidate decimal scales for a set of
    * double columns, melted to one row per column with the chosen
    * lossless scale.
    */
  def decimalScaleProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_nn")) ++
        scales.map(s => roundtripViolations(c, s).as(s"${c}_v$s")) ++
        Seq(
          max(length(col(c).cast(DecimalType(36, 0)).cast("string")))
            .cast("bigint")
            .as(s"${c}_intdigits")
        )
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val arms = cols
      .map(c => s"'$c', ${c}_nn, " + scales.map(s => s"${c}_v$s").mkString(", ") + s", ${c}_intdigits")
      .mkString(", ")
    val vNames = scales.map(s => s"v$s").mkString(", ")
    val melted = wide.selectExpr(
      s"stack(${cols.size}, $arms) as (col_name, n_notnull, $vNames, int_digits)"
    )
    val bestScale = scales.foldRight(lit(-1): Column) { (s, acc) =>
      when(col(s"v$s") === 0, lit(s)).otherwise(acc)
    }
    melted.withColumn("best_scale", bestScale)
  }

  val profileDecimalScale: Q = (s, d) =>
    decimalScaleProfile(lineitem(s, d), profCols)
      .select(
        (Seq(col("col_name"), col("n_notnull")) ++ scales.map(i => col(s"v$i")) ++
          Seq(col("int_digits"), col("best_scale"))): _*
      )
      .orderBy("col_name")

  /** §2.F #58: DOUBLE → smallest lossless DECIMAL, as MODIFY-column
    * statement text (convert_datatypes.sql:199-265). Precision =
    * integer digits of the max absolute value + lossless scale.
    */
  val narrowDoubleToDecimal: Q = (s, d) =>
    decimalScaleProfile(lineitem(s, d), profCols)
      .filter(col("best_scale") >= 0)
      .select(
        col("col_name"),
        (col("int_digits") + col("best_scale")).cast("bigint").as("precision"),
        col("best_scale").cast("bigint").as("scale"),
        concat(
          lit("ALTER TABLE \"TPCH\".\"LINEITEM\" MODIFY (\""),
          upper(col("col_name")),
          lit("\" DECIMAL("),
          (col("int_digits") + col("best_scale")).cast("string"),
          lit(","),
          col("best_scale").cast("string"),
          lit("));")
        ).as("stmt")
      )
      .orderBy("col_name")

  /** §2.F #59: DECIMAL width narrowing to the 9/18-digit internal reps
    * (convert_datatypes.sql:268-373): integer key columns classified by
    * max digit count.
    */
  val narrowDecimalWidth: Q = (s, d) => {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val aggs = cols.map(c => max(abs(col(c))).cast("bigint").as(s"${c}_maxabs"))
    val wide = lineitem(s, d).agg(aggs.head, aggs.tail: _*)
    val arms = cols.map(c => s"'$c', ${c}_maxabs").mkString(", ")
    wide
      .selectExpr(s"stack(${cols.size}, $arms) as (col_name, max_abs)")
      .withColumn("n_digits", length(col("max_abs").cast("string")).cast("bigint"))
      .withColumn(
        "proposal",
        when(col("n_digits") <= 9, "DECIMAL(9,0)")
          .when(col("n_digits") <= 18, "DECIMAL(18,0)")
          .otherwise("DECIMAL(36,0)")
      )
      .orderBy("col_name")
  }

  /** §2.F #60: TIMESTAMP → DATE when no time component
    * (convert_datatypes.sql:376-420): count rows where the value has a
    * sub-day component; zero → DATE proposal.
    */
  val narrowTimestampToDate: Q = (s, d) => {
    val li = lineitem(s, d).select(col("l_shipdate").as("ts")).withColumn("col_name", lit("l_shipdate"))
    val or = orders(s, d).select(col("o_orderdate").as("ts")).withColumn("col_name", lit("o_orderdate"))
    li.unionByName(or)
      .groupBy(col("col_name"))
      .agg(
        count(col("ts")).as("n_notnull"),
        sum(when(col("ts") =!= date_trunc("DAY", col("ts")), 1).otherwise(0))
          .cast("bigint")
          .as("n_with_time")
      )
      .withColumn("proposal", when(col("n_with_time") === 0, "DATE").otherwise("TIMESTAMP"))
      .orderBy("col_name")
  }

  /** §2.F #61: VARCHAR shrink — max observed length + 20% headroom,
    * rounded up to the next multiple of 10, capped at 2,000,000;
    * columns with max length <= 3 untouched (convert_datatypes.sql:423-473).
    */
  val narrowVarcharShrink: Q = (s, d) => {
    val cols = Seq("c_name", "c_mktsegment")
    val aggs = cols.map(c => max(length(col(c))).cast("bigint").as(s"${c}_maxlen"))
    val wide = customer(s, d).agg(aggs.head, aggs.tail: _*)
    val arms = cols.map(c => s"'$c', ${c}_maxlen").mkString(", ")
    wide
      .selectExpr(s"stack(${cols.size}, $arms) as (col_name, max_len)")
      .withColumn(
        "new_len",
        when(
          col("max_len") <= 3,
          col("max_len")
        ).otherwise(
          least(
            lit(2000000L),
            expr("((CAST(floor((max_len * 12 + 9) / 10.0) AS BIGINT) + 9) div 10) * 10")
          ).cast("bigint")
        )
      )
      .withColumn(
        "stmt",
        when(
          col("new_len") =!= col("max_len"),
          concat(
            lit("ALTER TABLE \"TPCH\".\"CUSTOMER\" MODIFY (\""),
            upper(col("col_name")),
            lit("\" VARCHAR("),
            col("new_len").cast("string"),
            lit("));")
          )
        )
      )
      .orderBy("col_name")
  }

  /** Fixed-bound histogram of a numeric column — the distribution
    * profile backing narrowing decisions (bucket arithmetic in
    * integer/floor form so both engines agree bit-for-bit; out-of-range
    * values clamp into the edge buckets).
    */
  val profileHistogram: Q = (s, d) => {
    val (lo, hi, n) = (0.0, 600000.0, 12)
    val w = (hi - lo) / n
    orders(s, d)
      .withColumn(
        "bucket",
        least(lit(n - 1), greatest(lit(0), expr(s"CAST(floor((o_totalprice - $lo) / $w) AS INT)")))
          .cast("bigint")
      )
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        Fixtures.decStr(min(col("o_totalprice").cast(DecimalType(18, 2)))).as("lo_val"),
        Fixtures.decStr(max(col("o_totalprice").cast(DecimalType(18, 2)))).as("hi_val")
      )
      .orderBy("bucket")
  }

  /** Quantile profile + the quantile SKETCH tolerance-gated: exact
    * interpolated percentiles are engine-portable (both engines
    * compute lower + fraction·(upper − lower) at rank p·(n−1)), so
    * they hash-compare directly; the approx sketch
    * (`approx_percentile`, a single-scan mergeable summary — the
    * scale mode for 100 TB where exact percentile means a full sort)
    * is engine-specific, so each engine checks its OWN sketch against
    * its own exact value under a 5% relative tolerance and only the
    * status crosses the engine boundary — the same contract as
    * agg_wide_metrics_approx.
    */
  private val quantilePs = Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75", 0.95 -> "q95")

  val profileQuantiles: Q = (s, d) => {
    val aggs: Seq[Column] = quantilePs.flatMap { case (p, n) =>
      val exact = s"percentile(l_extendedprice, $p)"
      val approx = s"approx_percentile(l_extendedprice, $p, 10000)"
      Seq(
        round(expr(exact), 6).as(n),
        when(expr(s"abs($approx - $exact) <= 0.05 * abs($exact)"), "OK")
          .otherwise("DEVIATION")
          .as(s"${n}_tol")
      )
    }
    lineitem(s, d).agg(aggs.head, aggs.tail: _*)
  }

  /** Column ENCODING ADVISOR — the post-load-optimization sibling of
    * the type narrowers: per column, the distinct ratio and mean
    * rendered width that decide the storage encoding a columnar
    * rewrite should pick (tiny domain → RLE after sort; low distinct
    * ratio → DICTIONARY; else PLAIN). The reference family narrows
    * TYPES from data evidence; this advises the ENCODING from the
    * same single-scan evidence shape — everything comes from ONE wide
    * aggregation pass (the CheckMigration metric-compiler discipline),
    * then unpivots to a per-column report.
    */
  def encodingAdvisor(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        countDistinct(col(c)).cast("bigint").as(s"${c}__nd"),
        sum(length(col(c).cast("string"))).cast("bigint").as(s"${c}__len")
      )
    }
    val row = df.agg(count(lit(1)).cast("bigint").as("__n"), aggs: _*)
    val stackExpr =
      s"stack(${cols.length}, " +
        cols.map(c => s"'$c', ${c}__nd, ${c}__len").mkString(", ") +
        ") as (column_name, n_distinct, total_chars)"
    row
      .select(col("__n").as("n_rows"), expr(stackExpr))
      .withColumn("distinct_per_mille", expr("n_distinct * 1000 div n_rows"))
      .withColumn("avg_len_micro", expr("total_chars * 1000000 div n_rows"))
      .withColumn(
        "advice",
        when(col("n_distinct") <= 50, "RLE")
          .when(col("distinct_per_mille") <= 10, "DICTIONARY")
          .otherwise(lit("PLAIN"))
      )
      .select(
        col("column_name"), col("n_rows"), col("n_distinct"), col("distinct_per_mille"),
        col("avg_len_micro"), col("advice"))
      .orderBy("column_name")
  }

  /** Int/string columns only: decimal/timestamp renderings differ
    * between engines, and the advisor's width signal is about STORED
    * text anyway.
    */
  private val advisorCols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_linestatus")

  val encodingAdvisorQ: Q = (s, d) => encodingAdvisor(lineitem(s, d), advisorCols)

  // ---- DuckDB oracles ------------------------------------------------

  private def violSql(c: String, s: Int): String =
    s"CAST(sum(CASE WHEN $c IS NOT NULL AND CAST(CAST($c AS DECIMAL(36,$s)) AS DOUBLE) <> $c THEN 1 ELSE 0 END) AS BIGINT)"

  private def profileWideSql: String = {
    val parts = profCols.flatMap { c =>
      Seq(s"CAST(count($c) AS BIGINT) AS ${c}_nn") ++
        scales.map(s => s"${violSql(c, s)} AS ${c}_v$s") ++
        Seq(s"CAST(max(length(CAST(CAST($c AS DECIMAL(36,0)) AS VARCHAR))) AS BIGINT) AS ${c}_intdigits")
    }
    s"SELECT ${parts.mkString(", ")} FROM lineitem"
  }

  private def profileMeltSql: String = {
    val arms = profCols
      .map(c =>
        s"SELECT '$c' AS col_name, ${c}_nn AS n_notnull, " +
          scales.map(s => s"${c}_v$s AS v$s").mkString(", ") +
          s", ${c}_intdigits AS int_digits FROM wide"
      )
      .mkString(" UNION ALL ")
    val best = "CASE " + scales.map(s => s"WHEN v$s = 0 THEN $s").mkString(" ") + " ELSE -1 END"
    s"""WITH wide AS ($profileWideSql),
       |melted AS ($arms)
       |SELECT melted.*, $best AS best_scale FROM melted""".stripMargin
  }

  private def quantileSqlOracle: String = {
    val cols = quantilePs
      .flatMap { case (p, n) =>
        Seq(
          s"round(quantile_cont(l_extendedprice, $p), 6) AS $n",
          s"""CASE WHEN abs(approx_quantile(l_extendedprice, $p) - quantile_cont(l_extendedprice, $p))
             |     <= 0.05 * abs(quantile_cont(l_extendedprice, $p)) THEN 'OK' ELSE 'DEVIATION' END AS ${n}_tol""".stripMargin
        )
      }
      .mkString(",\n")
    s"SELECT $cols FROM lineitem"
  }

  lazy val registry: Seq[Query] = Seq(
    Query("encoding_advisor", encodingAdvisorQ, {
      val arms = advisorCols
        .map { c =>
          s"""SELECT '$c' AS column_name,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(sum(length(CAST($c AS VARCHAR))) AS BIGINT) AS total_chars
             |FROM lineitem""".stripMargin
        }
        .mkString("\nUNION ALL\n")
      s"""WITH a AS (
         |$arms
         |)
         |SELECT column_name, n_rows, n_distinct,
         |  CAST(n_distinct * 1000 // n_rows AS BIGINT) AS distinct_per_mille,
         |  CAST(total_chars * 1000000 // n_rows AS BIGINT) AS avg_len_micro,
         |  CASE WHEN n_distinct <= 50 THEN 'RLE'
         |       WHEN n_distinct * 1000 // n_rows <= 10 THEN 'DICTIONARY'
         |       ELSE 'PLAIN' END AS advice
         |FROM a ORDER BY column_name""".stripMargin
    }),
    Query("profile_quantiles", profileQuantiles, quantileSqlOracle),
    Query("profile_decimal_scale", profileDecimalScale, s"SELECT * FROM ($profileMeltSql) ORDER BY col_name"),
    Query("narrow_double_to_decimal", narrowDoubleToDecimal,
      s"""SELECT col_name,
         |  CAST(int_digits + best_scale AS BIGINT) AS precision,
         |  CAST(best_scale AS BIGINT) AS scale,
         |  'ALTER TABLE "TPCH"."LINEITEM" MODIFY ("' || upper(col_name) || '" DECIMAL(' ||
         |    CAST(int_digits + best_scale AS VARCHAR) || ',' || CAST(best_scale AS VARCHAR) || '));' AS stmt
         |FROM ($profileMeltSql) WHERE best_scale >= 0 ORDER BY col_name""".stripMargin),
    Query("narrow_decimal_width", narrowDecimalWidth,
      """WITH wide AS (
        |  SELECT CAST(max(abs(l_orderkey)) AS BIGINT) AS l_orderkey_maxabs,
        |         CAST(max(abs(l_partkey)) AS BIGINT) AS l_partkey_maxabs,
        |         CAST(max(abs(l_suppkey)) AS BIGINT) AS l_suppkey_maxabs,
        |         CAST(max(abs(l_linenumber)) AS BIGINT) AS l_linenumber_maxabs
        |  FROM lineitem),
        |melted AS (
        |  SELECT 'l_orderkey' AS col_name, l_orderkey_maxabs AS max_abs FROM wide
        |  UNION ALL SELECT 'l_partkey', l_partkey_maxabs FROM wide
        |  UNION ALL SELECT 'l_suppkey', l_suppkey_maxabs FROM wide
        |  UNION ALL SELECT 'l_linenumber', l_linenumber_maxabs FROM wide)
        |SELECT col_name, max_abs,
        |  CAST(length(CAST(max_abs AS VARCHAR)) AS BIGINT) AS n_digits,
        |  CASE WHEN length(CAST(max_abs AS VARCHAR)) <= 9 THEN 'DECIMAL(9,0)'
        |       WHEN length(CAST(max_abs AS VARCHAR)) <= 18 THEN 'DECIMAL(18,0)'
        |       ELSE 'DECIMAL(36,0)' END AS proposal
        |FROM melted ORDER BY col_name""".stripMargin),
    Query("narrow_timestamp_to_date", narrowTimestampToDate,
      """WITH tall AS (
        |  SELECT 'l_shipdate' AS col_name, l_shipdate AS ts FROM lineitem
        |  UNION ALL SELECT 'o_orderdate', o_orderdate FROM orders)
        |SELECT col_name, CAST(count(ts) AS BIGINT) AS n_notnull,
        |  CAST(sum(CASE WHEN ts <> date_trunc('day', ts) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_time,
        |  CASE WHEN sum(CASE WHEN ts <> date_trunc('day', ts) THEN 1 ELSE 0 END) = 0
        |       THEN 'DATE' ELSE 'TIMESTAMP' END AS proposal
        |FROM tall GROUP BY col_name ORDER BY col_name""".stripMargin),
    Query("profile_histogram", profileHistogram,
      """SELECT CAST(least(11, greatest(0, CAST(floor((o_totalprice - 0.0) / 50000.0) AS INTEGER))) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS lo_val,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS hi_val
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),
    Query("narrow_varchar_shrink", narrowVarcharShrink,
      """WITH wide AS (
        |  SELECT CAST(max(length(c_name)) AS BIGINT) AS c_name_maxlen,
        |         CAST(max(length(c_mktsegment)) AS BIGINT) AS c_mktsegment_maxlen
        |  FROM customer),
        |melted AS (
        |  SELECT 'c_name' AS col_name, c_name_maxlen AS max_len FROM wide
        |  UNION ALL SELECT 'c_mktsegment', c_mktsegment_maxlen FROM wide),
        |sized AS (
        |  SELECT col_name, max_len,
        |    CASE WHEN max_len <= 3 THEN max_len
        |         ELSE CAST(least(2000000,
        |           (CAST(floor((max_len * 12 + 9) / 10.0) AS BIGINT) + 9) // 10 * 10) AS BIGINT)
        |    END AS new_len
        |  FROM melted)
        |SELECT col_name, max_len, new_len,
        |  CASE WHEN new_len <> max_len THEN
        |    'ALTER TABLE "TPCH"."CUSTOMER" MODIFY ("' || upper(col_name) || '" VARCHAR(' ||
        |    CAST(new_len AS VARCHAR) || '));' END AS stmt
        |FROM sized ORDER BY col_name""".stripMargin)
  )
}
