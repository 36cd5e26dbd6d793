package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Query}

/** CHECK_MIGRATION — the reference's validation subsystem and its
  * closest thing to a query engine (SURVEY.md §2.E;
  * postgresql_to_exasol.sql:295-357): ONE wide single-scan aggregation
  * per table computing type-gated metrics (ROW_CNT, per-column NULLS /
  * MIN / MAX / SUM / DISTINCT / MINLEN / MAXLEN), executed on both
  * systems, then unpivoted and joined null-safely to flag deviations.
  *
  * Scale note: the whole metric set for a table is one `agg(...)` —
  * Catalyst fuses it into a single scan with partial (map-side)
  * aggregation, so at 100 TB this costs exactly one pass over the
  * table and shuffles only the tiny per-partition partial rows.
  * Exact numeric metrics are computed in DECIMAL(36,s) as the
  * reference does, which also makes them order-independent
  * (double summation is not associative).
  */
object CheckMigration {
  import Fixtures._

  private def dec(c: Column, scale: Int): Column = c.cast(DecimalType(36, scale))

  /** The type-gated metric set of one table: which columns get which
    * metrics in [[wideMetricsAgg]].
    */
  final case class MetricSpec(
      numeric: Seq[(String, Int)],
      strings: Seq[String],
      timestamps: Seq[String],
      dates: Seq[String] = Nil,
      booleans: Seq[String] = Nil,
      others: Seq[String] = Nil,
      approxDistinct: Boolean = false
  )

  /** The metric set the reference's compiler gates by column type:
    * integral (byte … long, scale 0) and fractional (float, double,
    * decimal, scale 2) columns → NULLS/MIN/MAX/SUM; strings →
    * NULLS/DISTINCT/MINLEN/MAXLEN; timestamps and dates → MIN/MAX as
    * text; every other type → NULLS (+ TRUE for booleans), so no
    * column is left unchecked.
    */
  def metricSpec(schema: StructType): MetricSpec = {
    val fields = schema.fields.toSeq
    def named(p: DataType => Boolean): Seq[String] = fields.collect { case f if p(f.dataType) => f.name }
    val numeric = fields.flatMap { f =>
      f.dataType match {
        case FloatType | DoubleType | _: DecimalType => Some(f.name -> 2)
        case ByteType | ShortType | IntegerType | LongType => Some(f.name -> 0)
        case _ => None
      }
    }
    val strings = named(_.isInstanceOf[StringType])
    val timestamps = named(t => t == TimestampType || t == TimestampNTZType)
    val dates = named(_ == DateType)
    val booleans = named(_ == BooleanType)
    val gated = (numeric.map(_._1) ++ strings ++ timestamps ++ dates ++ booleans).toSet
    MetricSpec(numeric, strings, timestamps, dates, booleans, fields.map(_.name).filterNot(gated))
  }

  /** A column name as a quoted identifier, so it is never parsed:
    * `x.y` is a column, not field y of struct x.
    */
  private def quoted(c: String): String = s"`${c.replace("`", "``")}`"
  private def ref(c: String): Column = col(quoted(c))

  /** One wide, single-scan metrics row, mirroring the reference's
    * type-gated metric compiler (numeric → MIN/MAX/SUM in
    * DECIMAL(36,s); varchar → DISTINCT/MINLEN/MAXLEN; timestamp →
    * MIN/MAX rendered to text exactly like the reference renders
    * temporal metrics for cross-system compare).
    */
  def wideMetricsAgg(
      df: DataFrame,
      numericCols: Seq[(String, Int)],
      stringCols: Seq[String],
      timestampCols: Seq[String],
      approxDistinct: Boolean = false
  ): DataFrame =
    wideMetricsAgg(df, MetricSpec(numericCols, stringCols, timestampCols, approxDistinct = approxDistinct))

  def wideMetricsAgg(df: DataFrame, spec: MetricSpec): DataFrame = {
    def nulls(c: String): Column = sum(when(ref(c).isNull, 1).otherwise(0)).cast("bigint").as(s"${c}_nulls")
    // DISTINCT is the one metric whose exact form does not scale the
    // way the rest of the single-scan agg does: exact countDistinct
    // expands into a per-column shuffle of the distinct values, so a
    // wide table at 100 TB pays one extra shuffle per string column.
    // approxDistinct swaps in HyperLogLog++ (constant-size sketch,
    // stays inside the single scan, ~2% default error) — the standard
    // scale mode; both systems must then use the same sketch for the
    // deviation compare, which is why it is a flag, not the default.
    def distinctOf(c: String): Column =
      if (spec.approxDistinct) approx_count_distinct(ref(c)).as(s"${c}_distinct")
      else countDistinct(ref(c)).as(s"${c}_distinct")
    def minMaxText(cols: Seq[String], fmt: String): Seq[Column] = cols.flatMap { c =>
      Seq(date_format(min(ref(c)), fmt).as(s"${c}_min"), date_format(max(ref(c)), fmt).as(s"${c}_max"))
    }
    val metrics: Seq[Column] =
      Seq(count(lit(1)).as("row_cnt")) ++
        spec.numeric.flatMap { case (c, s) =>
          Seq(
            nulls(c),
            decStr(min(dec(ref(c), s))).as(s"${c}_min"),
            decStr(max(dec(ref(c), s))).as(s"${c}_max"),
            decStr(sum(dec(ref(c), s)).cast(DecimalType(38, s))).as(s"${c}_sum")
          )
        } ++
        spec.strings.flatMap { c =>
          Seq(
            nulls(c),
            distinctOf(c),
            min(length(ref(c))).cast("bigint").as(s"${c}_minlen"),
            max(length(ref(c))).cast("bigint").as(s"${c}_maxlen")
          )
        } ++
        minMaxText(spec.timestamps, "yyyy-MM-dd HH:mm:ss") ++
        minMaxText(spec.dates, "yyyy-MM-dd") ++
        spec.booleans.flatMap(c => Seq(nulls(c), count(when(ref(c), 1)).as(s"${c}_true"))) ++
        spec.others.map(nulls)
    df.agg(metrics.head, metrics.tail: _*)
  }

  private val lineitemNumeric = Seq("l_quantity" -> 2, "l_extendedprice" -> 2)
  private val lineitemStrings = Seq("l_returnflag")
  private val lineitemTs = Seq("l_shipdate")

  val wideMetricsLineitem: Q = (s, d) =>
    wideMetricsAgg(lineitem(s, d), lineitemNumeric, lineitemStrings, lineitemTs)

  /** The unpivot + deviation join (postgresql_to_exasol.sql:339-356):
    * side A = the migrated table, side B = the "source" (here: a
    * deliberately deviating filtered view so both OK and DEVIATION
    * rows appear). stack() melts the wide row; the compare is
    * null-safe (`<=>` ↔ the reference's coalesce-sentinel equality).
    */
  def deviationReport(wideA: DataFrame, wideB: DataFrame, metricCols: Seq[String]): DataFrame = {
    def melt(df: DataFrame, valName: String): DataFrame = {
      // names are SQL text here: escape the label, quote the column
      val pairs = metricCols
        .map { m =>
          val label = m.replace("\\", "\\\\").replace("'", "\\'")
          s"'$label', cast(${quoted(m)} as string)"
        }
        .mkString(", ")
      df.selectExpr(s"stack(${metricCols.size}, $pairs) as (metric, $valName)")
    }
    val a = melt(wideA, "val_a")
    val b = melt(wideB, "val_b")
    a.join(b.withColumnRenamed("metric", "metric_b"), col("metric") === col("metric_b"), "full_outer")
      .select(
        coalesce(col("metric"), col("metric_b")).as("metric"),
        col("val_a"),
        col("val_b"),
        when(col("val_a") <=> col("val_b"), "OK").otherwise("DEVIATION").as("status")
      )
      .orderBy("metric")
  }

  private val deviationMetrics = Seq(
    "row_cnt",
    "l_quantity_min",
    "l_quantity_max",
    "l_quantity_sum",
    "l_extendedprice_sum",
    "l_returnflag_distinct"
  )

  /** Both sides of the compare in ONE scan: side A = all rows, side B
    * = rows passing the predicate, computed as filtered aggregates in
    * the same `agg` (the widest possible version of the reference's
    * single-scan rule — when both inputs live in the same table, even
    * the deviation check needs only one pass).
    */
  def dualDeviation(df: DataFrame, pred: Column, numeric: Seq[(String, Int)]): DataFrame =
    meltDual(dualWide(df, pred, numeric))

  /** The ONE-scan side of the dual compare: every _a/_b metric as a
    * single wide row (filtered aggregates share the scan).
    */
  def dualWide(df: DataFrame, pred: Column, numeric: Seq[(String, Int)]): DataFrame = {
    def g(c: Column): Column = when(pred, c)
    val aggs: Seq[Column] =
      Seq(
        count(lit(1)).as("row_cnt_a"),
        sum(when(pred, 1).otherwise(0)).cast("bigint").as("row_cnt_b")
      ) ++
        numeric.flatMap { case (c, s) =>
          Seq(
            min(dec(col(c), s)).as(s"${c}_min_a"),
            min(dec(g(col(c)), s)).as(s"${c}_min_b"),
            max(dec(col(c), s)).as(s"${c}_max_a"),
            max(dec(g(col(c)), s)).as(s"${c}_max_b"),
            sum(dec(col(c), s)).cast(DecimalType(38, s)).as(s"${c}_sum_a"),
            sum(dec(g(col(c)), s)).cast(DecimalType(38, s)).as(s"${c}_sum_b")
          )
        } ++
        Seq(
          countDistinct(col("l_returnflag")).as("l_returnflag_distinct_a"),
          countDistinct(g(col("l_returnflag"))).as("l_returnflag_distinct_b")
        )
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Melt a dual wide row into the (metric, val_a, val_b, status)
    * report — driver-free projection over one cached row.
    */
  def meltDual(wide: DataFrame): DataFrame = {
    val pairs = deviationMetrics
      .map(m => s"'$m', cast(${m}_a as string), cast(${m}_b as string)")
      .mkString(", ")
    wide
      .selectExpr(s"stack(${deviationMetrics.size}, $pairs) as (metric, val_a, val_b)")
      .select(
        col("metric"),
        col("val_a"),
        col("val_b"),
        when(col("val_a") <=> col("val_b"), "OK").otherwise("DEVIATION").as("status")
      )
      .orderBy("metric")
  }

  /** agg_metrics_deviation and agg_metrics_summary are two projections
    * of the SAME one-row dual wide aggregate (one full table scan).
    * The reference materializes the metric table once and derives both
    * reports from it (postgresql_to_exasol.sql:339-356); this memo is
    * that materialization — per (session, sf-dir), one cached 1-row
    * DataFrame, so running both queries costs one scan. WeakHashMap on
    * the session so a stopped session's entry can be collected.
    */
  private val dualWideMemo =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]()

  private def dualWideLineitem(s: SparkSession, d: String): DataFrame = {
    val perSession = dualWideMemo.synchronized {
      var m = dualWideMemo.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
        dualWideMemo.put(s, m)
      }
      m
    }
    perSession.getOrElseUpdate(
      d,
      dualWide(lineitem(s, d), col("l_linenumber") <= 4, lineitemNumeric).cache()
    )
  }

  val metricsDeviation: Q = (s, d) => meltDual(dualWideLineitem(s, d))

  /** Per-table deviation summary (the reference's per-schema summary
    * table, postgresql_to_exasol.sql:339-356 tail): counts of
    * OK/DEVIATION metrics and an overall status.
    */
  val metricsSummary: Q = (s, d) =>
    meltDual(dualWideLineitem(s, d))
      .agg(
        sum(when(col("status") === "OK", 1).otherwise(0)).cast("bigint").as("n_ok"),
        sum(when(col("status") === "DEVIATION", 1).otherwise(0)).cast("bigint").as("n_deviation")
      )
      .withColumn("overall", when(col("n_deviation") === 0, "OK").otherwise("DEVIATION"))

  /** Same compiler over a different table shape (documents: strings +
    * one numeric) — the metric compiler is type-gated, not
    * table-specific.
    */
  val wideMetricsDocuments: Q = (s, d) =>
    wideMetricsAgg(
      documents(s, d),
      numericCols = Seq("n_chars" -> 0),
      stringCols = Seq("lang", "source"),
      timestampCols = Nil
    )

  /** Third shape: the events stream table (numeric measure + string
    * type + normalized timestamp).
    */
  val wideMetricsEvents: Q = (s, d) =>
    wideMetricsAgg(
      events(s, d),
      numericCols = Seq("value" -> 2),
      stringCols = Seq("event_type"),
      timestampCols = Seq("ts")
    )

  /** The approx-distinct SCALE mode (wideMetricsAgg's
    * `approxDistinct`) made oracle-gated: side A runs the metric
    * compiler with the HyperLogLog sketch, side B with exact
    * DISTINCT, and the report is a TOLERANCE compare (the reference's
    * tolerance-variant pattern, clickhouse_to_exasol.sql:204-246) —
    * each engine checks its OWN sketch against its own exact count,
    * so the output carries only the portable columns (metric, exact
    * count, within-tolerance status), never the raw sketch estimate
    * (HLL implementations differ across engines by construction).
    * doc_key (cast doc_id) supplies a genuinely high-cardinality
    * column so the sketch is actually approximating at gate scale.
    */
  def approxToleranceReport(
      approxWide: DataFrame,
      exactWide: DataFrame,
      metricCols: Seq[String],
      tol: Double
  ): DataFrame = {
    def melt(df: DataFrame, valName: String): DataFrame = {
      val pairs = metricCols.map(m => s"'$m', cast($m as double)").mkString(", ")
      df.selectExpr(s"stack(${metricCols.size}, $pairs) as (metric, $valName)")
    }
    melt(approxWide, "sketch")
      .join(melt(exactWide, "exact"), "metric")
      .select(
        col("metric"),
        col("exact").cast("bigint").as("n_exact"),
        when(abs(col("sketch") - col("exact")) <= lit(tol) * col("exact"), "OK")
          .otherwise("DEVIATION")
          .as("status")
      )
      .orderBy("metric")
  }

  private val approxStrings = Seq("lang", "source", "doc_key")

  val wideMetricsApprox: Q = (s, d) => {
    val docs = documents(s, d).withColumn("doc_key", col("doc_id").cast("string"))
    approxToleranceReport(
      wideMetricsAgg(docs, Nil, approxStrings, Nil, approxDistinct = true),
      wideMetricsAgg(docs, Nil, approxStrings, Nil),
      approxStrings.map(c => s"${c}_distinct"),
      tol = 0.1
    )
  }

  private val wideSqlBody =
    """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
      |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_nulls,
      |  CAST(min(CAST(l_quantity AS DECIMAL(36,2))) AS VARCHAR) AS l_quantity_min,
      |  CAST(max(CAST(l_quantity AS DECIMAL(36,2))) AS VARCHAR) AS l_quantity_max,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(36,2))) AS DECIMAL(38,2)) AS VARCHAR) AS l_quantity_sum,
      |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_extendedprice_nulls,
      |  CAST(min(CAST(l_extendedprice AS DECIMAL(36,2))) AS VARCHAR) AS l_extendedprice_min,
      |  CAST(max(CAST(l_extendedprice AS DECIMAL(36,2))) AS VARCHAR) AS l_extendedprice_max,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(36,2))) AS DECIMAL(38,2)) AS VARCHAR) AS l_extendedprice_sum,
      |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_returnflag_nulls,
      |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS l_returnflag_distinct,
      |  CAST(min(length(l_returnflag)) AS BIGINT) AS l_returnflag_minlen,
      |  CAST(max(length(l_returnflag)) AS BIGINT) AS l_returnflag_maxlen,
      |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS l_shipdate_min,
      |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS l_shipdate_max
      |FROM lineitem""".stripMargin

  private def meltSql(src: String, valName: String): String = {
    val arms = deviationMetrics
      .map(m => s"SELECT '$m' AS metric, CAST($m AS VARCHAR) AS $valName FROM $src")
      .mkString(" UNION ALL ")
    arms
  }

  // each engine validates its OWN HLL sketch against its own exact
  // count; only (metric, exact, status) cross the engine boundary —
  // sketch estimates are implementation-specific by construction
  private def approxSqlOracle: String = {
    val cols = Seq("lang" -> "lang", "source" -> "source", "doc_key" -> "CAST(doc_id AS VARCHAR)")
    def melt(tag: String, fn: String => String) = cols
      .map { case (n, c) => s"SELECT '${n}_distinct' AS metric, CAST(${fn(c)} AS DOUBLE) AS $tag FROM documents" }
      .mkString(" UNION ALL ")
    s"""WITH ua AS (${melt("sketch", c => s"approx_count_distinct($c)")}),
       |ub AS (${melt("exact", c => s"count(DISTINCT $c)")}),
       |j AS (SELECT ua.metric, sketch, exact FROM ua JOIN ub ON ua.metric = ub.metric)
       |SELECT metric, CAST(exact AS BIGINT) AS n_exact,
       |  CASE WHEN abs(sketch - exact) <= 0.1 * exact THEN 'OK' ELSE 'DEVIATION' END AS status
       |FROM j ORDER BY metric""".stripMargin
  }

  lazy val registry: Seq[Query] = Seq(
    Query("agg_wide_metrics_lineitem", wideMetricsLineitem, wideSqlBody),
    Query("agg_wide_metrics_approx", wideMetricsApprox, approxSqlOracle),
    Query("agg_wide_metrics_events", wideMetricsEvents,
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
        |  CAST(min(CAST(value AS DECIMAL(36,2))) AS VARCHAR) AS value_min,
        |  CAST(max(CAST(value AS DECIMAL(36,2))) AS VARCHAR) AS value_max,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(36,2))) AS DECIMAL(38,2)) AS VARCHAR) AS value_sum,
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type_nulls,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS event_type_distinct,
        |  CAST(min(length(event_type)) AS BIGINT) AS event_type_minlen,
        |  CAST(max(length(event_type)) AS BIGINT) AS event_type_maxlen,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ts_min,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ts_max
        |FROM events""".stripMargin),
    Query("agg_wide_metrics_documents", wideMetricsDocuments,
      """SELECT CAST(count(*) AS BIGINT) AS row_cnt,
        |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_nulls,
        |  CAST(min(CAST(n_chars AS DECIMAL(36,0))) AS VARCHAR) AS n_chars_min,
        |  CAST(max(CAST(n_chars AS DECIMAL(36,0))) AS VARCHAR) AS n_chars_max,
        |  CAST(CAST(sum(CAST(n_chars AS DECIMAL(36,0))) AS DECIMAL(38,0)) AS VARCHAR) AS n_chars_sum,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct,
        |  CAST(min(length(lang)) AS BIGINT) AS lang_minlen,
        |  CAST(max(length(lang)) AS BIGINT) AS lang_maxlen,
        |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
        |  CAST(count(DISTINCT source) AS BIGINT) AS source_distinct,
        |  CAST(min(length(source)) AS BIGINT) AS source_minlen,
        |  CAST(max(length(source)) AS BIGINT) AS source_maxlen
        |FROM documents""".stripMargin),
    Query("agg_metrics_deviation", metricsDeviation,
      s"""WITH wa AS ($wideSqlBody),
         |wb AS (${wideSqlBody.replace("FROM lineitem", "FROM lineitem WHERE l_linenumber <= 4")}),
         |ua AS (${meltSql("wa", "val_a")}),
         |ub AS (${meltSql("wb", "val_b")})
         |SELECT coalesce(ua.metric, ub.metric) AS metric, val_a, val_b,
         |  CASE WHEN val_a IS NOT DISTINCT FROM val_b THEN 'OK' ELSE 'DEVIATION' END AS status
         |FROM ua FULL JOIN ub ON ua.metric = ub.metric
         |ORDER BY metric""".stripMargin),
    Query("agg_metrics_summary", metricsSummary,
      s"""WITH wa AS ($wideSqlBody),
         |wb AS (${wideSqlBody.replace("FROM lineitem", "FROM lineitem WHERE l_linenumber <= 4")}),
         |ua AS (${meltSql("wa", "val_a")}),
         |ub AS (${meltSql("wb", "val_b")}),
         |dev AS (
         |  SELECT CASE WHEN val_a IS NOT DISTINCT FROM val_b THEN 'OK' ELSE 'DEVIATION' END AS status
         |  FROM ua FULL JOIN ub ON ua.metric = ub.metric)
         |SELECT CAST(sum(CASE WHEN status = 'OK' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
         |  CAST(sum(CASE WHEN status = 'DEVIATION' THEN 1 ELSE 0 END) AS BIGINT) AS n_deviation,
         |  CASE WHEN sum(CASE WHEN status = 'DEVIATION' THEN 1 ELSE 0 END) = 0
         |       THEN 'OK' ELSE 'DEVIATION' END AS overall
         |FROM dev""".stripMargin, sharesScanWith = Some("agg_metrics_deviation"))
  )
}
