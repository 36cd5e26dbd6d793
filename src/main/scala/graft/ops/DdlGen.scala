package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query

/** DDL / metadata generators (SURVEY.md §2.C): CREATE SCHEMA / CREATE
  * TABLE / ADD PRIMARY KEY / ADD FOREIGN KEY statement streams built as
  * sort-within-group text aggregation over column metadata — the exact
  * operator shape of the reference's generators
  * (postgresql_to_exasol.sql:369-383: `group_concat(... order by
  * ordinal)`), re-expressed as
  * `groupBy(...).agg(concat_ws(transform(sort_array(collect_list(struct(ord, def))))))`.
  *
  * Identifiers are upper-folded (IDENTIFIER_CASE_INSENSITIVE policy,
  * postgresql_to_exasol.sql:62-69) and double-quoted. Metadata is tiny
  * relative to data, so these run as a single narrow shuffle; the
  * pattern scales to catalogs of millions of columns.
  */
object DdlGen {

  private def qIdent(c: Column): Column = concat(lit("\""), upper(c), lit("\""))

  /** Per-column definition text: `"NAME" TYPE [DEFAULT x] [NOT NULL]`. */
  private def colDef: Column =
    concat(
      qIdent(col("col_name")),
      lit(" "),
      col("type_name"),
      when(col("col_default").isNotNull, concat(lit(" DEFAULT "), col("col_default")))
        .otherwise(lit("")),
      when(!col("is_nullable"), lit(" NOT NULL")).otherwise(lit(""))
    )

  /** Ordered within-group concatenation: collect (ord, txt) structs,
    * sort by ord, project txt, join with the separator.
    */
  private def orderedConcat(ord: Column, txt: Column, sep: String): Column =
    concat_ws(
      sep,
      transform(array_sort(collect_list(struct(ord.as("o"), txt.as("t")))), x => x.getField("t"))
    )

  /** CREATE TABLE statements from a column-metadata DataFrame
    * (schema_name, table_name, ordinal, col_name, type_name,
    * is_nullable, col_default). Reference: postgresql_to_exasol.sql:380-383.
    */
  def createTableStmts(cols: DataFrame): DataFrame =
    cols
      .groupBy(col("schema_name"), col("table_name"))
      .agg(orderedConcat(col("ordinal"), colDef, ", ").as("cols_txt"))
      .select(
        col("schema_name"),
        col("table_name"),
        concat(
          lit("CREATE TABLE "),
          qIdent(col("schema_name")),
          lit("."),
          qIdent(col("table_name")),
          lit(" ("),
          col("cols_txt"),
          lit(");")
        ).as("stmt")
      )

  /** CREATE SCHEMA statements (distinct — postgresql_to_exasol.sql:379). */
  def createSchemaStmts(cols: DataFrame): DataFrame =
    cols
      .select(col("schema_name"))
      .distinct()
      .select(
        col("schema_name"),
        concat(lit("CREATE SCHEMA IF NOT EXISTS "), qIdent(col("schema_name")), lit(";")).as("stmt")
      )

  /** ADD PRIMARY KEY — composite columns in key order, created
    * DISABLE(d) for order-independent fast loads
    * (postgresql_to_exasol.sql:369-373).
    */
  def primaryKeyStmts(keys: DataFrame): DataFrame =
    keys
      .filter(col("kind") === "P")
      .groupBy(col("schema_name"), col("table_name"), col("constraint_name"))
      .agg(orderedConcat(col("position"), qIdent(col("col_name")), ",").as("key_cols"))
      .select(
        col("schema_name"),
        col("table_name"),
        concat(
          lit("ALTER TABLE "),
          qIdent(col("schema_name")),
          lit("."),
          qIdent(col("table_name")),
          lit(" ADD CONSTRAINT "),
          qIdent(col("constraint_name")),
          lit(" PRIMARY KEY ("),
          col("key_cols"),
          lit(") DISABLE;")
        ).as("stmt")
      )

  /** ADD FOREIGN KEY with the out-of-scope-parent skip: an FK whose
    * referenced table is not part of the migrated set is dropped via a
    * semi-join against the table list (the reference's `exists`
    * guard, postgresql_to_exasol.sql:374-378).
    */
  def foreignKeyStmts(keys: DataFrame, cols: DataFrame): DataFrame = {
    val migrated = cols.select(col("schema_name").as("m_schema"), col("table_name").as("m_table")).distinct()
    keys
      .filter(col("kind") === "F")
      .join(
        migrated,
        col("ref_schema") === col("m_schema") && col("ref_table") === col("m_table"),
        "left_semi"
      )
      .groupBy(
        col("schema_name"),
        col("table_name"),
        col("constraint_name"),
        col("ref_schema"),
        col("ref_table")
      )
      .agg(orderedConcat(col("position"), qIdent(col("col_name")), ",").as("key_cols"))
      .select(
        col("schema_name"),
        col("table_name"),
        concat(
          lit("ALTER TABLE "),
          qIdent(col("schema_name")),
          lit("."),
          qIdent(col("table_name")),
          lit(" ADD CONSTRAINT "),
          qIdent(col("constraint_name")),
          lit(" FOREIGN KEY ("),
          col("key_cols"),
          lit(") REFERENCES "),
          qIdent(col("ref_schema")),
          lit("."),
          qIdent(col("ref_table")),
          lit(" DISABLE;")
        ).as("stmt")
      )
  }

  /** COMMENT ON TABLE / COLUMN with quote-doubled comment text
    * (postgresql_to_exasol.sql:253-262).
    */
  def commentStmts(comments: DataFrame): DataFrame =
    comments.select(
      col("schema_name"),
      col("table_name"),
      when(
        col("col_name").isNull,
        concat(
          lit("COMMENT ON TABLE "),
          qIdent(col("schema_name")),
          lit("."),
          qIdent(col("table_name")),
          lit(" IS '"),
          expr("replace(comment, '''', '''''')"),
          lit("';")
        )
      ).otherwise(
        concat(
          lit("COMMENT ON COLUMN "),
          qIdent(col("schema_name")),
          lit("."),
          qIdent(col("table_name")),
          lit("."),
          qIdent(col("col_name")),
          lit(" IS '"),
          expr("replace(comment, '''', '''''')"),
          lit("';")
        )
      ).as("stmt")
    )

  /** Best-effort single-column PARTITION BY
    * (postgresql_to_exasol.sql:273-288 — multi-column defs fall back
    * to a commented review note there; the fixture metadata carries
    * only the supported single-column form).
    */
  def partitionStmts(extras: DataFrame): DataFrame =
    extras
      .filter(col("partition_col").isNotNull)
      .select(
        col("schema_name"),
        col("table_name"),
        concat(
          lit("ALTER TABLE "),
          qIdent(col("schema_name")),
          lit("."),
          qIdent(col("table_name")),
          lit(" PARTITION BY ("),
          qIdent(col("partition_col")),
          lit(");")
        ).as("stmt")
      )

  /** DISTRIBUTE BY from the source distribution key, order preserved
    * (db2_to_exasol.sql:221-229; Spark-side execution analog:
    * `repartition(cols)` / bucketBy on write).
    */
  def distributeStmts(extras: DataFrame): DataFrame =
    extras
      .filter(col("dist_cols").isNotNull)
      .select(
        col("schema_name"),
        col("table_name"),
        concat(
          lit("ALTER TABLE "),
          qIdent(col("schema_name")),
          lit("."),
          qIdent(col("table_name")),
          lit(" DISTRIBUTE BY ("),
          expr("""concat_ws(',', transform(split(dist_cols, ','), x -> concat('"', upper(x), '"')))"""),
          lit(");")
        ).as("stmt")
      )

  /** VIEW review section (ord 90): source view definitions emitted as
    * commented CREATE VIEW statements for manual review — cross-dialect
    * SQL translation stays out of scope exactly as in the reference
    * (postgresql_to_exasol.sql:264-271; the Exasol→Exasol script emits
    * them runnable, exasol_to_exasol.sql:94-109).
    */
  def viewReviewStmts(views: DataFrame): DataFrame =
    views.select(
      col("schema_name"),
      col("view_name"),
      concat(
        lit("-- REVIEW: CREATE OR REPLACE FORCE VIEW "),
        qIdent(col("schema_name")),
        lit("."),
        qIdent(col("view_name")),
        lit(" AS "),
        col("definition"),
        lit(";")
      ).as("stmt")
    )

  /** Normalize a source view definition into a runnable
    * `CREATE OR REPLACE FORCE VIEW` with a canonical quoted header —
    * the Exasol→Exasol regex normalization
    * (exasol_to_exasol.sql:94-109): whatever header form the source
    * stored (`CREATE VIEW x`, `CREATE OR REPLACE VIEW "s"."x" AS`,
    * bare SELECT), the emitted statement is canonical.
    */
  def normalizeViewDefinition(schema: String, view: String, definition: String): String = {
    val headerRe =
      "(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:FORCE\\s+)?VIEW\\s+[^\\s]+\\s+AS\\s+".r
    val body = headerRe.replaceFirstIn(definition.trim, "")
    s"""CREATE OR REPLACE FORCE VIEW "${schema.toUpperCase}"."${view.toUpperCase}" AS $body;"""
  }

  /** The ordered statement stream: UNION ALL of the sections with the
    * reference's fixed ord numbers, globally sorted (ord, stmt) —
    * postgresql_to_exasol.sql:388-403.
    */
  def statementStream(cols: DataFrame, keys: DataFrame): DataFrame = {
    val s2 = createSchemaStmts(cols).select(lit(2).as("ord"), col("stmt"))
    val s4 = createTableStmts(cols).select(lit(4).as("ord"), col("stmt"))
    val s6 = primaryKeyStmts(keys).select(lit(6).as("ord"), col("stmt"))
    val s8 = foreignKeyStmts(keys, cols).select(lit(8).as("ord"), col("stmt"))
    s2.unionByName(s4).unionByName(s6).unionByName(s8).orderBy("ord", "stmt")
  }

  /** Full stream incl. distribution (ord 35), partition (38), comments
    * (42) — the complete section layout of §0.
    */
  def fullStatementStream(
      cols: DataFrame,
      keys: DataFrame,
      comments: DataFrame,
      extras: DataFrame
  ): DataFrame = {
    val base = Seq(
      createSchemaStmts(cols).select(lit(2).as("ord"), col("stmt")),
      createTableStmts(cols).select(lit(4).as("ord"), col("stmt")),
      primaryKeyStmts(keys).select(lit(6).as("ord"), col("stmt")),
      foreignKeyStmts(keys, cols).select(lit(8).as("ord"), col("stmt")),
      distributeStmts(extras).select(lit(35).as("ord"), col("stmt")),
      partitionStmts(extras).select(lit(38).as("ord"), col("stmt")),
      commentStmts(comments).select(lit(42).as("ord"), col("stmt"))
    )
    base.reduce(_ unionByName _).orderBy("ord", "stmt")
  }

  private val colDefSql =
    """'"' || upper(col_name) || '" ' || type_name ||
      |  CASE WHEN col_default IS NOT NULL THEN ' DEFAULT ' || col_default ELSE '' END ||
      |  CASE WHEN NOT is_nullable THEN ' NOT NULL' ELSE '' END""".stripMargin

  private def createTableSql: String =
    s"""SELECT schema_name, table_name,
       |  'CREATE TABLE "' || upper(schema_name) || '"."' || upper(table_name) || '" (' ||
       |  string_agg($colDefSql, ', ' ORDER BY ordinal) || ');' AS stmt
       |FROM ${FixtureCatalog.columnsValuesSql}
       |GROUP BY schema_name, table_name""".stripMargin

  private def createSchemaSql: String =
    s"""SELECT schema_name,
       |  'CREATE SCHEMA IF NOT EXISTS "' || upper(schema_name) || '";' AS stmt
       |FROM (SELECT DISTINCT schema_name FROM ${FixtureCatalog.columnsValuesSql})""".stripMargin

  private def primaryKeySql: String =
    s"""SELECT schema_name, table_name,
       |  'ALTER TABLE "' || upper(schema_name) || '"."' || upper(table_name) ||
       |  '" ADD CONSTRAINT "' || upper(constraint_name) || '" PRIMARY KEY (' ||
       |  string_agg('"' || upper(col_name) || '"', ',' ORDER BY position) || ') DISABLE;' AS stmt
       |FROM ${FixtureCatalog.keysValuesSql}
       |WHERE kind = 'P'
       |GROUP BY schema_name, table_name, constraint_name""".stripMargin

  private def foreignKeySql: String =
    s"""SELECT schema_name, table_name,
       |  'ALTER TABLE "' || upper(schema_name) || '"."' || upper(table_name) ||
       |  '" ADD CONSTRAINT "' || upper(constraint_name) || '" FOREIGN KEY (' ||
       |  string_agg('"' || upper(col_name) || '"', ',' ORDER BY position) ||
       |  ') REFERENCES "' || upper(ref_schema) || '"."' || upper(ref_table) || '" DISABLE;' AS stmt
       |FROM ${FixtureCatalog.keysValuesSql}
       |WHERE kind = 'F' AND EXISTS (
       |  SELECT 1 FROM ${FixtureCatalog.columnsValuesSql}
       |  WHERE cols.schema_name = keys.ref_schema AND cols.table_name = keys.ref_table)
       |GROUP BY schema_name, table_name, constraint_name, ref_schema, ref_table""".stripMargin

  lazy val registry: Seq[Query] = Seq(
    Query("ddl_create_table",
      (s, _) => createTableStmts(FixtureCatalog.columnsDf(s)).orderBy("schema_name", "table_name"),
      s"""SELECT * FROM ($createTableSql) ORDER BY schema_name, table_name"""),
    Query("ddl_primary_keys",
      (s, _) =>
        primaryKeyStmts(FixtureCatalog.keysDf(s))
          .select("schema_name", "table_name", "stmt")
          .orderBy("schema_name", "table_name"),
      s"""SELECT * FROM ($primaryKeySql) ORDER BY schema_name, table_name"""),
    Query("ddl_foreign_keys",
      (s, _) =>
        foreignKeyStmts(FixtureCatalog.keysDf(s), FixtureCatalog.columnsDf(s))
          .select("schema_name", "table_name", "stmt")
          .orderBy("schema_name", "table_name", "stmt"),
      s"""SELECT * FROM ($foreignKeySql) ORDER BY schema_name, table_name, stmt"""),
    Query("ddl_statement_stream",
      (s, _) => statementStream(FixtureCatalog.columnsDf(s), FixtureCatalog.keysDf(s)),
      s"""SELECT ord, stmt FROM (
         |  SELECT 2 AS ord, stmt FROM ($createSchemaSql)
         |  UNION ALL SELECT 4 AS ord, stmt FROM ($createTableSql)
         |  UNION ALL SELECT 6 AS ord, stmt FROM ($primaryKeySql)
         |  UNION ALL SELECT 8 AS ord, stmt FROM ($foreignKeySql)
         |) ORDER BY ord, stmt""".stripMargin),
    Query("ddl_comments",
      (s, _) => commentStmts(FixtureCatalog.commentsDf(s)).orderBy("schema_name", "table_name", "stmt"),
      s"""SELECT schema_name, table_name,
         |  CASE WHEN col_name IS NULL THEN
         |    'COMMENT ON TABLE "' || upper(schema_name) || '"."' || upper(table_name) ||
         |    '" IS ''' || replace(comment, '''', '''''') || ''';'
         |  ELSE
         |    'COMMENT ON COLUMN "' || upper(schema_name) || '"."' || upper(table_name) ||
         |    '"."' || upper(col_name) || '" IS ''' || replace(comment, '''', '''''') || ''';'
         |  END AS stmt
         |FROM ${FixtureCatalog.commentsValuesSql}
         |ORDER BY schema_name, table_name, stmt""".stripMargin),
    Query("ddl_partition_distribute",
      (s, _) =>
        distributeStmts(FixtureCatalog.extrasDf(s))
          .select(lit(35).as("ord"), col("stmt"))
          .unionByName(partitionStmts(FixtureCatalog.extrasDf(s)).select(lit(38).as("ord"), col("stmt")))
          .orderBy("ord", "stmt"),
      s"""SELECT ord, stmt FROM (
         |  SELECT 35 AS ord,
         |    'ALTER TABLE "' || upper(schema_name) || '"."' || upper(table_name) ||
         |    '" DISTRIBUTE BY (' ||
         |    array_to_string(list_transform(string_split(dist_cols, ','), x -> '"' || upper(x) || '"'), ',') ||
         |    ');' AS stmt
         |  FROM ${FixtureCatalog.extrasValuesSql} WHERE dist_cols IS NOT NULL
         |  UNION ALL
         |  SELECT 38 AS ord,
         |    'ALTER TABLE "' || upper(schema_name) || '"."' || upper(table_name) ||
         |    '" PARTITION BY ("' || upper(partition_col) || '");' AS stmt
         |  FROM ${FixtureCatalog.extrasValuesSql} WHERE partition_col IS NOT NULL
         |) ORDER BY ord, stmt""".stripMargin),
    Query("ddl_view_review",
      (s, _) => viewReviewStmts(FixtureCatalog.viewsDf(s)).orderBy("schema_name", "view_name"),
      s"""SELECT schema_name, view_name,
         |  '-- REVIEW: CREATE OR REPLACE FORCE VIEW "' || upper(schema_name) || '"."' ||
         |  upper(view_name) || '" AS ' || definition || ';' AS stmt
         |FROM ${FixtureCatalog.viewsValuesSql}
         |ORDER BY schema_name, view_name""".stripMargin)
  )
}
