package graft.core

import java.sql.DriverManager
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Live-target execution loop: runs a migration end to end against a
  * real JDBC database — DDL and constraint statements executed over a
  * live connection, bulk loads through Spark's partition-parallel JDBC
  * writer, and validation by reading the target back over JDBC with
  * key-modulus partition predicates (the partition-parallel transport
  * of SURVEY.md §2.D #44 exercised against a live target).
  *
  * This closes the reference's post-load importer contract
  * (post_load_optimization/set_primary_keys.sql:15-258): after the
  * load, key columns are ALTERed NOT NULL, then PRIMARY KEY and
  * FOREIGN KEY constraints are created live, parent-in-scope rules
  * included — not merely rendered as reviewable text the way
  * PlanBuilder does for the dry-run path.
  *
  * The in-process target used by the test suite is embedded Derby
  * (already on the Spark classpath); [[liveType]] clamps types to the
  * live target's ceilings (VARCHAR ≤ 32672, DECIMAL precision ≤ 31)
  * the way each reference dialect clamps to its target's limits.
  */
object LiveJdbc {

  final case class Outcome(ord: Int, stmt: String, status: String)

  /** One planned live action: `kind` drives how execute() runs it
    * (ddl → statement over the connection, load → Spark JDBC writer,
    * validate → parallel read-back compare, skip → recorded only).
    */
  final case class Planned(ord: Int, schema: String, table: String, sql: String, kind: String)

  /** The status a successful run reports per kind — letting the
    * planned stream double as a golden oracle for the live loop.
    */
  def expectedStatus(kind: String): String = kind match {
    case "ddl" => "applied"
    case "load" => "loaded"
    case "validate" => "validated"
    case _ => "skipped"
  }

  /** Unquoted uppercase identifier — the live target folds case. */
  private def ident(s: String): String = s.toUpperCase

  /** Live-target type for a catalog column (Derby-safe clamps). */
  def liveType(c: ColumnMeta): String = c.typeName match {
    case "tinyint" | "smallint" => "SMALLINT"
    case "integer" => "INTEGER"
    case "bigint" => "BIGINT"
    case "real" => "REAL"
    case "double" => "DOUBLE"
    case "boolean" => "BOOLEAN"
    case "decimal" =>
      s"DECIMAL(${math.min(c.precision.getOrElse(18), 31)},${c.scale.getOrElse(0)})"
    case "varchar" => s"VARCHAR(${math.min(c.charLength.getOrElse(255), 32672)})"
    case "binary" => "BLOB"
    case "date" => "DATE"
    case t if t.startsWith("timestamp") => "TIMESTAMP"
    case _ => "VARCHAR(32672)"
  }

  /** Pure statement planner for the live loop — the ordered stream of
    * actions execute() will run: CREATE SCHEMA/TABLE (10/20), loads
    * (40), post-load NOT NULL + PK + FK import (50/55/60 — the
    * reference's set_primary_keys contract), predicate-parallel
    * read-back validation (70). Key scope rules mirror PlanBuilder:
    * keys apply only to migrated tables, FKs only when the parent is
    * in scope (skips become `skip` rows, not errors). Being pure, the
    * planned stream doubles as the golden oracle for the live run.
    *
    * `constraintState` maps PlanBuilder's CONSTRAINT STATE policies
    * onto a live target WITHOUT enable/disable support (Derby, like
    * many engines, cannot hold an unenforced constraint — the dry-run
    * path renders `ADD ... DISABLE` + MODIFY epilogues instead):
    * ForceEnable creates every in-scope key enforced; ForceDisable
    * creates none (each becomes a `skip` row recording the policy);
    * SetAsSource creates exactly the source-enabled keys and skips
    * the source-disabled ones per constraint. NOT NULL imports follow
    * their PK's fate — they exist to make the PK creatable.
    */
  def plan(
      columns: Seq[ColumnMeta],
      keys: Seq[KeyColumnMeta],
      constraintState: options.ConstraintState = options.ConstraintState.ForceEnable
  ): Seq[Planned] = {
    import options.ConstraintState
    val byTable = columns.groupBy(c => (c.schema, c.table)).toSeq.sortBy(_._1)
    val migrated = byTable.map(_._1).toSet

    val schemas = byTable.map(_._1._1).distinct.sorted.map { s =>
      Planned(10, s, "", s"CREATE SCHEMA ${ident(s)}", "ddl")
    }

    val tables = byTable.map { case ((s, t), cols) =>
      val defs = cols.sortBy(_.ordinal).map(c => s"${ident(c.name)} ${liveType(c)}").mkString(", ")
      Planned(20, s, t, s"CREATE TABLE ${ident(s)}.${ident(t)} ($defs)", "ddl")
    }

    val loads = byTable.map { case ((s, t), _) =>
      Planned(40, s, t, s"LOAD ${ident(s)}.${ident(t)} VIA PARALLEL JDBC WRITER", "load")
    }

    // per-constraint creation verdict under the policy: None = create
    // enforced, Some(reason) = record a skip row instead
    def policySkip(kind: String, cn: String, sourceEnabled: Boolean): Option[String] =
      constraintState match {
        case ConstraintState.ForceEnable => None
        case ConstraintState.ForceDisable =>
          Some(s"$kind ${ident(cn)} skipped: FORCE DISABLE and live target cannot hold unenforced constraints")
        case ConstraintState.SetAsSource =>
          if (sourceEnabled) None
          else Some(s"$kind ${ident(cn)} skipped: disabled at source (SET AS SOURCE)")
      }

    val pkGroups = keys
      .filter(k => k.keyType == KeyType.PrimaryKey && migrated((k.schema, k.table)))
      .groupBy(k => (k.schema, k.table, k.constraintName))
      .toSeq
      .sortBy(_._1)
      .map { case (g, ks) => (g, ks, policySkip("PK", g._3, ks.exists(_.enabled))) }

    val notNulls = pkGroups
      .collect { case (_, ks, None) => ks }
      .flatten
      .sortBy(k => (k.schema, k.table, k.position))
      .map { k =>
        Planned(
          50,
          k.schema,
          k.table,
          s"ALTER TABLE ${ident(k.schema)}.${ident(k.table)} ALTER COLUMN ${ident(k.column)} NOT NULL",
          "ddl"
        )
      }

    val pkAdds = pkGroups.map {
      case ((s, t, cn), ks, None) =>
        val cols = ks.sortBy(_.position).map(k => ident(k.column)).mkString(",")
        Planned(55, s, t, s"ALTER TABLE ${ident(s)}.${ident(t)} ADD CONSTRAINT ${ident(cn)} PRIMARY KEY ($cols)", "ddl")
      case ((s, t, _), _, Some(reason)) =>
        Planned(55, s, t, reason, "skip")
    }

    val fkAdds = keys
      .filter(k => k.keyType == KeyType.ForeignKey && migrated((k.schema, k.table)))
      .groupBy(k => (k.schema, k.table, k.constraintName))
      .toSeq
      .sortBy(_._1)
      .flatMap { case ((s, t, cn), ks) =>
        val parent = for { rs <- ks.head.refSchema; rt <- ks.head.refTable } yield (rs, rt)
        parent match {
          case Some((rs, rt)) if migrated((rs, rt)) =>
            policySkip("FK", cn, ks.exists(_.enabled)) match {
              case None =>
                val cols = ks.sortBy(_.position).map(k => ident(k.column)).mkString(",")
                Some(
                  Planned(
                    60,
                    s,
                    t,
                    s"ALTER TABLE ${ident(s)}.${ident(t)} ADD CONSTRAINT ${ident(cn)} FOREIGN KEY ($cols) REFERENCES ${ident(rs)}.${ident(rt)}",
                    "ddl"
                  )
                )
              case Some(reason) => Some(Planned(60, s, t, reason, "skip"))
            }
          case Some((rs, rt)) =>
            Some(Planned(60, s, t, s"FK ${ident(cn)} skipped: parent ${ident(rs)}.${ident(rt)} not in scope", "skip"))
          case None => None
        }
      }

    val validates = byTable.map { case ((s, t), _) =>
      Planned(70, s, t, s"VALIDATE ${ident(s)}.${ident(t)} USING WIDE_METRICS OVER PARALLEL JDBC READ", "validate")
    }

    schemas ++ tables ++ loads ++ notNulls ++ pkAdds ++ fkAdds ++ validates
  }

  /** Execute the planned live migration against the target at `url`.
    * DDL runs over a live connection; loads go through Spark's
    * partition-parallel JDBC writer; validation reads the target back
    * with key-modulus partition predicates (the reader-side half of
    * the parallel transport) and compares wide metrics against the
    * source.
    */
  def execute(
      spark: SparkSession,
      url: String,
      columns: Seq[ColumnMeta],
      keys: Seq[KeyColumnMeta],
      sourceTable: (String, String) => DataFrame,
      readParallelism: Int = 4,
      writeParallelism: Int = 8,
      constraintState: options.ConstraintState = options.ConstraintState.ForceEnable
  ): Seq[Outcome] = {
    // keep the embedded target's log file out of the working directory
    if (sys.props.get("derby.system.home").isEmpty) System.setProperty("derby.system.home", "/tmp")
    val props = new java.util.Properties()
    val conn = DriverManager.getConnection(url)
    try {
      def runOne(p: Planned): Outcome =
        try {
          p.kind match {
            case "ddl" =>
              val st = conn.createStatement()
              try st.execute(p.sql)
              finally st.close()
              Outcome(p.ord, p.sql, "applied")
            case "load" =>
              // writer parallelism = number of source partitions; cap
              // it so an embedded/single-node target is not thrashed
              // by table-lock contention (a real MPP target raises
              // the cap, not the code)
              val src = sourceTable(p.schema, p.table)
              val bounded = if (src.rdd.getNumPartitions > writeParallelism) src.coalesce(writeParallelism) else src
              bounded.write
                .mode("append")
                .option("batchsize", "10000") // default 1000: 10× fewer round-trips per partition
                .jdbc(url, s"${ident(p.schema)}.${ident(p.table)}", props)
              Outcome(p.ord, p.sql, "loaded")
            case "validate" =>
              val pk = keys
                .filter(k => k.keyType == KeyType.PrimaryKey && k.schema == p.schema && k.table == p.table)
                .sortBy(_.position)
                .headOption
              val target = pk match {
                case Some(k) =>
                  // CAST: the key may be DECIMAL-typed and the live
                  // target's MOD is integer-only
                  val preds = (0 until readParallelism)
                    .map(i => s"MOD(CAST(${ident(k.column)} AS BIGINT), $readParallelism) = $i")
                    .toArray
                  spark.read.jdbc(url, s"${ident(p.schema)}.${ident(p.table)}", preds, props)
                case None => spark.read.jdbc(url, s"${ident(p.schema)}.${ident(p.table)}", props)
              }
              // live read-back folds names to upper case; restore the
              // source names so the metric compiler lines up
              val src = sourceTable(p.schema, p.table)
              val renamed = src.columns.foldLeft(target)((df, c) => df.withColumnRenamed(c.toUpperCase, c))
              val dev = ActionRunner.validate(src, renamed)
              Outcome(p.ord, p.sql, if (dev == 0) "validated" else s"DEVIATIONS: $dev")
            case _ =>
              Outcome(p.ord, p.sql, "skipped")
          }
        } catch { case e: Exception => Outcome(p.ord, p.sql, ActionRunner.errorStatus(e)) }

      // stage barrier per ordinal (loads before key import before
      // validation); within a stage the per-table loads and validates
      // run concurrently — each uses its own JDBC connections via the
      // Spark writer/reader, only DDL shares the live connection and
      // stays serial. Against a real MPP target this is the per-table
      // parallelism the reference's import loop has; against embedded
      // Derby it overlaps Spark job scheduling with target I/O.
      Par.staged(plan(columns, keys, constraintState))(_.ord, runsConcurrently)(runOne)
    } finally conn.close()
  }

  /** The planned kinds [[execute]] runs concurrently within a stage. */
  private[core] def runsConcurrently(p: Planned): Boolean = p.kind == "load" || p.kind == "validate"
}
