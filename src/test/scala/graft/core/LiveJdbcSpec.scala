package graft.core

import java.sql.DriverManager
import graft.SparkSpec
import graft.ops.Movement

/** End-to-end live migration against embedded Derby — the live-target
  * analog of MigrationJobSpec's parquet-lake run. Every stage runs for
  * real: DDL over JDBC, parallel JDBC load, post-load NOT NULL + PK +
  * FK import, predicate-parallel read-back validation — and the
  * imported constraints are shown to be ENFORCED by the live engine,
  * not just recorded.
  */
class LiveJdbcSpec extends SparkSpec {

  System.setProperty("derby.system.home", "/tmp")

  private val sfDir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "orders")

  test("live migration: DDL, load, key import and validation all succeed on Derby") {
    val url = "jdbc:derby:memory:graft_live;create=true"
    val cols = Catalog.readParquetColumns(spark, sfDir, "tpch", tables)
    // full fixture key set: keys for out-of-scope tables (lineitem,
    // supplier, part) and the FK to the unmigrated currency parent
    // must be scoped out by the executor, not by the caller
    val keys = Movement.fixtureKeyMeta
    val outcomes = LiveJdbc.execute(
      spark,
      url,
      cols,
      keys,
      (_, t) => spark.read.parquet(s"$sfDir/$t.parquet")
    )
    val errors = outcomes.filter(_.status.startsWith("ERROR"))
    assert(errors.isEmpty, s"live failures:\n${errors.mkString("\n")}")
    // all four tables loaded and validated deviation-free
    assert(outcomes.count(_.status == "loaded") == tables.size)
    assert(outcomes.count(_.status == "validated") == tables.size)
    // the out-of-scope FK parent was skipped, not attempted
    assert(outcomes.exists(o => o.status == "skipped" && o.stmt.contains("CURRENCY")))

    // live enforcement proof: re-inserting existing keys must violate
    // the imported PRIMARY KEY
    val conn = DriverManager.getConnection(url)
    try {
      val dup = intercept[java.sql.SQLException] {
        conn.createStatement().execute("INSERT INTO TPCH.REGION SELECT * FROM TPCH.REGION")
      }
      assert(dup.getSQLState.startsWith("23"), s"expected integrity violation, got ${dup.getSQLState}")
      // and an FK child without its parent must be rejected
      val orphan = intercept[java.sql.SQLException] {
        conn
          .createStatement()
          .execute("INSERT INTO TPCH.NATION (N_NATIONKEY, N_NAME, N_REGIONKEY) VALUES (999, 'NOWHERE', 12345)")
      }
      assert(orphan.getSQLState.startsWith("23"), s"expected FK violation, got ${orphan.getSQLState}")
    } finally conn.close()
  }

  /** Count enforced key constraints on the live target (Derby
    * catalog: P = primary key, F = foreign key).
    */
  private def liveConstraintCounts(url: String): (Int, Int) = {
    val conn = DriverManager.getConnection(url)
    try {
      def count(tpe: String): Int = {
        val rs = conn
          .createStatement()
          .executeQuery(s"SELECT COUNT(*) FROM SYS.SYSCONSTRAINTS WHERE TYPE = '$tpe'")
        rs.next(); rs.getInt(1)
      }
      (count("P"), count("F"))
    } finally conn.close()
  }

  test("constraint-state policies drive the live key import per key") {
    val cols = Catalog.readParquetColumns(spark, sfDir, "tpch", Seq("region", "nation"))
    val src = (_: String, t: String) => spark.read.parquet(s"$sfDir/$t.parquet")
    // region PK enabled at source; nation PK disabled; the nation→region
    // FK disabled — the per-key shape SET AS SOURCE must honor
    val keys = Seq(
      KeyColumnMeta("tpch", "region", "region_pk", KeyType.PrimaryKey, 1, "r_regionkey", enabled = true),
      KeyColumnMeta("tpch", "nation", "nation_pk", KeyType.PrimaryKey, 1, "n_nationkey", enabled = false),
      KeyColumnMeta("tpch", "nation", "nation_region_fk", KeyType.ForeignKey, 1, "n_regionkey",
        refSchema = Some("tpch"), refTable = Some("region"), enabled = false)
    )
    import graft.core.options.ConstraintState

    // FORCE DISABLE: no key reaches the engine; the policy is recorded
    val urlD = "jdbc:derby:memory:graft_live_fd;create=true"
    val outD = LiveJdbc.execute(spark, urlD, cols, keys, src, constraintState = ConstraintState.ForceDisable)
    assert(outD.count(o => o.status == "skipped" && o.stmt.contains("FORCE DISABLE")) == 3)
    assert(!outD.exists(o => o.stmt.contains("ADD CONSTRAINT")))
    assert(outD.count(_.status == "validated") == 2)
    assert(liveConstraintCounts(urlD) == ((0, 0)))

    // SET AS SOURCE: only the source-enabled region PK is created
    val urlS = "jdbc:derby:memory:graft_live_sas;create=true"
    val outS = LiveJdbc.execute(spark, urlS, cols, keys, src, constraintState = ConstraintState.SetAsSource)
    assert(outS.exists(o => o.stmt.contains("REGION_PK") && o.stmt.contains("PRIMARY KEY") && o.status == "applied"))
    assert(outS.exists(o => o.status == "skipped" && o.stmt.contains("PK NATION_PK skipped: disabled at source")))
    assert(outS.exists(o => o.status == "skipped" && o.stmt.contains("FK NATION_REGION_FK skipped: disabled at source")))
    // NOT NULL follows the PK's fate: only region's key column altered
    assert(outS.count(o => o.stmt.contains("NOT NULL") && o.status == "applied") == 1)
    assert(outS.count(_.status.startsWith("ERROR")) == 0)
    assert(liveConstraintCounts(urlS) == ((1, 0)))

    // FORCE ENABLE (the default): everything in scope is created live
    val urlE = "jdbc:derby:memory:graft_live_fe;create=true"
    val outE = LiveJdbc.execute(spark, urlE, cols, keys, src, constraintState = ConstraintState.ForceEnable)
    assert(outE.count(o => o.stmt.contains("ADD CONSTRAINT") && o.status == "applied") == 3)
    assert(liveConstraintCounts(urlE) == ((2, 1)))
  }

  test("concurrent stage results are keyed by position: duplicate planned rows each run once") {
    // two bit-identical load rows in one stage — hypothetical under
    // today's planner (constraint names are unique) but the runner
    // must not collapse them into one map key
    val dup = LiveJdbc.Planned(40, "s", "t", "LOAD S.T VIA PARALLEL JDBC WRITER", "load")
    val planned = Seq(dup, dup, LiveJdbc.Planned(40, "s", "u", "LOAD S.U VIA PARALLEL JDBC WRITER", "load"))
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = Par.staged(planned)(_.ord, LiveJdbc.runsConcurrently) { p =>
      LiveJdbc.Outcome(p.ord, p.sql, s"loaded#${calls.incrementAndGet()}")
    }
    // each planned row ran exactly once and reported its own outcome
    assert(calls.get() == 3)
    assert(out.size == 3)
    assert(out.map(_.status).distinct.size == 3)
    assert(out.count(_.stmt == dup.sql) == 2)
  }

  test("live key import surfaces real duplicate data and isolates the failure") {
    // The synthetic fixture's lineitem (l_orderkey, l_linenumber)
    // pairs are NOT unique (6000 rows, 4599 distinct pairs at
    // sf0.001) — exactly the situation where the dry-run path would
    // happily render an ADD PRIMARY KEY that can never hold. The live
    // loop must surface the violation from the engine AND keep every
    // other statement unaffected (per-statement outcome isolation,
    // the reference's post-load importer behavior).
    val url = "jdbc:derby:memory:graft_live_composite;create=true"
    val tabs = Seq("orders", "lineitem")
    val cols = Catalog.readParquetColumns(spark, sfDir, "tpch", tabs)
    val outcomes = LiveJdbc.execute(
      spark,
      url,
      cols,
      Movement.fixtureKeyMeta,
      (_, t) => spark.read.parquet(s"$sfDir/$t.parquet")
    )
    // the composite PK attempt fails honestly with the engine's
    // duplicate-key diagnosis...
    val pkFail = outcomes.filter(o => o.stmt.contains("PRIMARY KEY (L_ORDERKEY,L_LINENUMBER)"))
    assert(pkFail.length == 1 && pkFail.head.status.startsWith("ERROR") && pkFail.head.status.contains("duplicate key"))
    // ...while every other stage is untouched: loads, the orders PK,
    // the in-scope FK, the out-of-scope skips, and validation
    assert(outcomes.count(_.status == "loaded") == 2)
    assert(outcomes.exists(o => o.stmt.contains("PRIMARY KEY (O_ORDERKEY)") && o.status == "applied"))
    assert(outcomes.exists(o => o.stmt.contains("LINEITEM_ORDERS_FK") && o.status == "applied"))
    assert(outcomes.count(o => o.status == "skipped" && o.stmt.contains("not in scope")) == 4) // part, supplier, currency, customer
    assert(outcomes.count(_.status == "validated") == 2)
    // and the only error in the whole run is that one PK statement
    assert(outcomes.count(_.status.startsWith("ERROR")) == 1)
  }
}
