package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry integrity: the driver grades exclusively through
  * SparkEntry, so collisions or dangling oracles must fail fast here.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("no query-name collisions across operator modules") {
    // `Query.index` refuses a name registered twice, so building
    // SparkEntry's registry from every module's records checks them all
    val q = Query("dup_name", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Query.index(Seq(q, Query("other", q.run, "SELECT 2"), q.copy(oracle = "SELECT 3")))
    )
    assert(e.getMessage.endsWith(": dup_name"), e.getMessage)
    assert(SparkEntry.registry.nonEmpty)
  }

  test("a query subset naming an unregistered query fails and lists it") {
    assert(SparkEntry.select(Some(Set("revenue_nation"))) == Seq("revenue_nation"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some(Set("revenue_nation", "revenue_natoin")))
    )
    assert(e.getMessage.endsWith(": revenue_natoin"), e.getMessage)
    assert(SparkEntry.select(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("every oracle refers to a registered query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("oracle coverage is total — every registered query has an oracle") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracles: $noOracle")
  }
}
