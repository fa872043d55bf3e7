package graft

/** The plan gate in the test suite: [[tools.PlanAudit.gate]], the same
  * function `PlanAudit.main` runs, over every registered query at
  * sf0.001. An unreviewed hit, a reviewed entry that matched no hit
  * (stale), or a query that throws fails the suite; the failure message
  * names each query. */
class PlanGateSpec extends SparkSpec {
  test("every registered query passes the plan gate at sf0.001") {
    val result = tools.PlanAudit.gate(spark, sf())
    info(result.summary)
    assert(result.queries == SparkEntry.queries.size)
    assert(result.ok, result.summary)
  }
}
