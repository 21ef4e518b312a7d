package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one query-list parser the mains share (Bench's SPARK_GRAFT_ONLY,
  * Verify's subset argument, StreamProf, PlanDump).
  */
class QueryNamesSpec extends AnyFunSuite {

  test("blank tokens are dropped; order is kept and duplicates removed") {
    assert(SparkEntry.queryNames(" q1_agg, ,sim_pq_recall,,q1_agg , ") ==
      Seq("q1_agg", "sim_pq_recall"))
  }

  test("an empty or all-blank list means every query") {
    assert(SparkEntry.queryNames("").isEmpty)
    assert(SparkEntry.queryNames(" , ,").isEmpty)
  }

  test("a name matching no registered query fails fast, naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.queryNames("q1_agg,q1_aggg,no_such_query"))
    assert(e.getMessage.contains("no_such_query, q1_aggg"), e.getMessage)
  }
}
