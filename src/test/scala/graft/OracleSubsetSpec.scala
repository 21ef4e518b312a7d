package graft

/** Verify's subset mode builds only the oracles it names: the
  * data-dependent generators (PCA/OPQ bases, hybrid legs, the isotonic
  * fit) run Spark work over the data dir, and a subset that names none of
  * them must not pay for — or even need — that data.
  */
class OracleSubsetSpec extends SparkSpec {

  test("a subset naming no data-dependent query builds without reading the data dir") {
    val got = SparkEntry.oracleSqlFor(spark, "/nonexistent/graft-sf", Set("q1_agg"))
    assert(got === Map("q1_agg" -> SparkEntry.oracleSql("q1_agg")))
  }

  test("a named data-dependent oracle is generated, and only that one") {
    val got = SparkEntry.oracleSqlFor(spark, "/root/testdata/sf0.001",
      Set("q1_agg", "text_quality_isotonic"))
    assert(got.keySet === Set("q1_agg", "text_quality_isotonic"))
    assert(got("text_quality_isotonic") ===
      graft.oracle.TextOps.isotonicOracleSql(spark, "/root/testdata/sf0.001"))
  }
}
