package graft

/** Driver-contract smoke spec: `SparkEntry.entry` must return rows on the
  * sf0.001 fixtures, and every declared query must have an oracle (x33's
  * raw sketches are engine-specific, so its query emits exact values plus
  * in-query error-bound flags, which ARE oracle-able).
  */
class EntrySpec extends SparkSpec {

  test("entry (flagship corpus curation) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1)
  }

  test("every query has an oracle") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"query without oracle: $noOracle")
    val danglingOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(danglingOracle.isEmpty, s"oracle without query: $danglingOracle")
  }

  test("the catalog rejects a repeated name and a name two objects declare") {
    val c = sql.QueryCase((s, _) => s.emptyDataFrame, "SELECT 1")
    val repeated = intercept[IllegalArgumentException] {
      sql.QueryCase.catalog("x1_a" -> c, "x2_b" -> c, "x1_a" -> c)
    }
    assert(repeated.getMessage.contains("x1_a") &&
      !repeated.getMessage.contains("x2_b"), repeated.getMessage)
    val shared = intercept[IllegalArgumentException] {
      SparkEntry.merge(Map("q1_a" -> c), Map("q1_a" -> c, "x2_b" -> c))
    }
    assert(shared.getMessage.contains("q1_a") &&
      !shared.getMessage.contains("x2_b"), shared.getMessage)
  }
}
