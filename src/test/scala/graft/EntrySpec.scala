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

  test("a declared query computes its inputs in every evaluation " +
      "(x70 trains its BPE merges again)") {
    val sc = spark.sparkContext
    def jobsOf(group: String): Int = {
      def under(g: String)(body: => Unit): Unit = {
        sc.setJobGroup(g, g)
        try body finally sc.clearJobGroup()
      }
      under(group)(sql.ExtensionQueries.queries("x70_bpe_train")(
        spark, SparkSpec.testDataDir).collect())
      // status events arrive in order: once a later marker job shows,
      // every job of the group submitted before it shows too
      val marker = s"$group-marker"
      under(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(10)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val first = jobsOf("x70-first")
    val second = jobsOf("x70-second")
    assert(first > 1, s"x70 ran $first job(s): no training seen")
    assert(second >= first, s"x70 ran $first jobs, then $second: the " +
      "second evaluation reused what the first computed")
  }
}
