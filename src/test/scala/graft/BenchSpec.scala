package graft

/** The suite runner's job and stage attribution ([[Bench.ExecTally]]):
  * jobs count toward the query named by the local property they start
  * under, and the records are read after a marker job, not a sleep.
  */
class BenchSpec extends SparkSpec {

  test("ExecTally gives each tagged block its own jobs and stages, drained by a marker job") {
    val sc = spark.sparkContext
    val exec = new Bench.ExecTally
    sc.addSparkListener(exec)
    val r = try {
      exec.tagged(sc, "one")(sc.parallelize(1 to 10, 2).count())
      exec.tagged(sc, "two") {
        sc.parallelize(1 to 10, 2).count()
        // a shuffle: a 3-task map stage and a 3-task result stage
        sc.parallelize(1 to 10, 3).map(i => (i % 2, i)).reduceByKey(_ + _).count()
      }
      sc.parallelize(1 to 4, 1).count() // untagged: counted nowhere
      assert(exec.drain(sc), "the listener never saw the marker job")
      exec.records
    } finally sc.removeSparkListener(exec)
    assert(r.keySet == Set("one", "two"))
    assert((r("one").jobs, r("one").stages, r("one").tasks) == ((1, 1, 2)))
    assert((r("two").jobs, r("two").stages, r("two").tasks) == ((2, 3, 8)))
    assert(r("one").shuffleWriteBytes == 0L && r("two").shuffleWriteBytes > 0L)
    assert(r("one").slowest.size == 1 && r("two").slowest.size == 3)
    val two = r("two").slowest
    assert(two.map(_.ms) == two.map(_.ms).sorted.reverse, "slowest first")
    assert(two.forall(_.where.contains("BenchSpec.scala")), two.map(_.where))
  }
}
