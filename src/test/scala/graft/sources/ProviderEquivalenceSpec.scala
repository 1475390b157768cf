package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister

import graft.SparkSpec

/** Four-way pushdown equivalence: for every filter shape the engine can
  * push (ranges, `=`, `IN`, OR-of-requests, AND compositions,
  * contradictions), the three chain providers — synthetic
  * ([[ChainSource]]), file-backed ([[ParquetChainSource]]) and remote wire
  * ([[WireChainSource]]) — must return EXACTLY the rows plain Spark over
  * the same parquet returns when IT applies the predicate. The plain
  * parquet path is the ground truth because its filtering is Catalyst's,
  * not ours: any disagreement is a pushdown bug in the provider plane
  * (over- OR under-matching), the class of bug that silently corrupts
  * downstream results at scale.
  */
class ProviderEquivalenceSpec extends SparkSpec {

  private lazy val dir: String =
    ChainFixture.logsDir(spark, "graft-equiv", 200L)

  private lazy val server: WireFixtureServer = {
    val rows = spark.read.parquet(s"$dir/logs")
      .select(ChainSource.logsSchema.fieldNames.map(col): _*)
      .collect().map(_.toSeq.toArray).toIndexedSeq
    val s = new WireFixtureServer(ChainSource.logsSchema, rows,
      "block_number", pageBlocks = 61, height = 200)
    s.start()
    s
  }

  private def plain: DataFrame = spark.read.parquet(s"$dir/logs")
  private def synthetic: DataFrame =
    spark.read.format(classOf[ChainSource].getName)
      .option("fromBlock", "0").option("toBlock", "200")
      .option("logsPerBlock", "3").load()
  private def file: DataFrame =
    spark.read.format(classOf[ParquetChainSource].getName)
      .option("path", s"$dir/logs").option("table", "logs").load()
  private def wire: DataFrame =
    spark.read.format(classOf[WireChainSource].getName)
      .option("url", server.url).option("table", "logs")
      .option("toBlock", "200").load()

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  private def keyed(df: DataFrame): Set[Seq[Any]] =
    df.select(col("block_number"), col("log_index"), hex(col("address")),
        hex(col("topic0")), hex(col("topic1")), hex(col("data")))
      .collect().map(_.toSeq).toSet

  private val t0 = ChainSource.topic0Pool(0)
  private val t1 = ChainSource.topic0Pool(1)
  private val t2 = ChainSource.topic0Pool(2)
  private val a1 = ChainSource.addressPool(1)
  private val a2 = ChainSource.addressPool(2)
  private val a4 = ChainSource.addressPool(4)

  private val cases: Seq[(String, Column)] = Seq(
    "plain range"   -> (col("block_number") >= 60 && col("block_number") < 140),
    "half-open lo"  -> (col("block_number") > 150),
    "equality"      -> (col("topic0") === lit(t0)),
    "IN list"       -> col("address").isin(a1, a2),
    "OR of requests" ->
      (col("topic0") === lit(t1) || col("address") === lit(a2)),
    "range AND or-tree" -> (col("block_number") >= 50 &&
      (col("topic0") === lit(t1) || col("address") === lit(a4))),
    "AND distributes over IN" ->
      (col("topic0").isin(t0, t1) && col("address").isin(a1, a2, a4)),
    "contradiction" ->
      (col("topic0").isin(t0, t1) && col("topic0") === lit(t2)))

  for ((name, pred) <- cases)
    test(s"all providers agree with plain Spark under: $name") {
      val want = keyed(plain.filter(pred))
      assert(keyed(synthetic.filter(pred)) == want, "synthetic diverged")
      assert(keyed(file.filter(pred)) == want, "file-backed diverged")
      assert(keyed(wire.filter(pred)) == want, "wire diverged")
      // a provably-empty request list plans nothing, in every provider
      if (name == "contradiction")
        for ((label, df) <- Seq("synthetic" -> synthetic, "file-backed" -> file,
            "wire" -> wire)) {
          val scan = scanOf(df.filter(pred))
          assert(scan.inputRDD.getNumPartitions == 0, s"$label planned partitions")
          assert(scan.scan.description().contains("reqs=none"),
            s"$label: ${scan.scan.description()}")
        }
    }

  test("the three providers resolve by their registered short names") {
    val registered = java.util.ServiceLoader.load(classOf[DataSourceRegister])
      .asScala.map(_.shortName()).toSet
    assert(Set("graftchain", "graftchainfile", "graftchainwire").subsetOf(registered),
      registered)
    val want = keyed(plain)
    assert(keyed(spark.read.format("graftchain").option("toBlock", "200").load()) == want)
    assert(keyed(spark.read.format("graftchainfile")
      .option("path", s"$dir/logs").load()) == want)
    assert(keyed(spark.read.format("graftchainwire").option("url", server.url)
      .option("toBlock", "200").load()) == want)
  }
}
