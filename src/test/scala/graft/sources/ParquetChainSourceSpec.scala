package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** File-backed chain provider: the same pushdown plumbing as ChainSource,
  * proven against REAL parquet IO — row groups pruned from footer stats by
  * the pushed block range, requests matched inside the reader, columns
  * projected at the parquet level.
  */
class ParquetChainSourceSpec extends SparkSpec {

  private lazy val dir: String =
    ChainFixture.logsDir(spark, "graft-chainfile", 400L)

  private def read(opts: (String, String)*): DataFrame = {
    val r = spark.read.format(classOf[ParquetChainSource].getName)
      .option("path", s"$dir/logs").option("table", "logs")
    opts.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load()
  }

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  test("reads the whole fixture: one partition per row group") {
    val df = read()
    assert(df.count() == 1200)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.select(min("block_number"), max("block_number")).head() ==
      Row(0L, 399L))
  }

  test("pushed block range prunes row groups via footer stats") {
    val df = read().filter(col("block_number") >= 300)
    assert(df.count() == 300)
    val desc = scanOf(df).scan.description()
    assert(desc.contains("[300,"), s"range not pushed: $desc")
    // real file-level prune: ≤2 of 4 row groups survive planning (range
    // partitioner boundaries are sampled, so allow one boundary group)
    val parts = scanOf(df).inputRDD.getNumPartitions
    assert(parts <= 2, s"row groups not pruned: $parts of 4 planned ($desc)")
    assert(desc.contains(s"rgs=$parts/4"), desc)
  }

  test("fromBlock/toBlock options bound the scan and prune row groups") {
    val df = read("fromBlock" -> "300")
    assert(df.count() == 300)
    val desc = scanOf(df).scan.description()
    assert(desc.contains("[300,"), s"fromBlock option ignored: $desc")
    val parts = scanOf(df).inputRDD.getNumPartitions
    assert(parts <= 2, s"row groups not pruned: $parts of 4 planned ($desc)")
    assert(desc.contains(s"rgs=$parts/4"), desc)
    assert(read("toBlock" -> "100").count() == 300)
  }

  test("topic0 equality is matched inside the file reader") {
    val t0 = ChainSource.topic0Pool(0)
    val df = read().filter(col("topic0") === lit(t0))
    // (block + idx) % 3 == 0 → exactly one log per block
    assert(df.count() == 400)
    assert(scanOf(df).scan.description().contains("topic0:1"))
    // fully consumed by the source: no Spark-side residual filter, and the
    // scan emits exactly the matching rows
    assert(df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.isEmpty)
    assert(scanOf(df).inputRDD.mapPartitions(
      it => Iterator(it.size)).collect().sum == 400)
  }

  test("range + OR-of-requests compose against real files") {
    val t1 = ChainSource.topic0Pool(1)
    val addr2 = ChainSource.addressPool(2)
    val df = read().filter(col("block_number") >= 200 &&
      (col("topic0") === lit(t1) || col("address") === lit(addr2)))
    // blocks 200-399: topic1 1/block = 200; addr2 = 40 blocks × 3 = 120;
    // overlap 40 → 280
    assert(df.count() == 280)
    val desc = scanOf(df).scan.description()
    assert(desc.contains("topic0:1") && desc.contains("address:1"), desc)
  }

  test("column pruning reaches the parquet projection") {
    val df = read().select("block_number")
    val desc = scanOf(df).scan.description()
    assert(desc.contains("cols=block_number"), s"not pruned: $desc")
    assert(df.schema.fieldNames.toSeq == Seq("block_number"))
    assert(df.distinct().count() == 400)
  }

  test("results agree with the synthetic source on the same rules") {
    // the file fixture was generated with the synthetic source's layout
    // rules, so both planes must produce identical (block, idx, topic0)
    val fromFile = read().filter(col("block_number") < 50)
      .select(col("block_number"), col("log_index"), hex(col("topic0")))
      .collect().map(_.toSeq).toSet
    val synthetic = spark.read.format(classOf[ChainSource].getName)
      .option("fromBlock", "0").option("toBlock", "50")
      .option("logsPerBlock", "3").load()
      .select(col("block_number"), col("log_index"), hex(col("topic0")))
      .collect().map(_.toSeq).toSet
    assert(fromFile == synthetic)
  }
}
