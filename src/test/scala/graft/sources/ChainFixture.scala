package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The parquet fixture of the file-backed and wire provider specs: the
  * synthetic [[ChainSource]]'s logs for blocks `[0, blocks)`, 3 per block,
  * read unfiltered and written under `<tmp>/logs` as 4 files with
  * contiguous, disjoint block ranges (repartitionByRange on
  * block_number), so footer min/max stats can prune whole files.
  */
object ChainFixture {
  def logsDir(spark: SparkSession, prefix: String, blocks: Long): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    spark.read.format(classOf[ChainSource].getName)
      .option("fromBlock", "0").option("toBlock", blocks.toString)
      .option("logsPerBlock", "3").load()
      .repartitionByRange(4, col("block_number"))
      .sortWithinPartitions("block_number")
      .write.mode("overwrite").parquet(d + "/logs")
    d
  }
}
