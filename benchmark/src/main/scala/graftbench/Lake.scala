package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

import graft.functions.Keccak

/** Seeded synthetic ERC-20 lake: `blocks` and `logs`, about ten logs per
  * block, ~70 % of them Transfer events spread over 50 contracts. Every
  * value is a hash of (seed, row id), so one seed always yields the same
  * lake. Written by a plain default parquet write: unpartitioned, untuned.
  */
object Lake {
  val TransferSig = "Transfer(address indexed from, address indexed to, uint256 amount)"
  val FirstBlock = 18000000L
  val LogsPerBlock = 10
  val TransferPct = 70
  val Contracts = 50

  def transferTopic0Hex: String = Keccak.topic0(TransferSig).map("%02x".format(_)).mkString

  private def otherTopics: Seq[String] =
    Seq("Approval(address,address,uint256)", "Sync(uint112,uint112)",
      "Swap(address,uint256,uint256,uint256,uint256,address)")
      .map(s => Keccak.topic0(s).map("%02x".format(_)).mkString)

  def write(spark: SparkSession, dir: String, seed: Long, blocks: Long): Unit = {
    def h(k: Int) = s"xxhash64(${seed}L, id, $k)"
    def word(v: String, hexDigits: Int) = s"unhex(lpad(hex($v), $hexDigits, '0'))"
    val others = otherTopics.map(t => s"X'$t'").mkString("array(", ", ", ")")
    spark.range(blocks * LogsPerBlock).select(
      expr(s"${FirstBlock}L + id div $LogsPerBlock").as("block_number"),
      expr(s"id % $LogsPerBlock").as("log_index"),
      expr(word(s"pmod(${h(1)}, $Contracts) + 4096", 40)).as("address"),
      expr(s"CASE WHEN pmod(${h(2)}, 100) < $TransferPct THEN X'$transferTopic0Hex' " +
        s"ELSE element_at($others, CAST(pmod(${h(3)}, 3) + 1 AS INT)) END").as("topic0"),
      expr(word(s"pmod(${h(4)}, 100000) + 1", 64)).as("topic1"),
      expr(word(s"pmod(${h(5)}, 100000) + 1", 64)).as("topic2"),
      expr(word(s"pmod(${h(6)}, 1000000000000000) + 1", 64)).as("data"))
      .write.mode("overwrite").parquet(s"$dir/logs.parquet")
    spark.range(blocks).select(
      expr(s"${FirstBlock}L + id").as("block_number"),
      expr(s"unhex(sha2(concat('$seed:', id), 256))").as("hash"),
      expr("1700000000L + id * 12").as("timestamp"))
      .write.mode("overwrite").parquet(s"$dir/blocks.parquet")
  }
}
