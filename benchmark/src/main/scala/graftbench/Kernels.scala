package graftbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

import graft.functions.{GraftFunctions => F, Hash60, Md5Salted}

/** Kernel micro-timer for the `functions.*.ns_per_row` metrics: each
  * `graft.functions` expression runs codegen'd over a fixed generated
  * column, held in memory, into the noop sink. The same projection without
  * the kernel is the baseline; a kernel's cost is the median time above it.
  */
object Kernels {
  val Rows = 1000000L
  val Reps = 5

  def measure(spark: SparkSession): Map[String, Double] = {
    val input = spark.range(Rows).select(
      expr("unhex(lpad(hex(pmod(xxhash64(id, 1), 100000) + 1), 64, '0'))").as("t1"),
      expr("unhex(lpad(hex(pmod(xxhash64(id, 2), 100000) + 1), 64, '0'))").as("t2"),
      expr("unhex(lpad(hex(pmod(xxhash64(id, 3), 1000000000000000) + 1), 64, '0'))").as("data"))
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()
    def timeOf(c: Column): Double = {
      val runs = (0 to Reps).map { _ =>
        val t0 = System.nanoTime()
        input.select(c.as("k")).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      Stats.median(runs.tail) // the first run compiles the projection
    }
    val base = timeOf(col("data"))
    val kernels = Seq[(String, Column)](
      "evm_decode_event" -> F.evm_decode_event(Lake.TransferSig, col("t1"), col("t2"),
        lit(null).cast("binary"), col("data")),
      "hex_lower" -> F.hex_lower(col("t1")),
      "u256_to_decimal" -> F.u256_to_decimal(col("data")),
      "md5_salted" -> Bridge.column(Md5Salted("s", Bridge.expression(col("data")))),
      "hash60" -> Bridge.column(Hash60(Bridge.expression(col("data")))))
    val out = kernels.map { case (name, k) =>
      s"functions.$name.ns_per_row" -> math.max(0.0, timeOf(k) - base) * 1e9 / Rows
    }.toMap
    input.unpersist(blocking = true)
    out
  }
}
