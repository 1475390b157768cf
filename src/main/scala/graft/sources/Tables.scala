package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** Fixture-table catalog over the driver-generated parquet dirs
  * (/root/repo/TESTDATA.md, FIXTURES.md).
  *
  * Mirrors the reference's unit of data flow — a named bundle of columnar
  * tables per micro-batch (cherry: `src/cherry_etl/pipeline.py:30-33`,
  * `Dict[str, pyarrow.Table]`) — as `Map[String, DataFrame]`. DataFrames are
  * lazy plans, so a "bundle" costs nothing until an action runs; Catalyst
  * prunes columns and pushes filters down to the parquet scan.
  */
object Tables {
  /** TPC-H-ish star schema + events stream + LLM-pipeline tables. */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor. */
  val dims: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    // rejects; sessions set spark.sql.legacy.parquet.nanosAsLong=true and we
    // rebuild the timestamp here. Integer `div` (not `/`): doubles lose
    // precision above 2^53 and ns-since-epoch is ~1.7e18. Scoped to the
    // ONE table whose fixture carries nanos — keying on the column name
    // alone would silently reinterpret any other table's legitimate
    // BIGINT ts (epoch millis, a sequence number) as nanoseconds and
    // corrupt it into a 1970 timestamp.
    if (name == "events" &&
        df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** The table bundle a pipeline flows through (cherry `pipeline.py:117-120`). */
  def bundle(spark: SparkSession, dir: String,
             names: Seq[String] = all): Map[String, DataFrame] =
    names.map(n => n -> load(spark, dir, n)).toMap
}
