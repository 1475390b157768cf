package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkSpec

/** Round-11 regression class: parquet written with
  * `TIMESTAMP(isAdjustedToUTC=false)` reads back as `TIMESTAMP_NTZ` under
  * Spark 4's default inference, and every `unix_micros`-based operator
  * threw `DATATYPE_MISMATCH` — while 236 specs stayed green, because they
  * all synthesized `TimestampType` inputs in memory. These specs close the
  * blind spot: each time operator runs on a REAL parquet round-trip whose
  * ts column is NTZ (asserted, not assumed), and must produce exactly the
  * rows it produces on the equivalent `TimestampType` input. The fixture's
  * read turns Spark 4's default `inferTimestampNTZ=true` back on (the
  * engine session sets it false), so this is the hostile-input path,
  * proving the operators don't depend on the session flag.
  */
class NtzFixtureSpec extends SparkSpec {
  import spark.implicits._

  /** (ntz, tz): the same events via a parquet round-trip — ts read back as
    * TIMESTAMP_NTZ — and as a plain in-memory TimestampType frame.
    */
  private lazy val (ntzEvents, tzEvents): (DataFrame, DataFrame) = {
    val rows = Seq(
      (1L, 1L, "click", 1.0, "2024-01-01 00:00:01"),
      (2L, 1L, "purchase", 2.0, "2024-01-01 00:00:05"),
      (3L, 1L, "click", 3.0, "2024-01-01 00:10:00"),
      (4L, 2L, "purchase", 4.0, "2024-01-01 00:00:03"),
      (5L, 2L, "click", 5.0, "2024-01-01 00:00:02"))
    val base = rows.toDF("event_id", "user_id", "event_type", "value", "s")
    val dir = Files.createTempDirectory("ntz").toString
    base.withColumn("ts", to_timestamp_ntz(col("s"))).drop("s")
      .write.mode("overwrite").parquet(dir)
    // the hostile read: NTZ inference on for this read only
    val inferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.getOption(inferNtz)
    spark.conf.set(inferNtz, "true")
    val ntz = try spark.read.parquet(dir)
      finally saved.fold(spark.conf.unset(inferNtz))(spark.conf.set(inferNtz, _))
    assert(ntz.schema("ts").dataType == TimestampNTZType,
      "premise: the parquet round-trip must yield TIMESTAMP_NTZ — if this " +
        "fails the spec no longer tests the regression class")
    val tz = base.withColumn("ts", to_timestamp(col("s"))).drop("s")
    assert(tz.schema("ts").dataType == TimestampType)
    (ntz, tz)
  }

  private def sortedRows(df: DataFrame): Seq[String] = {
    // ts columns render identically under UTC for both flavors; compare as
    // strings so the (intended) TIMESTAMP-vs-NTZ output type difference
    // doesn't mask a VALUE difference
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    df.select(cols: _*).collect().map(_.mkString("|")).sorted.toSeq
  }

  private def assertSameResult(f: DataFrame => DataFrame): Unit =
    assert(sortedRows(f(ntzEvents)) == sortedRows(f(tzEvents)))

  test("resampleFill accepts an NTZ parquet fixture") {
    assertSameResult(df =>
      TimeOps.resampleFill(df, "user_id", "ts", "value", 60L * 1000000))
  }

  test("sessionize accepts an NTZ parquet fixture") {
    assertSameResult(df =>
      TimeOps.sessionize(df, "user_id", "ts", "event_id", 120L * 1000000))
  }

  test("intervalJoin accepts an NTZ parquet fixture") {
    assertSameResult { df =>
      val l = df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("l_id"))
      val r = df.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("r_ts"),
          col("event_id").as("r_id"))
      JoinOps.intervalJoin(l, r, "user_id", "ts", "r_ts", 300L * 1000000)
    }
  }

  test("asOfJoinBackward payload epoch math accepts an NTZ fixture") {
    // mirrors x27: the payload carries the right side's ts, and the caller
    // does epoch arithmetic on BOTH ts columns afterwards — the spot that
    // actually broke (the join itself only orders by ts)
    assertSameResult { df =>
      val purchases = df.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = df.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        .withColumn("click_ts", col("ts"))
      JoinOps.asOfJoinBackward(purchases, clicks, "user_id", "ts",
          Seq("click_id", "click_ts"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          (TsCompat.micros(col("ts")) - TsCompat.micros(col("click_ts")))
            .as("delay_us"))
    }
  }

  test("ohlcResample accepts an NTZ parquet fixture") {
    assertSameResult(df =>
      TimeOps.ohlcResample(df, "user_id", "ts", "event_id", "value",
        60L * 1000000))
  }

  test("rollingTimeWindow accepts an NTZ parquet fixture") {
    assertSameResult(df =>
      TimeOps.rollingTimeWindow(df, "user_id", "ts", "event_id", "value",
        120L * 1000000))
  }

  test("profile treats an NTZ column as a timestamp, not the generic arm") {
    // the latent sibling: StatOps.profile matched TimestampType only, so an
    // NTZ column silently fell through to the string-cast identity key and
    // the null numeric view instead of the epoch view
    val p = StatOps.profile(ntzEvents, Seq("ts")).collect().head
    val q = StatOps.profile(tzEvents, Seq("ts")).collect().head
    assert(p.getAs[Long]("n") == q.getAs[Long]("n"))
    assert(p.getAs[Double]("min_v") == q.getAs[Double]("min_v"))
    assert(p.getAs[Double]("max_v") == q.getAs[Double]("max_v"))
  }
}
