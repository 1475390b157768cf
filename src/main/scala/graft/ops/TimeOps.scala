package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Time-series operators: fixed-interval resampling with gap fill — the
  * densification step feature pipelines run before windowed training-data
  * extraction (every key gets a row per interval even where no events
  * landed, carrying the last observed value forward).
  *
  * `TIMESTAMP_NTZ` inputs are accepted ([[TsCompat]]), but their epoch
  * interpretation depends on `spark.sql.session.timeZone`: graft pins it
  * to UTC ([[graft.GraftSession]]), where NTZ epoch math is
  * value-preserving. A standalone caller running these operators on NTZ
  * columns under a non-UTC session gets bucket/window boundaries shifted
  * by the zone offset — set the session timezone to UTC (or cast to
  * `TIMESTAMP` yourself) first.
  */
object TimeOps {

  /** Resample to fixed buckets of `intervalMicros` and forward-fill gaps.
    * Per key: one row per bucket from its first to its last observed
    * bucket; bucket value = max(value) of the bucket's events (max: order-
    * insensitive, so bit-deterministic on doubles), gaps carry the last
    * non-null value forward.
    *
    * Scale shape: TWO exchanges total — one partial-agg shuffle on
    * (key, bucket), then ONE (key, bucket-ordered) window stage that
    * computes both the forward fill (`last(v) ignoreNulls`, running) and
    * the next observed bucket (`lead`); each observed bucket then emits
    * itself plus its gap run via a narrow `sequence` explode, the filled
    * value riding along (a gap's fill IS its left neighbor's fill). The
    * earlier formulation (per-key min/max re-shuffle + densify + LEFT JOIN
    * back + window = 4 exchanges) computed the same thing; the join is
    * unnecessary because the gap rows' values are determined at explode
    * time. Output size = span/interval per key, independent of event
    * count. No self-joins, no range join.
    */
  def resampleFill(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, intervalMicros: Long): DataFrame = {
    require(intervalMicros > 0, "intervalMicros must be positive")
    val bucket =
      floor(TsCompat.micros(col(tsCol)) / intervalMicros).cast(LongType)
    // null-ts rows have no place on the bucket grid and must not feed the
    // forward fill: the null bucket sorts FIRST, so its value would leak
    // into the first real bucket's running last() — a value with no valid
    // timestamp fabricating the fill (the pre-rewrite densify-join plan
    // excluded them structurally; the window plan must do it explicitly)
    val e = df.filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol), bucket.as("b"))
      .agg(max(col(valueCol)).as("v"))
    // lead and the running last() share (key, b) partitioning+order, so
    // Spark plans one Exchange + one Sort for the whole window stage
    val w = Window.partitionBy(col(keyCol)).orderBy(col("b"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("fv", last(col("v"), ignoreNulls = true).over(wRun))
      .withColumn("nb", lead(col("b"), 1).over(w))
      .select(col(keyCol),
        explode(sequence(col("b"), coalesce(col("nb") - 1, col("b")))).as("b"),
        col("fv"))
  }

  /** Gap-based sessionization: events of one key belong to the same session
    * while consecutive gaps stay ≤ `gapMicros`; a larger gap opens a new
    * session. Emits `session_idx` (1-based per key, in time order) — the
    * classic lag-flag + running-sum plan.
    *
    * Scale shape: a single shuffle on the key; both windows share the same
    * (key, order) partitioning so Spark plans ONE Exchange + ONE Sort and
    * evaluates lag and the running sum in the same window stage. Gaps are
    * compared in epoch MICROSECONDS (`unix_micros`) — integer math that is
    * engine-portable (nanosecond timestamps truncate identically).
    *
    * Ordering ties on ts break by `idCol` so the running sum is
    * deterministic under any partitioning.
    *
    * Null-ts rows cannot be placed on the timeline: they keep their row
    * with `session_idx` null and neither open nor advance sessions for
    * real rows (a plain `lag` would hand the first real event a null
    * "previous" and fabricate an extra session per null row — the
    * running `last(ignoreNulls)` over preceding rows skips them).
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                 gapMicros: Long): DataFrame = {
    require(gapMicros > 0, "gapMicros must be positive")
    val order = Seq(col(tsCol), col(idCol))
    val wLag = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val wPrev = wLag.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = TsCompat.micros(col(tsCol))
    // last non-null preceding ts, NOT lag(1): null-ts rows sort first and
    // must be transparent to the gap chain
    val prev = last(us, ignoreNulls = true).over(wPrev)
    val newSession = when(col(tsCol).isNull, 0L)
      .otherwise(when(prev.isNull || us - prev > gapMicros, 1L).otherwise(0L))
    df.withColumn("session_idx",
      when(col(tsCol).isNull, lit(null).cast(LongType))
        .otherwise(sum(newSession).over(wRun)))
  }

  /** OHLC downsampling — the canonical time-series candle: per (key,
    * fixed interval bucket) the first/last/max/min observed value and the
    * event count. First/last are by (ts, id) order — `idCol` must be
    * unique per row so ties at the same timestamp resolve
    * deterministically under any partitioning.
    *
    * Values pass through UNTOUCHED (no floating arithmetic), so the
    * output is engine-exact. Null-ts rows have no place on the bucket
    * grid and are dropped (the [[resampleFill]] rule).
    *
    * Scale shape: ONE map-side-combinable shuffle — min_by/max_by/min/
    * max/count are all declarative aggregates with partial merge, so each
    * mapper contributes one candle candidate per (key, bucket) and no
    * sort or window is needed (a row_number formulation would add a full
    * per-partition sort for the same answer).
    */
  def ohlcResample(df: DataFrame, keyCol: String, tsCol: String,
                   idCol: String, valueCol: String,
                   intervalMicros: Long): DataFrame = {
    require(intervalMicros > 0, "intervalMicros must be positive")
    val us = TsCompat.micros(col(tsCol))
    val aggs = ohlcAggs(tsCol, idCol, valueCol)
    df.filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol),
        floor(us / intervalMicros).cast(LongType).as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The five candle aggregates, shared with `Streaming.ohlcCandles`. */
  private[graft] def ohlcAggs(tsCol: String, idCol: String,
                              valueCol: String): Seq[Column] = Seq(
    min_by(col(valueCol), struct(col(tsCol), col(idCol))).as("open"),
    max_by(col(valueCol), struct(col(tsCol), col(idCol))).as("close"),
    max(col(valueCol)).as("high"),
    min(col(valueCol)).as("low"),
    count(lit(1)).as("n_events"))

  /** Trailing time-range window aggregate: per row, the value sum and
    * ROW COUNT over the key's rows in the CLOSED interval
    * `[ts - windowMicros, ts]` (both bounds inclusive — Spark's
    * rangeBetween and the oracle's RANGE ... PRECEDING agree on this; a
    * row exactly windowMicros old IS in the window). `win_n` counts
    * frame rows, so a null `valueCol` row contributes to the count but
    * not the sum — divide win_total_e4 by win_n only when values are
    * non-null. A RANGE frame over epoch micros, NOT a row frame: rows
    * sharing a timestamp are peers and see each other (both engines'
    * RANGE semantics), and gaps in event time shrink the window to what
    * actually happened.
    *
    * The sum runs in DECIMAL(38,6) (exact, order-independent — the x28
    * convention) and lands as e4 fixed-point; null-ts rows are dropped
    * (no place on the timeline).
    *
    * Scale shape: one shuffle + one sort on (key, ts) — the same single
    * window stage as any running aggregate; frame state is bounded by the
    * window's row span per key.
    */
  def rollingTimeWindow(df: DataFrame, keyCol: String, tsCol: String,
                        idCol: String, valueCol: String,
                        windowMicros: Long): DataFrame = {
    require(windowMicros > 0, "windowMicros must be positive")
    val us = TsCompat.micros(col(tsCol))
    val w = Window.partitionBy(col(keyCol)).orderBy(us)
      .rangeBetween(-windowMicros, Window.currentRow)
    df.filter(col(tsCol).isNotNull)
      .select(col(idCol), col(keyCol),
        (round(sum(col(valueCol).cast(DecimalType(38, 6))).over(w), 4)
          * 10000).cast(LongType).as("win_total_e4"),
        count(lit(1)).over(w).as("win_n"))
  }
}
