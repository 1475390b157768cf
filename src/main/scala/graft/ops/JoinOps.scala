package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import SampleOps.requireFresh

/** Join operators beyond Spark's built-in set: temporal as-of join and a
  * salting utility for skewed keys. The reference has neither (SURVEY §2.4
  * declares their absence) — these are engine capabilities for the
  * time-series/training-data workloads.
  *
  * `TIMESTAMP_NTZ` timestamp inputs are accepted ([[TsCompat]]) but are
  * only value-preserving under a UTC session timezone (graft pins it —
  * [[graft.GraftSession]]); a non-UTC standalone session shifts NTZ epoch
  * values by the zone offset. See the [[TimeOps]] note.
  */
object JoinOps {

  /** Backward as-of join: for every left row, the single most recent right
    * row with `right.tsCol <= left.tsCol` (inclusive), per join key —
    * semantics of DuckDB/kdb ASOF JOIN, pandas merge_asof.
    *
    * Plan shape (the 100 TB-safe one): UNION the two sides tagged by
    * origin, ONE shuffle on the key, and a running `last(ignoreNulls)`
    * window ordered by (ts, side) picks the prevailing right payload for
    * each left row. No range-join explosion, no per-key collect; cost is
    * one shuffle + one sort, both streaming-friendly. Right rows should be
    * unique per (key, ts) — with duplicates the surviving payload is the
    * window-order last, which ties non-deterministically; dedupe upstream.
    *
    * Output: all left columns plus the right payload columns (null when no
    * right row precedes the left row).
    */
  def asOfJoinBackward(left: DataFrame, right: DataFrame, keyCol: String,
                       tsCol: String, payloadCols: Seq[String]): DataFrame =
    asOfJoin(left, right, keyCol, tsCol, payloadCols, forward = false)

  /** Forward as-of join: for every left row, the single EARLIEST right row
    * with `right.tsCol >= left.tsCol` (inclusive), per join key — the
    * "next event after" direction (next purchase after a click, next fill
    * after an order). Mirror image of [[asOfJoinBackward]], same plan
    * shape: one key shuffle, a `first(ignoreNulls)` window over the
    * FOLLOWING frame, no range-join explosion. Right rows should be unique
    * per (key, ts); dedupe upstream.
    */
  def asOfJoinForward(left: DataFrame, right: DataFrame, keyCol: String,
                      tsCol: String, payloadCols: Seq[String]): DataFrame =
    asOfJoin(left, right, keyCol, tsCol, payloadCols, forward = true)

  /** Both as-of directions, ONE implementation (the two used to be
    * hand-mirrored copies and their null handling drifted apart).
    *
    * Null semantics match the SQL predicate
    * `right.key = left.key AND right.ts <=/>= left.ts`, which is never
    * true when any operand is null: null-ts RIGHT rows are dropped up
    * front (Spark's NULLS FIRST ordering would otherwise seed the
    * backward running-last as an "earlier than everything" match),
    * null-KEY right rows are dropped for the same reason (the window's
    * partitionBy groups null keys together, which would fabricate
    * null-to-null matches SQL equality never makes), and null-ts or
    * null-key LEFT rows keep a null payload in both directions.
    * Payload names must not collide with left columns — checked here so
    * the failure is immediate, not an AMBIGUOUS_REFERENCE downstream.
    *
    * Within a direction, left rows order such that an exactly-coincident
    * right row is visible to the left row's frame (inclusive semantics).
    */
  private def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
                       tsCol: String, payloadCols: Seq[String],
                       forward: Boolean): DataFrame = {
    val leftCols = left.columns.toSeq
    val collide = payloadCols.filter(leftCols.contains)
    require(collide.isEmpty,
      s"payload column(s) ${collide.mkString(", ")} collide with left " +
        "columns; rename before joining")
    requireFresh(left, "__r", "__side", "__match")
    val restCols = leftCols.filterNot(Seq(keyCol, tsCol).contains)
    val payload = struct(payloadCols.map(col): _*)
    val rightSide = if (forward) 1 else 0
    val leftSide = 1 - rightSide
    // null-key/null-ts LEFT rows exit here with a null payload instead of
    // riding the window: partitionBy groups all null keys into ONE
    // partition, so a null-heavy left side would sort through a single
    // reducer to compute a running pick the null rule then discarded
    // anyway (r15 review — the hot-partition work was 100% waste)
    val lNull = left.filter(col(tsCol).isNull || col(keyCol).isNull)
    val lLive = left.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
    val r = right.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(
      (col(keyCol) +: col(tsCol) +:
        payload.as("__r") +: lit(rightSide).as("__side") +:
        restCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val l = lLive.select(
      (col(keyCol) +: col(tsCol) +:
        lit(null).cast(r.schema("__r").dataType).as("__r") +:
        lit(leftSide).as("__side") +:
        restCols.map(col)): _*)
    val base = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__side"))
    val pick =
      if (forward)
        first(col("__r"), ignoreNulls = true)
          .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      else
        last(col("__r"), ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val rTypes = payloadCols.map(p => p -> right.schema(p).dataType)
    r.unionByName(l)
      .withColumn("__match", pick)
      .filter(col("__side") === leftSide)
      .select(leftCols.map(col) ++
        payloadCols.map(p => col(s"__match.$p").as(p)): _*)
      .unionByName(lNull.select(leftCols.map(col) ++
        rTypes.map { case (p, t) => lit(null).cast(t).as(p) }: _*))
  }

  /** Keyed interval (range) join: pairs where `left.key = right.key` and
    * `right.ts ∈ [left.ts, left.ts + maxGapMicros]`.
    *
    * Plan shape: both sides bucket by `floor(ts / maxGap)`; a window of
    * width maxGap spans at most two buckets, so each left row probes
    * exactly the buckets {b, b+1} (a 2× explode of the left side) and the
    * join shuffles on (key, bucket) — bounded fan-out per reducer, never a
    * key-only join whose hot-key groups explode quadratically, never a
    * cross join. The exact range predicate filters inside the join.
    *
    * Non-key/ts column names must be disjoint across the two sides
    * (project before joining) — INCLUDING the two ts columns: after the
    * (key, bucket) join both live in one frame, so a shared name would
    * hit AMBIGUOUS_REFERENCE in the range filter. Checked loudly here.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTsCol: String, rightTsCol: String,
                   maxGapMicros: Long): DataFrame = {
    require(maxGapMicros > 0, "maxGapMicros must be positive")
    require(leftTsCol != rightTsCol,
      s"leftTsCol and rightTsCol share the name '$leftTsCol' — rename " +
        "one side before joining (the range filter runs on the joined " +
        "frame, where a shared name is ambiguous)")
    requireFresh(left, "__probe", "__b")
    requireFresh(right, "__b")
    val lUs = TsCompat.micros(col(leftTsCol))
    val rUs = TsCompat.micros(col(rightTsCol))
    val l = left
      .withColumn("__probe", explode(array(lit(0L), lit(1L))))
      .withColumn("__b", floor(lUs / maxGapMicros) + col("__probe"))
      .drop("__probe")
    val r = right.withColumn("__b", floor(rUs / maxGapMicros))
    l.join(r, Seq(keyCol, "__b"))
      .filter(rUs >= lUs && rUs <= lUs + maxGapMicros)
      .drop("__b")
  }

  /** The deterministic scatter [[saltedJoin]] applies to the left side —
    * exposed so skew specs can assert the per-reducer input bound against
    * the REAL mechanism: a hot join key's rows land on the reducer of
    * (key, saltScatter(...)), so the max group size under this expression
    * IS the max task input the hot key can produce.
    */
  def saltScatter(scatterExpr: Column, salts: Int): Column =
    pmod(xxhash64(scatterExpr), lit(salts))

  /** Skew-salted inner equi-join: replicate the (small) right side
    * `salts`× and scatter left rows across the replicas, so one hot key
    * spreads over `salts` reducers instead of melting a single task. The
    * left scatter uses a caller-provided deterministic expression (e.g. a
    * row id column) — never rand(), which breaks retry idempotence.
    * Semantically identical to `left.join(right, keyCol)`.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keyCol: String,
                 scatterExpr: Column, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    requireFresh(left, "__salt")
    requireFresh(right, "__salt")
    val l = left.withColumn("__salt", saltScatter(scatterExpr, salts))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    l.join(r, Seq(keyCol, "__salt")).drop("__salt")
  }
}
