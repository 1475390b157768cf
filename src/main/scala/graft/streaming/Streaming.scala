package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.api.{Sink, Step}

/** Structured Streaming surface (SURVEY §2.7). The reference's streaming
  * model is ordered micro-batch replay with no watermarks or stateful
  * operators (cherry `pipeline.py:110-126`); parity therefore only needs
  * the bounded batch loop. The ops here are the ENGINE CAPABILITIES layer:
  * event-time windows, watermarked late-data policy, and keyed state, all
  * on Spark's native streaming operators so state lives in the
  * checkpointed state store (RocksDB at scale) — not in driver memory.
  */
object Streaming {

  /** Run the SAME Step pipeline per micro-batch via foreachBatch — the
    * single-sourced batch/stream code path (SURVEY §7.3 risk 5): each
    * micro-batch DataFrame becomes a one-table bundle, flows through the
    * identical step fold, and lands in the batch Sink. Delivery is
    * at-least-once (foreachBatch re-runs a failed batch) — pair with the
    * idempotent resume pattern (sinks/Resume) exactly like the reference.
    */
  def pipelineWriter(stream: DataFrame, tableName: String, steps: Seq[Step],
                     sink: Sink, checkpointDir: String): DataStreamWriter[_] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[_], batchId: Long) =>
        val spark = batch.sparkSession
        val tables = Map(tableName -> batch.toDF())
        sink.push(graft.api.Pipeline.processSteps(spark, tables, steps))
      }

  /** Tumbling event-time window aggregation with a watermark: the streaming
    * analog of the batch Q14 date_trunc query. Late rows beyond `lateness`
    * are dropped (the reference cannot have late data — block order is
    * total — so any watermark is a strict capability superset).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, windowLen: String,
                     lateness: String, keyCols: String*): DataFrame =
    // a tumbling window IS a sliding window with slide == length — one
    // implementation, not a drifting copy
    slidingCounts(events, tsCol, windowLen, windowLen, lateness, keyCols: _*)

  /** Sliding-window variant (overlapping windows every `slide`). */
  def slidingCounts(events: DataFrame, tsCol: String, windowLen: String,
                    slide: String, lateness: String, keyCols: String*): DataFrame =
    windowed(events, tsCol, lateness, window(col(tsCol), windowLen, slide),
      keyCols)(count(lit(1)).as("cnt"))

  /** Session windows: gap-based grouping per key (session closes after
    * `gap` of event-time silence).
    */
  def sessionCounts(events: DataFrame, tsCol: String, gap: String,
                    lateness: String, keyCols: String*): DataFrame =
    windowed(events, tsCol, lateness, session_window(col(tsCol), gap),
      keyCols)(count(lit(1)).as("cnt"))

  /** Streaming OHLC candles — the streaming face of TimeOps.ohlcResample:
    * per (key, tumbling window) the first/last/max/min observed value and
    * count, with first/last resolved by (ts, id) order exactly like the
    * batch op (unique `idCol` makes ties deterministic across micro-batch
    * boundaries — min_by/max_by merge associatively, so a candle split
    * over many batches converges to the same answer as one batch).
    * Watermark-bounded state: one row per open (key, window) in the state
    * store, closed candles emit and evict.
    */
  def ohlcCandles(events: DataFrame, tsCol: String, idCol: String,
                  valueCol: String, windowLen: String, lateness: String,
                  keyCols: String*): DataFrame =
    windowed(events, tsCol, lateness, window(col(tsCol), windowLen),
      keyCols)(graft.ops.TimeOps.ohlcAggs(tsCol, idCol, valueCol): _*)

  /** Every window op's chain: watermark → group by window and keys → ws/we. */
  private def windowed(events: DataFrame, tsCol: String, lateness: String,
                       windowCol: Column, keyCols: Seq[String])(
                       aggs: Column*): DataFrame = {
    val g = events.withWatermark(tsCol, lateness)
      .groupBy(windowCol +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val w = g.columns.head // `window` or `session_window`
    g.select((col(s"$w.start").as("ws") +: col(s"$w.end").as("we") +:
      keyCols.map(col)) ++ g.columns.drop(1 + keyCols.size).map(col): _*)
  }

  /** Streaming exact dedup on key columns within the watermark horizon —
    * the streaming face of DedupOps.exact. State is per-key in the state
    * store and expires with the watermark, so memory is bounded at scale.
    */
  def streamingDedup(events: DataFrame, tsCol: String, lateness: String,
                     keyCols: String*): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming crawl frontier — the streaming face of the x136
    * discovery loop's dedup core: arriving discovered-URL events are
    * canonicalized ([[graft.ops.UrlOps.canonicalizeUrl]], the kernel
    * expression — a narrow per-row map, so it adds no streaming
    * state), non-absolute references dropped loudly by the NULL
    * contract, deduplicated on the CANONICAL string within the
    * watermark horizon (two tracking-param variants of one URL are one
    * fetch), and anti-joined against the static already-crawled set
    * (re-read per micro-batch, like [[streamingDedupVsReference]]).
    * Output carries `canon_url` + `reg_domain`, ready for the
    * per-domain politeness scheduler. State: one row per canonical URL
    * inside the watermark — the frontier's own working set, expiring
    * with the horizon.
    */
  def streamingFrontier(events: DataFrame, tsCol: String, lateness: String,
                        urlCol: String, crawled: DataFrame): DataFrame = {
    require(crawled.columns.contains("canon_url"),
      "crawled reference must carry canon_url")
    val canon = events
      .withColumn("canon_url", graft.ops.UrlOps.canonicalizeUrl(col(urlCol)))
      .filter(col("canon_url").isNotNull)
    canon.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(Seq("canon_url"))
      .join(crawled.select("canon_url"), Seq("canon_url"), "left_anti")
      .withColumn("reg_domain",
        graft.ops.UrlOps.domainOf(col("canon_url")))
  }

  /** Streaming incremental dedup vs a STATIC reference corpus — the
    * streaming face of DedupOps.incrementalDedup's exact probe: arriving
    * docs whose content hash exists in the reference are dropped before
    * they ever reach the sink. A stream-static left-anti join: the static
    * side is re-read per micro-batch (so a reference updated between
    * batches is picked up), no streaming state is accumulated for it, and
    * at scale the hash-keyed join partitions like any batch join. Compose
    * with [[streamingDedup]] for within-stream duplicates.
    */
  def streamingDedupVsReference(stream: DataFrame, reference: DataFrame,
                                contentCol: String): DataFrame = {
    // a user column named __h would be overwritten and then dropped —
    // rows would come out missing a data column with no error
    require(!stream.columns.contains("__h"),
      "stream already has a column named __h; rename it before deduping")
    // same-name USING-style join — the shape DedupOps.incrementalDedup's
    // exact probe uses: no second magic column to collide with user
    // columns (a stream with its own __ref_h hit an AMBIGUOUS_REFERENCE
    // the guard above never mentioned)
    val refHashes = reference
      .select(md5(col(contentCol)).as("__h")).distinct()
    stream.withColumn("__h", md5(col(contentCol)))
      .join(refHashes, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Keyed running state via mapGroupsWithState: per-key event count and
    * last-seen timestamp. The typed-state escape hatch for custom semantics
    * the windowed operators can't express (cherry has no analog — declared
    * capability). `evictAfter` turns on processing-time timeout eviction;
    * note a timeout-bearing query keeps scheduling batches to fire timeouts
    * even with no new data, so leave it None for replay/testing. Eviction
    * RE-EMITS the key's final KeyCount as a deliberate last flush —
    * consumers treating each emission as a delta (not a state upsert)
    * must dedupe on (key, count, lastSeenMs).
    */
  final case class KeyCount(key: String, count: Long, lastSeenMs: Long)

  def runningCounts(events: Dataset[(String, Long)],
                    evictAfter: Option[String] = None): Dataset[KeyCount] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState(timeoutConf) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[KeyCount]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(KeyCount(key, 0L, 0L))
            // single O(1)-memory fold: a hot key's micro-batch can carry
            // millions of rows — buffering them (toSeq) to take .size and
            // .max would put the whole group on the executor heap
            val (n, maxTs) = rows.foldLeft((0L, prev.lastSeenMs)) {
              case ((c, m), (_, t)) => (c + 1, math.max(m, t))
            }
            val next = KeyCount(key, prev.count + n, maxTs)
            state.update(next)
            evictAfter.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** A near-dup candidate pair emitted by [[streamingNearDupCandidates]]:
    * two docs collided on `band`, NORMALIZED to `i < j` — the batch pair
    * convention (`DedupOps.nearDupPairs`), NOT arrival order. A consumer
    * implementing keep-first dedup must therefore break ties by its own
    * arrival record (or id policy), not by assuming `i` arrived first —
    * when the later arrival has the smaller id, it lands in `i`.
    */
  final case class StreamCand(i: Long, j: Long, band: Int)

  /** STREAMING near-dup candidate detection — the streaming face of
    * `DedupOps.minhashLshCandidatesOph`: as documents arrive, each is
    * signed with one-permutation MinHash band signatures and checked
    * against every previously-seen doc in its (band, sig) buckets; a
    * collision emits a candidate pair the moment the duplicate lands,
    * across micro-batch boundaries. The "flag re-crawled boilerplate at
    * ingest time" stage — candidates feed the same exact verification
    * as the batch path.
    *
    * The signature here is computed NARROWLY per row (higher-order
    * array functions over the doc's own shingle array — bucket mins via
    * filter+array_min, rotation densification via coalesce), so unlike
    * the batch path there is NO signature shuffle at all; the only
    * stateful stage is the (band, sig)-keyed bucket state. Per-bucket
    * state is capped at `maxBucket` ids (the MOSS too-common rule again
    * — an unbounded boilerplate bucket would otherwise grow state
    * forever); beyond the cap, new arrivals still pair against the
    * stored ids but are not themselves stored — the documented
    * lower-bound semantics. State lives in the checkpointed state store
    * (RocksDB at scale), never driver memory.
    *
    * Delivery is at-least-once at the PAIR level: an at-cap bucket does
    * not store new arrivals, so a redelivered (or re-crawled) doc that
    * hit a full bucket re-emits the same pairs — consumers must treat
    * (i, j, band) as a set (the downstream exact verification's
    * `distinct` does exactly this).
    *
    * `evictAfter` bounds state for perpetual ingest: buckets idle longer
    * than the duration are evicted (processing-time timeout), so a dup
    * of a doc older than the horizon goes undetected — the deliberate
    * bounded-horizon trade; leave None for replay/tests, where state
    * must be exact. Without it, distinct band signatures accumulate in
    * the store forever (linear in corpus size).
    */
  def streamingNearDupCandidates(stream: DataFrame, idCol: String,
                                 textCol: String, k: Int = 3,
                                 numHashes: Int = 16, bandRows: Int = 4,
                                 maxBucket: Int = 64,
                                 evictAfter: Option[String] = None)
      : Dataset[StreamCand] = {
    graft.ops.DedupOps.requireBands(numHashes, bandRows)
    // maxBucket = 0 would silently store nothing and emit nothing — the
    // silent-zero-output class this codebase fails loudly on elsewhere
    require(maxBucket > 0, s"maxBucket must be > 0, got $maxBucket")
    // same loud plan-time gate as every batch pair kernel: a silent
    // cast('long') turned bad ids into mid-stream decode crashes (null
    // ids) or silently merged docs (truncating numeric ids)
    graft.ops.DedupOps.requireLongId(stream, idCol)
    import stream.sparkSession.implicits._
    val hs = transform(graft.ops.TextOps.wordShingles(col(textCol), k),
      s => graft.ops.TextOps.hash60(s))
    val mins = (0 until numHashes).map(j =>
      array_min(filter(hs, h => h % numHashes === j)).as(s"m$j"))
    // a doc with no shingles has no signature (matches the batch OPH
    // contract) — unguarded, every sub-k-token doc would share the
    // all-empty signature and pair with every other one
    val signed = stream.filter(size(hs) > 0)
      .select(col(idCol).as("id"), struct(mins: _*).as("m"))
    val timeoutConf =
      if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    graft.ops.DedupOps.ophBands(signed, numHashes, bandRows)(j => col(s"m.m$j"))
      .as[(Long, Int, String)]
      .groupByKey { case (_, band, sig) => (band, sig) }
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: (Int, String), rows: Iterator[(Long, Int, String)],
         state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            // idle bucket past the horizon: evict silently (candidates
            // are a side output — there is no final flush to emit)
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Vector.empty[Long])
            val out = Seq.newBuilder[StreamCand]
            rows.foreach { case (id, band, _) =>
              if (!seen.contains(id)) {
                seen.foreach { p =>
                  out += StreamCand(math.min(p, id), math.max(p, id), band)
                }
                if (seen.size < maxBucket) seen = seen :+ id
              }
            }
            state.update(seen)
            evictAfter.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /** Watermarked stream-stream inner join: each side buffers only within
    * its watermark, and the time-bound condition lets the state store evict
    * — without it a stream-stream join buffers forever. Joins left rows to
    * right rows with the same key within [-window, +window] event time.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, keyCol: String,
                       leftTs: String, rightTs: String, lateness: String,
                       window: java.time.Duration): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    // Typed DayTimeIntervalType literal — a string-built `INTERVAL $window`
    // expr() would make the join condition a SQL-injection surface for
    // config-sourced window values.
    val w = lit(window)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTs) >= l(leftTs) - w &&
        r(rightTs) <= l(leftTs) + w)
      .drop(r(keyCol))
  }
}
