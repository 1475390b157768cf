package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's pipeline model, re-expressing the reference's declarative
  * API (cherry: `src/cherry_etl/config.py:234-239` `Pipeline(provider,
  * query, writer, steps)`; loop at `pipeline.py:102-126`) Spark-first:
  *
  *   - a micro-batch is `Map[String, DataFrame]` (≙ `Dict[str, pa.Table]`,
  *     `pipeline.py:30-33`) — but the DataFrames are LAZY plans, so a whole
  *     pipeline composes into one Catalyst plan per output table and
  *     executes only at the sink. The reference's `deepcopy` isolation
  *     (`pipeline.py:36`) is unnecessary: plans are immutable.
  *   - steps are pure bundle→bundle functions (≙ `StepKind` dispatch,
  *     `pipeline.py:41-75`);
  *   - sinks write each table, anchor table LAST (`writers/clickhouse.py:
  *     167-186`) so the resume pattern (P5) can treat a present anchor row
  *     as proof the rest of the batch landed.
  *
  * At scale: because steps compose lazily, Catalyst sees through the whole
  * pipeline — filters migrate to the scan and columns prune through every
  * step. The materialization points are the sink writes and, for a
  * multi-batch source, the one fill job per prefetched batch ([[run]]).
  */
final case class Pipeline(source: Source, steps: Seq[Step], sink: Sink)

object Pipeline {
  type Tables = Map[String, DataFrame]

  /** Sequential fold of steps over the bundle (≙ `process_steps`,
    * cherry `pipeline.py:30-77`). Pure plan composition — no execution.
    */
  def processSteps(spark: SparkSession, tables: Tables, steps: Seq[Step]): Tables =
    steps.foldLeft(tables)((t, s) => s(spark, t))

  /** Union-all of N batches (≙ `merge_data`, cherry `pipeline.py:80-99`):
    * asserts identical key sets, then `unionByName` per table.
    */
  def merge(batches: Seq[Tables]): Tables = {
    require(batches.nonEmpty, "merge of zero batches")
    val keys = batches.head.keySet
    batches.tail.foreach { b =>
      require(b.keySet == keys,
        s"batch table sets differ: ${b.keySet.toSeq.sorted} vs ${keys.toSeq.sorted}")
    }
    keys.map(k => k -> batches.map(_(k)).reduce(_.unionByName(_))).toMap
  }

  /** The driver loop (≙ `run_pipeline`, cherry `pipeline.py:102-126`). Each
    * batch flows through the step fold into the sink, and batch N+1 is read,
    * stepped and materialized (persisted, then filled by ONE Spark job over
    * the union of its tables' RDDs) CONCURRENTLY with batch N's sink write:
    * the reference's "next batch … being fetched while your pre-processing
    * function is running" (README.md:25; `asyncio.to_thread` at
    * `pipeline.py:122`). Writes stay strictly sequential, so cross-batch
    * anchor ordering and watermark monotonicity (P5) hold. Lookahead is 1,
    * so peak footprint is two cached batches.
    *
    * The first bundle is cached only when the source has a second batch. A
    * single-batch source (`ParquetSource`, `CsvSource`, `JsonlSource`, any
    * `Iterator.single`) has nothing for a prefetch to overlap, so its bundle
    * is pushed as one lazy plan, with no fill job and no cache. The source
    * decides this, so there is no lookahead option.
    *
    * Why not `count()` per table: under AQE a count over a cached plan is
    * three jobs (the cache stage, the count's shuffle-map stage, the final
    * count). Asking for a persisted RDD partition's iterator computes and
    * stores the whole partition, so one no-exchange job fills every table.
    */
  def run(spark: SparkSession, pipeline: Pipeline): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.Try
    val it = pipeline.source.batches(spark)
    def take(): Option[Tables] =
      if (it.hasNext) Some(processSteps(spark, it.next(), pipeline.steps)) else None
    var current = take()
    val prefetch = it.hasNext
    // the one release rule: unpersist `done`'s tables except a plan `live`
    // also holds. A table passed along in every batch is ONE cache entry
    // (the next batch's persist of it was a no-op), so releasing it with
    // the written batch would leave the next push to re-scan it.
    def release(done: Option[Tables], live: Option[Tables]): Unit =
      if (prefetch) for (b <- done; df <- b.values
                         if !live.exists(_.values.exists(_.sameSemantics(df))))
        Try(df.unpersist())
    // `toDF()` plans afresh against the cache just registered: a
    // DataFrame's own `rdd` is built once, so a static dimension would
    // read a released cache. A failed fill releases what it persisted, or
    // each failure would pin executor memory for the life of the session.
    def fill(stepped: Tables, live: Option[Tables]): Tables = {
      stepped.values.foreach(_.persist())
      try spark.sparkContext.union(stepped.values.toSeq.distinct.map(_.toDF().rdd))
        .foreachPartition(_ => ())
      catch { case e: Throwable => release(Some(stepped), live); throw e }
      stepped
    }
    if (prefetch) current = current.map(fill(_, None))
    // per-INVOCATION executor: a JVM-global single thread would serialize
    // two concurrently-running pipelines' prefetches against each other
    val prefetchEc = ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, "graft-batch-prefetch"); t.setDaemon(true); t
      }))
    try {
      while (current.isDefined) {
        val live = current
        val nextF = Future(take().map(fill(_, live)))(prefetchEc)
        var pushed = false
        try { pipeline.sink.push(current.get); pushed = true }
        finally {
          // awaited even after a failed push, so the outer finally releases
          // what it cached. After a good push its failure must PROPAGATE: a
          // swallowed one would end the loop as if the source were exhausted.
          val next = Try(Await.result(nextF, Duration.Inf))
          release(current, next.toOption.flatten)
          current = next.toOption.flatten
          if (pushed) next.get
        }
      }
    } finally {
      release(current, None)
      prefetchEc.shutdown()
    }
  }

  /** [[run]] under its earlier name. */
  def runPipelined(spark: SparkSession, pipeline: Pipeline): Unit = run(spark, pipeline)
}

/** A bounded micro-batch source (≙ `start_stream`, cherry `pipeline.py:106,
  * 110-113`). Implementations yield lazy bundles; filters/projections stay
  * in the plan so the parquet scan prunes (the Spark analog of the
  * provider's server-side pushdown, SURVEY §2.1).
  */
trait Source {
  def batches(spark: SparkSession): Iterator[Map[String, DataFrame]]
}

/** Whole-directory, single-batch source over the fixture layout. */
final case class ParquetSource(dir: String, tables: Seq[String]) extends Source {
  def batches(spark: SparkSession): Iterator[Map[String, DataFrame]] =
    Iterator.single(graft.sources.Tables.bundle(spark, dir, tables))
}

/** CSV source (≙ cherry S10, the example-level `read_csv` that loads
  * reference dimension tables, `jup_swap.py:196-197`): header + inferred
  * schema, one table per path, single batch.
  */
final case class CsvSource(paths: Map[String, String]) extends Source {
  def batches(spark: SparkSession): Iterator[Map[String, DataFrame]] =
    Iterator.single(paths.map { case (name, p) =>
      name -> spark.read.option("header", "true")
        .option("inferSchema", "true").csv(p)
    })
}

/** JSONL source: newline-delimited JSON with inferred schema, one table
  * per path — the arrival format of most web-scale text corpora.
  */
final case class JsonlSource(paths: Map[String, String]) extends Source {
  def batches(spark: SparkSession): Iterator[Map[String, DataFrame]] =
    Iterator.single(paths.map { case (name, p) => name -> spark.read.json(p) })
}

/** Block-range slicer (≙ EVM Query from_block/to_block, cherry
  * `examples/erc20_custom.py:98-137`): emits one bundle per `step`-sized
  * slice of `rangeColumn`. Each slice's range predicate is pushed to the
  * scan — on a partitioned lake this is partition pruning, so a 100 TB
  * table costs only the slice actually read.
  *
  * Tables WITHOUT `rangeColumn` (static dimensions) ride along IN FULL in
  * every slice — correct for joining, wrong to append-sink per slice
  * (they would duplicate once per slice; write dims once, outside the
  * loop). Rows whose `rangeColumn` is NULL belong to NO slice (a range
  * predicate is null-rejecting, matching the reference's block-keyed
  * semantics where the range column is never null).
  */
final case class BlockRangeSource(dir: String, tables: Seq[String],
                                  rangeColumn: String, fromValue: Long,
                                  toValue: Long, step: Long) extends Source {
  require(step > 0, "step must be positive")
  def batches(spark: SparkSession): Iterator[Map[String, DataFrame]] = {
    // loud typo guard (the AnchorLast policy): a rangeColumn matching NO
    // table would silently disable slicing — every slice emitting every
    // table in full, N-fold duplication through an append sink.
    // Membership follows the SESSION'S resolution rules (case-insensitive
    // unless spark.sql.caseSensitive): a case-sensitive contains() here
    // classified a case-differing table as a static dimension even though
    // df(rangeColumn) below would have resolved on it fine — the exact
    // N-fold duplication this guard exists to prevent (r15 review).
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def hasRangeCol(df: DataFrame): Boolean =
      if (caseSensitive) df.columns.contains(rangeColumn)
      else df.columns.exists(_.equalsIgnoreCase(rangeColumn))
    val probe = graft.sources.Tables.bundle(spark, dir, tables)
    require(probe.values.exists(hasRangeCol),
      s"rangeColumn '$rangeColumn' exists in none of $tables")
    (fromValue until toValue by step).iterator.map { lo =>
      val hi = math.min(lo + step, toValue)
      probe.map { case (name, df) =>
        name -> (if (hasRangeCol(df))
          df.filter(df(rangeColumn) >= lo && df(rangeColumn) < hi)
        else df)
      }
    }
  }
}

/** Remote provider source (≙ cherry `ProviderConfig(kind, url)` + `Query`
  * driving `run_pipeline`, `examples/erc20_custom.py:93-137`): each batch
  * is one `step`-sized block slice read through the wire client
  * ([[graft.sources.WireChainSource]]), so range, requests and field
  * selection all travel to the provider and the micro-batch loop matches
  * the reference's paced pull. `filters` is the provider request channel
  * (column → hex byte values, OR within a column), identical to the
  * `filter.<col>` reader options.
  */
final case class ProviderSource(url: String, table: String,
                                fromBlock: Long, toBlock: Long, step: Long,
                                filters: Map[String, Seq[String]] = Map.empty)
    extends Source {
  require(step > 0, "step must be positive")
  // an EMPTY value list would serialize to filter.<col>="" → a request
  // whose value set is {empty bytes}, matching NOTHING — the pipeline
  // would complete "successfully" having written zero rows. No constraint
  // on a column = omit the column.
  filters.foreach { case (c, vs) =>
    require(vs.nonEmpty,
      s"filter.$c has an empty value list — omit the column for no constraint") }
  def batches(spark: SparkSession): Iterator[Map[String, DataFrame]] =
    (fromBlock until toBlock by step).iterator.map { lo =>
      val hi = math.min(lo + step, toBlock)
      val reader = spark.read
        .format(classOf[graft.sources.WireChainSource].getName)
        .option("url", url).option("table", table)
        .option("fromBlock", lo.toString).option("toBlock", hi.toString)
      val withFilters = filters.foldLeft(reader) { case (r, (c, vs)) =>
        r.option(s"filter.$c", vs.mkString(","))
      }
      Map(table -> withFilters.load())
    }
}

/** A sink (≙ `DataWriter.push_data`, cherry `writers/base.py:9-15`). */
trait Sink {
  def push(tables: Map[String, DataFrame]): Unit
}
