package graft.sinks

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

import graft.api.Sink

/** The reference's writer concurrency contract
  * (`writers/clickhouse.py:167-186`): every non-anchor table writes
  * CONCURRENTLY (each `df.write` is its own Spark job — concurrent submission
  * lets the scheduler overlap their stages), and the anchor table writes
  * strictly AFTER all of them complete, so a present anchor row proves the
  * whole batch landed (resume pattern P5). Any failed table write propagates
  * before the anchor is attempted.
  */
private[sinks] object AnchorLast {
  def push(tables: Map[String, DataFrame], anchorTable: Option[String])
          (write: (String, DataFrame) => Unit): Unit = {
    // a typo'd anchor name would silently write the REAL anchor table
    // concurrently with its siblings — the resume pattern would then read
    // an advanced anchor watermark past rows a crash lost (P5's exact
    // failure mode); fail immediately instead
    require(anchorTable.forall(tables.contains),
      s"anchorTable ${anchorTable.get} is not a bundle table " +
        s"(tables: ${tables.keys.toSeq.sorted.mkString(", ")})")
    val (anchor, rest) = tables.partition { case (n, _) => anchorTable.contains(n) }
    // per-PUSH writer threads: a thread copies Spark's local properties
    // (job group, description, scheduler pool) only when it is created, so
    // a shared pool's reused thread would run this push's writes under the
    // caller that created it. Write jobs block their thread on the Spark
    // action, so the cached pool sizes itself to the batch's table count.
    val pool = java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-sink-write"); t.setDaemon(true); t
    })
    val ec = ExecutionContext.fromExecutorService(pool)
    try {
      val inFlight = rest.toSeq.map { case (n, df) => Future(write(n, df))(ec) }
      // await ALL writes before propagating any failure: bailing on the
      // first would leave sibling write jobs running in the background,
      // racing a caller's retry of the same batch (duplicate rows with no
      // crash) — collect every outcome, then raise the first failure
      val outcomes = inFlight.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      outcomes.collectFirst { case scala.util.Failure(e) => throw e }
    } finally pool.shutdown()
    anchor.foreach { case (n, df) => write(n, df) }
  }

  /** The shared loud-typo guard for per-table sink configuration
    * (partitionBy / buckets / partitioning maps): a key naming NO bundle
    * table would silently leave that table written with the DEFAULT
    * layout — consumers lose the promised pruning/co-location and only
    * find out by inspecting output (one definition, r15: the same
    * 4-line block lived in three sinks).
    */
  def requireKnown(configured: Set[String], tables: Map[String, DataFrame],
                   what: String): Unit = {
    val unknown = configured -- tables.keySet
    require(unknown.isEmpty,
      s"$what names unknown table(s): ${unknown.toSeq.sorted.mkString(",")} " +
        s"(bundle has: ${tables.keySet.toSeq.sorted.mkString(",")})")
  }
}

/** Sinks (SURVEY.md §2.6). Common semantics preserved from the reference:
  * (a) anchor-table ordering — all non-anchor tables first, anchor LAST
  * (cherry `writers/clickhouse.py:167-186`, `writers/delta_lake.py:34-54`,
  * `writers/pyarrow_dataset.py:39-56`) so the resume pattern (P5) can treat
  * a present anchor row as proof the whole batch landed;
  * (b) first-write auto-creation from the arriving schema;
  * (c) append-mode micro-batch pushes.
  */

/** Parquet dataset sink (≙ cherry W5 `writers/pyarrow_dataset.py:13-56`):
  * hive partitioning, max-rows-per-file knob, append per batch. At scale
  * each table write is its own Spark job; partition columns give consumers
  * static + dynamic partition pruning.
  */
final case class ParquetSink(baseDir: String,
                             partitionBy: Map[String, Seq[String]] = Map.empty,
                             anchorTable: Option[String] = None,
                             maxRecordsPerFile: Long = 1048576L) extends Sink {
  def push(tables: Map[String, DataFrame]): Unit = {
    AnchorLast.requireKnown(partitionBy.keySet, tables, "partitionBy")
    AnchorLast.push(tables, anchorTable) { (name, df) =>
      val w = df.write.mode("append")
        .option("maxRecordsPerFile", maxRecordsPerFile)
      partitionBy.get(name).filter(_.nonEmpty)
        .fold(w)(cols => w.partitionBy(cols: _*))
        .parquet(s"$baseDir/$name")
    }
  }
}

/** Session-catalog table sink (≙ cherry W1 DuckDB `writers/duckdb.py:17-52`:
  * CREATE TABLE AS on first push, INSERT INTO after — here saveAsTable
  * append does both). JDBC/warehouse sinks share this shape.
  *
  * `buckets` maps table name → (key column, bucket count) for Spark
  * BUCKETING on a join key — the co-located join layout: every listed
  * table is hash-bucketed (and bucket-sorted) on its declared key into the
  * same bucket count, so a later equi-join of two tables from this sink
  * requires NO shuffle of either side — the sort-merge join reads aligned
  * buckets directly (`BucketedJoinSpec` asserts Exchange-free plans). At
  * 100 TB this is the difference between paying a corpus-sized exchange on
  * EVERY downstream join and paying a one-time bucketed write: the
  * standing layout for fact tables that are repeatedly joined on the same
  * key (docs↔scores, blocks↔logs) — Spark's answer to the warehouse sinks'
  * ORDER BY/index declarations (ClickHouse `writers/clickhouse.py:119-148`).
  *
  * Tables not in the map write unbucketed. Same loud-typo policy as
  * ParquetSink.partitionBy: a key naming no pushed table fails instead of
  * silently writing an unbucketed layout the consumer can't see is wrong.
  * (This relies on the engine's bundle contract: the step fold emits a
  * STABLE key set every batch, with a no-rows table present as an empty
  * DataFrame rather than absent — so an absent configured table really is
  * a typo, not a quiet batch.)
  */
final case class CatalogSink(tablePrefix: String = "",
                             anchorTable: Option[String] = None,
                             buckets: Map[String, (String, Int)] = Map.empty)
    extends Sink {
  require(buckets.values.forall(_._2 > 0), "bucket counts must be positive")
  def push(tables: Map[String, DataFrame]): Unit = {
    AnchorLast.requireKnown(buckets.keySet, tables, "buckets")
    AnchorLast.push(tables, anchorTable) { (name, df) =>
      val w = df.write.mode("append")
      buckets.get(name)
        .fold(w) { case (key, n) => w.bucketBy(n, key).sortBy(key) }
        .saveAsTable(tablePrefix + name)
    }
  }
}

object Resume {
  /** The crash-resume watermark (cherry P5, `examples/erc20_custom.py:41-50`:
    * `SELECT MAX(block_number) FROM transfers` at startup → next from_block).
    * Returns None when the sink is empty or ABSENT (first run) — any other
    * failure PROPAGATES: a blanket catch here once turned a transient read
    * error into "no watermark", silently re-ingesting the entire history.
    * Integer-family watermark columns widen via Number (an int
    * block_number must not ClassCastException).
    *
    * The absence allowlist covers the path/catalog sinks (parquet,
    * catalog tables, Delta's DELTA_PATH_DOES_NOT_EXIST). JDBC absence is
    * deliberately NOT caught: a missing warehouse table surfaces as the
    * driver's SQLException, indistinguishable here from a connection
    * failure — and treating a down warehouse as "first run" is exactly
    * the silent-full-re-ingest this method refuses. A JDBC caller probes
    * table existence itself (e.g. JDBC metadata) and passes the known
    * state, or lets the first run fail loudly once and creates the table.
    */
  def maxWatermark(df: => DataFrame, column: String): Option[Long] = {
    val head =
      try Some(df.agg(max(col(column))).head())
      catch {
        // absent sink = first run — but ONLY the missing-table/path
        // conditions qualify: an UNRESOLVED_COLUMN (typo'd watermark
        // column against a fully populated sink) must propagate, or the
        // pipeline would silently restart from block 0 and re-ingest the
        // whole history into an append sink
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.startsWith("PATH_NOT_FOUND") ||
                c.startsWith("TABLE_OR_VIEW_NOT_FOUND") ||
                c.startsWith("UNABLE_TO_INFER_SCHEMA") ||
                // Delta raises its own condition for a missing table dir
                // (verified against delta-spark's error classes; the jar
                // is env-absent here, so this arm is doc-tested only)
                c.startsWith("DELTA_PATH_DOES_NOT_EXIST")) =>
          None
      }
    head.flatMap { r =>
      if (r.isNullAt(0)) None
      else Some(r.get(0) match {
        case n: Number => n.longValue()
        case other => throw new IllegalArgumentException(
          s"watermark column $column is non-numeric: ${other.getClass}")
      })
    }
  }
}
