package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.api.Sink

/** Lakehouse sinks (SURVEY.md §2.6 W3/W4). Thin adapters over the same
  * anchor-last concurrency contract as every other sink: the heavy lifting
  * (transaction log, schema merge, snapshot commit) belongs to the format's
  * own Spark connector, exactly as in the reference where delta-rs /
  * pyiceberg do it (`writers/delta_lake.py:15-54`, `writers/iceberg.py:10-49`).
  *
  * JAR-GATED: this build's zero-egress classpath carries no delta-spark or
  * iceberg-spark-runtime jars, so `push` raises Spark's
  * DATA_SOURCE_NOT_FOUND / catalog error at runtime here. The adapters
  * compile and are fully wired (specs assert the push reaches the format
  * writer); dropping the connector jar on the classpath activates them
  * unchanged — the same 10-line-adapter posture the reference takes.
  */

/** Delta Lake sink (≙ cherry W3 `writers/delta_lake.py:15-54`): append per
  * micro-batch with `mergeSchema` (the reference's `schema_mode="merge"`
  * schema evolution), optional hive partitioning, empty tables skipped
  * (the reference's behavior — also avoids one empty Delta commit of
  * transaction-log churn per table per idle micro-batch), anchor last.
  */
final case class DeltaSink(baseDir: String,
                           partitionBy: Map[String, Seq[String]] = Map.empty,
                           anchorTable: Option[String] = None,
                           mergeSchema: Boolean = true) extends Sink {
  def push(tables: Map[String, DataFrame]): Unit = {
    AnchorLast.requireKnown(partitionBy.keySet, tables, "partitionBy")
    AnchorLast.push(tables, anchorTable) { (name, df) =>
      // documented empty-table skip (the reference's delta writer skips
      // rather than committing empty versions). Cost note: the isEmpty
      // probe is its own job. `Pipeline.run` caches every bundle of a
      // multi-batch source, so there probe and write both read the cache;
      // a single-batch source's lazy bundle runs its upstream twice.
      if (df.isEmpty) ()
      else {
      val w = df.write.format("delta").mode("append")
        .option("mergeSchema", mergeSchema)
      partitionBy.get(name).filter(_.nonEmpty)
        .fold(w)(cols => w.partitionBy(cols: _*))
        .save(s"$baseDir/$name")
      }
    }
  }
}

/** Iceberg sink (≙ cherry W4 `writers/iceberg.py:10-49`): first push
  * creates the table from the arriving schema (the reference's
  * `create_table_if_not_exists`), later pushes append — via Spark's
  * DataFrameWriterV2 against an Iceberg catalog (`tablePrefix` names it,
  * e.g. "local.db."). Anchor last.
  */
final case class IcebergSink(tablePrefix: String,
                             anchorTable: Option[String] = None) extends Sink {
  def push(tables: Map[String, DataFrame]): Unit =
    AnchorLast.push(tables, anchorTable) { (name, df) =>
      val target = tablePrefix + name
      // a missing table surfaces as the catalog's NoSuchTableException OR
      // as the analyzer's TABLE_OR_VIEW_NOT_FOUND AnalysisException,
      // depending on where resolution fails — treat both as first-push
      try df.writeTo(target).append()
      catch {
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
          df.writeTo(target).create()
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null &&
              e.getCondition.contains("TABLE_OR_VIEW_NOT_FOUND") =>
          df.writeTo(target).create()
      }
    }
}
