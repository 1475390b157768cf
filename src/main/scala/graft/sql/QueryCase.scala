package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: `build(spark, sfDir)` plans it over the tables in
  * `sfDir`, and `oracle` is DuckDB SQL over the same parquet tables whose
  * result the driver hash-compares against it (columns sorted by name).
  */
final case class QueryCase(build: (SparkSession, String) => DataFrame, oracle: String)

object QueryCase {
  /** The catalog of `entries`, keyed once per name. A `Map(...)` literal
    * silently keeps the last of two equal keys; this rejects the repeat.
    */
  def catalog(entries: (String, QueryCase)*): Map[String, QueryCase] = {
    val repeated = entries.groupBy(_._1).collect { case (k, es) if es.size > 1 => k }
    require(repeated.isEmpty,
      s"query name declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }
}
