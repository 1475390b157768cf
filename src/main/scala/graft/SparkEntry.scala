package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The corpus-curation composite exercises the engine end-to-end on its
    * PRODUCTION path: quality scoring → exact dedup → LSH-candidate-then-
    * verify near-dup removal → connected components, in one lazy plan —
    * the plan a 100 TB curation run executes, on the one-permutation
    * MinHash signatures (x124: one hash per shingle, measured 1.66×
    * faster end-to-end than the classic 16-hash x64 at sf1, identical
    * verified-pair contract) — never the quadratic exact-enumeration
    * calibration baseline (x34).
    */
  def entry(spark: SparkSession): DataFrame =
    sql.ExtensionQueries.queries("x124_corpus_curation_oph")(spark, "/root/testdata/sf0.001")
  /** Every declared query with its DuckDB oracle: the parity set (Q1-Q15)
    * and the training-data-pipeline extensions (x16-x179).
    */
  val catalog: Map[String, sql.QueryCase] =
    merge(sql.ParityQueries.catalog, sql.ExtensionQueries.catalog)
  /** One catalog from the per-object ones; a name that two of them declare
    * is rejected, where `++` would let the later one shadow it. */
  private[graft] def merge(catalogs: Map[String, sql.QueryCase]*): Map[String, sql.QueryCase] =
    sql.QueryCase.catalog(catalogs.flatten: _*)
  def queries: Map[String, (SparkSession, String) => DataFrame] = catalog.transform((_, c) => c.build)
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = catalog.transform((_, c) => c.oracle)
}
