package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * ONE definition shared by the correctness (here) and bench channels:
    * an escaping fix landing in only one of two copies would break the
    * other channel silently.
    */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `oracle_sql.json`'s body — ONE writer for both channels. */
  private[graft] def oracleSqlJson(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [namePrefixes] — got " +
        s"${args.length} argument(s)")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated name-prefix filter for local
    // iteration (driver always runs the full set with 2 args).
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
      // reclaim the previous query's pinned localCheckpoint blocks (the
      // Bench.reclaim rationale: the cleaner can't release them while the
      // suite map may still reference plans; without this the whole
      // suite's blocks accumulate and late queries spill — the r3 class)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a PREVIOUS run's parquet in place:
        // the downstream compare would validate stale output and mask the
        // regression as a pass
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(dir)
          // a delete can fail (open handle on a _temporary file, perms);
          // silence here would let the compare validate the PREVIOUS
          // run's parquet — the exact stale-pass this block exists to
          // prevent, so the untrustworthy state must at least be loud
          if (dir.exists())
            System.err.println(s"[verify] WARNING: stale output $dir " +
              "could not be deleted — its compare result is UNTRUSTWORTHY")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleSqlJson(SparkEntry.oracleSql.toSeq))
    spark.stop()
  }
}
