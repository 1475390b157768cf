package graft.tools

import java.nio.file.{Files, Paths}
import graft.{GraftSession, SparkEntry}

/** Plan evidence per declared query (`<outDir>/<query>_<tag>.txt`): its
  * oracle SQL, its optimized logical plan and `.explain("formatted")`.
  * The first two are a refactor's identity check — dump both commits and
  * diff above the `-- formatted plan` line; the plan drops what differs
  * between two runs of one plan: `#N` expression ids, lambda-name counter
  * suffixes (`x_12` → `x`) and array identity hashes (`[F@7c69` → `[F@`).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  * (no or an empty query list: every declared query).
  */
object PlanDump {
  private[tools] def normalize(plan: String): String =
    plan.replaceAll("#\\d+", "").replaceAll("(lambda \\w+)_\\d+", "$1")
      .replaceAll("(\\[[A-Z])@[0-9a-f]+", "$1@")

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: PlanDump <sfDir> <outDir> <tag> [q1,q2,...]")
    val Array(sfDir, outDir, tag) = args.take(3)
    val listed = args.drop(3).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val names = if (listed.isEmpty) SparkEntry.catalog.keys.toSeq.sorted else listed.toSeq
    val spark = GraftSession.getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val c = SparkEntry.catalog.getOrElse(name, sys.error(s"unknown query $name"))
      // release the previous query's plan-time checkpoints (Verify's rule)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val qe = c.build(spark, sfDir).queryExecution
      val out = Paths.get(outDir, s"${name}_$tag.txt")
      Files.writeString(out, s"-- oracle SQL\n${c.oracle}\n\n" +
        s"-- optimized logical plan\n${normalize(qe.optimizedPlan.toString)}\n" +
        "-- formatted plan\n" +
        qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      println(s"[plandump] wrote $out")
    }
    spark.stop()
  }
}
