package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** `catalog_mix`: passes over six declared queries, each run through the
  * noop sink. The first pass writes each result to parquet so `run.py` can
  * hash it against the DuckDB oracle's recorded hashes; noop passes then
  * warm the JIT. A query is this workload's batch.
  *
  * Spark's generated-code cache is keyed by the session's class loader, and
  * this mix holds more generated classes than the cache's segments keep.
  * Which classes are evicted, and so how many recompile on every pass,
  * depends on that loader's identity hash: it is fixed for one session and
  * differs from session to session (34 to 79 compilations a pass, worth
  * about a fifth of the pass time). One session is therefore one sample.
  * The run measures one pass in each of several sessions, the first being
  * the warm one and each later one opened on the same SparkContext and
  * primed by an unmeasured pass, and reports each query's mean over the
  * sessions without the fastest and the slowest.
  */
object Catalog {
  /** Kernel/shuffle-bound, then the relational floor. */
  val Queries: Seq[String] = Seq(
    "x76_source_similarity", "x68_span_dedup", "x97_topgram_coverage",
    "q07_groupby_having", "q11_window_rank", "q13_rollup")

  val SetupReps = 3
  /** Noop passes after the checked pass, before measuring: the first
    * passes of a JVM run while the JIT compiles the planner, codegen and
    * scheduler paths.
    */
  val NoopWarmups = 1
  /** Sessions measured at least, even when `--seconds` ends sooner. */
  val MinSessions = 3

  /** One query's measured run. */
  final case class QueryRun(name: String, pass: Int, wallS: Double, fromMs: Long, toMs: Long)

  def run(spark: SparkSession, o: Main.Opts, sessionS: Double, probe: Option[Probe],
          noopWarmups: Int = NoopWarmups, minSessions: Int = MinSessions): Record = {
    val data = o.data
    val outDir = s"${o.work}/catalog"
    def reclaim(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

    // set-up: open every fixture table (median of several), then the warm-up pass
    val loadS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Tables.all.foreach(t => Tables.load(spark, data, t).schema)
      (System.nanoTime() - t0) / 1e9
    }
    val failedQs = mutable.LinkedHashSet.empty[String]
    val resultRows = mutable.HashMap.empty[String, Long]
    var attempted = 0
    val warmS = {
      val t0 = System.nanoTime()
      Queries.foreach { q =>
        attempted += 1
        try {
          SparkEntry.queries(q)(spark, data).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$q")
          resultRows(q) = spark.read.parquet(s"$outDir/$q").count()
        } catch { case e: Exception =>
          failedQs += q
          System.err.println(s"[graftbench] $q failed: $e")
        }
        reclaim()
      }
      (System.nanoTime() - t0) / 1e9
    }
    var failed = failedQs.size
    /** One pass through the noop sink; `pass` < 0 marks a warm-up pass. */
    def noopPass(session: SparkSession, pass: Int): Seq[QueryRun] = {
      System.gc()
      Queries.flatMap { q =>
        attempted += 1
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok = try {
          def body() = SparkEntry.queries(q)(session, data)
            .write.mode("overwrite").format("noop").save()
          probe.fold(body())(_.span("query", 0L, Map("query" -> q, "pass" -> pass))(_ => body()))
          true
        } catch { case e: Exception =>
          System.err.println(s"[graftbench] $q failed: $e")
          false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val ms1 = System.currentTimeMillis()
        reclaim()
        if (ok) Some(QueryRun(q, pass, dt, ms0, ms1))
        else { failed += 1; None }
      }
    }
    val noopWarmS = {
      val t0 = System.nanoTime()
      (1 to noopWarmups).foreach(w => noopPass(spark, -w))
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + Stats.median(loadS) + warmS + noopWarmS

    /** A new session on the same SparkContext, with this session's settings. */
    def nextSession(): SparkSession = {
      val s = spark.newSession()
      spark.conf.getAll.foreach { case (k, v) => if (s.conf.isModifiable(k)) s.conf.set(k, v) }
      s
    }
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    var pass = 0
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (pass < minSessions || System.nanoTime() < deadline) {
      val session = if (pass == 0) spark else nextSession()
      if (pass > 0) noopPass(session, -1 - noopWarmups - pass)  // fills its code cache
      runs ++= noopPass(session, pass)
      pass += 1
    }
    val byQuery = runs.groupBy(_.name).values.map(_.map(_.wallS).toSeq).toSeq
    val passS = byQuery.map(Stats.trimmedMean).sum
    val e2e = Map[String, Any](
      "setup_s" -> setupS,
      "rows_per_s" -> runs.map(_.name).distinct.map(resultRows.getOrElse(_, 0L)).sum / passS,
      "batch_p50_s" -> passS / byQuery.size,
      "batch_p75_s" -> byQuery.map(Stats.quantile(_, 0.75)).sum / byQuery.size,
      "pass_s" -> passS)
    val metrics = probe.fold(e2e)(p => Layers.catalog(spark, p, runs.toSeq, pass, passS))
    Record(attempted, failed, metrics, Map(
      "out" -> outDir, "queries" -> Queries, "failed_queries" -> failedQs.toSeq))
  }
}
