package graftbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run. Every traced run reports the same
  * names; a layer the workload does not touch reads 0. Times and counts are
  * per measured pass.
  */
object Layers {
  private val pipelineNames = Seq(
    "api.plan_s", "api.push_s", "api.wait_s", "api.prefetch_s", "api.overlap_frac",
    "sources.rows_read", "sources.bytes_read", "sources.read_amp",
    "steps.plan_s",
    "sinks.write_s", "sinks.anchor_s", "sinks.files", "sinks.bytes_written",
    "sinks.resume_s")
  private val kernelNames = Seq("evm_decode_event", "hex_lower", "u256_to_decimal",
    "md5_salted", "hash60").map(k => s"functions.$k.ns_per_row")
  private val queryNames = Catalog.Queries.flatMap(q => Seq(s"sql.$q.s",
    s"ops.$q.checkpoints", s"exec.$q.jobs", s"exec.$q.busy_frac",
    s"exec.$q.shuffle_bytes", s"exec.$q.gc_s"))
  private val execNames = Seq("jobs", "stages", "tasks", "busy_frac", "cpu_s",
    "shuffle_bytes", "spill_bytes", "gc_s").map(n => s"exec.$n")
  private val traceNames = Seq("trace.rows_per_s", "trace.batch_p50_s", "trace.pass_s")

  val names: Seq[String] =
    pipelineNames ++ kernelNames ++ queryNames ++ execNames ++ traceNames

  private def complete(m: Map[String, Double]): Map[String, Any] = {
    val unknown = m.keySet -- names
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }

  /** Totals over a set of jobs, divided by `per`; busy time against `wallMs`. */
  private def execOf(jobs: Seq[JobRec], per: Double, wallMs: Double,
                     prefix: String): Map[String, Double] = Map(
    s"$prefix.jobs" -> jobs.size / per,
    s"$prefix.stages" -> jobs.map(_.stages).sum / per,
    s"$prefix.tasks" -> jobs.map(_.tasks).sum / per,
    s"$prefix.busy_frac" -> (if (wallMs > 0) jobs.map(_.runMs).sum / (wallMs * Main.Cores) else 0.0),
    s"$prefix.cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / per,
    s"$prefix.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum / per,
    s"$prefix.spill_bytes" -> jobs.map(_.spillBytes).sum / per,
    s"$prefix.gc_s" -> jobs.map(_.gcMs).sum / 1e3 / per)

  def pipeline(spark: SparkSession, probe: Probe, passes: Seq[Erc20.Pass],
               rowsPerS: Double, batchP50: Double): Map[String, Any] = {
    Probe.drain(spark)
    val kernels = Kernels.measure(spark)
    val n = passes.size.toDouble
    val l = probe.listener
    val passIds = probe.named("pass").map(_.id).toSet
    def inPass(name: String) = probe.named(name).filter(s => passIds(s.parent))
    def sumS(name: String) = inPass(name).map(_.durS).sum
    val windows = passes.map(_.measuredMs)
    val jobs = windows.flatMap { case (a, b) => l.jobsBetween(a, b) }
    val prefetch = jobs.filter(_.prefetch).map(j => (j.startMs, j.endMs))
    val pushes = inPass("push").map(s => (s.startMs, s.endMs))
    val prefetchS = Probe.unionS(prefetch)
    val runS = passes.map(p => (p.runMs._2 - p.runMs._1) / 1e3).sum
    val writes = l.writeList.filter(w => windows.exists { case (a, b) => w.startMs >= a && w.startMs <= b })
    val (anchor, rest) = writes.partition(_.table == "blocks")
    val rowsInLake = Erc20.Blocks * (1 + Lake.LogsPerBlock)
    complete(kernels ++ Map(
      "api.plan_s" -> (sumS("source.open") + sumS("source.next") + sumS("steps")) / n,
      "api.push_s" -> sumS("push") / n,
      "api.wait_s" -> (runS - sumS("push")) / n,
      "api.prefetch_s" -> prefetchS / n,
      "api.overlap_frac" -> (if (prefetchS > 0) Probe.overlapS(prefetch, pushes) / prefetchS else 0.0),
      "sources.rows_read" -> l.lakeRows / n,
      "sources.bytes_read" -> l.lakeBytes / n,
      "sources.read_amp" -> l.lakeRows / (n * rowsInLake),
      "steps.plan_s" -> sumS("steps") / n,
      "sinks.write_s" -> Probe.unionS(rest.map(w => (w.startMs, w.endMs))) / n,
      "sinks.anchor_s" -> anchor.map(w => (w.endMs - w.startMs) / 1e3).sum / n,
      "sinks.files" -> passes.map(_.files).sum / n,
      "sinks.bytes_written" -> passes.map(_.bytes).sum / n,
      "sinks.resume_s" -> sumS("resume") / n,
      "trace.rows_per_s" -> rowsPerS,
      "trace.batch_p50_s" -> batchP50) ++
      execOf(jobs, n, windows.map { case (a, b) => (b - a).toDouble }.sum, "exec"))
  }

  def catalog(spark: SparkSession, probe: Probe, runs: Seq[Catalog.QueryRun],
              passes: Int, passS: Double): Map[String, Any] = {
    Probe.drain(spark)
    val kernels = Kernels.measure(spark)
    val l = probe.listener
    val n = passes.toDouble
    val perQuery = Catalog.Queries.flatMap { q =>
      val rs = runs.filter(_.name == q)
      if (rs.isEmpty) Nil
      else {
        val jobs = rs.flatMap(r => l.jobsBetween(r.fromMs, r.toMs))
        val wallMs = rs.map(r => (r.toMs - r.fromMs).toDouble).sum
        val per = rs.size.toDouble
        val ex = execOf(jobs, per, wallMs, s"exec.$q")
        val barriers = rs.map(r => l.jobsBetween(r.fromMs, r.toMs).flatMap(_.persisted).toSet.size)
        Seq(s"sql.$q.s" -> Stats.median(rs.map(_.wallS)),
          s"ops.$q.checkpoints" -> barriers.sum / per) ++
          Seq("jobs", "busy_frac", "shuffle_bytes", "gc_s").map(k => s"exec.$q.$k" -> ex(s"exec.$q.$k"))
      }
    }
    val allJobs = runs.flatMap(r => l.jobsBetween(r.fromMs, r.toMs))
    complete(kernels ++ perQuery ++
      execOf(allJobs, n, runs.map(r => (r.toMs - r.fromMs).toDouble).sum, "exec") ++
      Map("trace.pass_s" -> passS))
  }
}
