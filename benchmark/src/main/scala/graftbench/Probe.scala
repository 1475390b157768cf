package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.StorageLevel

/** The traced run's instruments, all registered from outside the engine:
  * in-memory spans around each call into a layer, and a SparkListener that
  * records jobs, task metrics, lake-scan rows and sink write executions.
  * Nothing here exists in an untraced run.
  */
final class Probe {
  import Probe._

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new ExecListener

  /** Time `body` as a span; `parent` links it to its caller's span. */
  def span[T](name: String, parent: Long = 0L, attrs: Map[String, Any] = Map.empty)
             (body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body(id)
    finally {
      val s = Span(id, parent, name, t0, t0 + (System.nanoTime() - n0) / 1000000L,
        (System.nanoTime() - n0) / 1e9, Thread.currentThread().getName, attrs)
      spans.synchronized(spans += s)
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Write every span and every listener job as one JSON line each. */
  def writeSpans(path: String): Unit = {
    val lines = all.map(s => Json(Map("span" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_s" -> s.durS, "thread" -> s.thread) ++ s.attrs)) ++
      listener.jobList.map(j => Json(Map("job" -> j.id, "name" -> "job",
        "call_site" -> j.callSite, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "tasks" -> j.tasks, "run_s" -> j.runMs / 1e3, "gc_s" -> j.gcMs / 1e3,
        "shuffle_bytes" -> j.shuffleBytes, "prefetch" -> j.prefetch)))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Probe {
  /** Local property marking jobs submitted by a pipeline's prefetch thread. */
  val PrefetchProp = "graftbench.prefetch"

  final case class Span(id: Long, parent: Long, name: String, startMs: Long,
                        endMs: Long, durS: Double, thread: String,
                        attrs: Map[String, Any])

  def install(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p.listener)
    p
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Total length of the union of [start, end) intervals, in seconds. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS max 0L; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Length of the intersection of two interval sets, in seconds. */
  def overlapS(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Double = {
    val merged = b.filter(i => i._2 > i._1)
    unionS(a.flatMap { case (s, e) => merged.flatMap { case (bs, be) =>
      val lo = math.max(s, bs); val hi = math.min(e, be)
      if (hi > lo) Some((lo, hi)) else None } })
  }
}

/** One Spark job as the listener saw it. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String,
                   val prefetch: Boolean, val persisted: Set[Int]) {
  @volatile var endMs: Long = startMs
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var stages = 0
}

/** One SQL execution that wrote a sink table. */
final case class WriteRec(table: String, startMs: Long, endMs: Long)

/** Listener half of the probe. Lake scans are recognised by the scan node's
  * location; sink writes by the write command's target path.
  */
final class ExecListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val scanRowIds = mutable.HashSet.empty[Long]
  private val writeStart = mutable.HashMap.empty[Long, (String, Long)]
  private val writes = mutable.ArrayBuffer.empty[WriteRec]
  /** Path fragment of the scans counted as source reads. */
  @volatile var lakePath: String = "\u0000"
  @volatile var lakeRows = 0L
  @volatile var lakeBytes = 0L

  def jobList: Seq[JobRec] = synchronized(jobs.values.toList)
  def writeList: Seq[WriteRec] = synchronized(writes.toList)
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobList.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
  def resetLake(): Unit = synchronized { lakeRows = 0L; lakeBytes = 0L }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    // a result stage is named after the job's call site ("count at X.scala:1")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val pre = props.exists(p => p.getProperty(Probe.PrefetchProp) == "1")
    // RDDs with a storage level: the cache and localCheckpoint barriers
    // the job computes or reads
    val persisted = e.stageInfos.flatMap(_.rddInfos)
      .filter(_.storageLevel != StorageLevel.NONE).map(_.id).toSet
    val j = new JobRec(e.jobId, e.time, site, pre, persisted)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
    val scanned = e.taskInfo.accumulables.filter(a => scanRowIds.contains(a.id))
    if (scanned.nonEmpty) {
      lakeRows += scanned.flatMap(_.update).map(_.toString.toLong).sum
      if (m != null) lakeBytes += m.inputMetrics.bytesRead
    }
  }

  private def walk(p: SparkPlanInfo): Iterator[SparkPlanInfo] =
    Iterator.single(p) ++ p.children.iterator.flatMap(walk)

  private def notePlan(execId: Long, plan: SparkPlanInfo, time: Option[Long]): Unit =
    walk(plan).foreach { n =>
      if (n.nodeName.startsWith("Scan parquet") &&
          n.metadata.get("Location").exists(_.contains(lakePath)))
        n.metrics.filter(_.name == "number of output rows")
          .foreach(mi => scanRowIds += mi.accumulatorId)
      if (n.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
        time.foreach { t =>
          val target = "file:[^,\\s]+".r.findFirstIn(n.simpleString).getOrElse("")
          writeStart(execId) = (target.split('/').last, t)
        }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        notePlan(s.executionId, s.sparkPlanInfo, Some(s.time))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        notePlan(u.executionId, u.sparkPlanInfo, None)
      case x: SparkListenerSQLExecutionEnd =>
        writeStart.remove(x.executionId).foreach { case (t, s) =>
          writes += WriteRec(t, s, x.time) }
      case _ =>
    }
  }
}
