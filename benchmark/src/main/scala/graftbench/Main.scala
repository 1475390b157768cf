package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> --data <catalog dir> --out <result.json>
  *   graftbench.Main --dump-oracle <file.json>
  *
  * Writes one JSON record to `--out`: the end-to-end metrics (trace 0) or
  * the per-layer metrics (trace 1), the operation counts, and the raw
  * figures `run.py` checks against DuckDB.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, data: String, out: String)

  /** Cores and shuffle partitions of the pinned session. */
  val Cores = 4

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), kv.getOrElse("data", ""), need("out"))
  }

  def session(work: String): SparkSession = {
    val s = GraftSession.builder(master = s"local[$Cores]", shufflePartitions = Cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) {
      // the oracle SQL of the catalog queries, for record_expected.py
      val sql = Catalog.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
      Files.writeString(Paths.get(args(1)), Json(sql))
      sys.exit(0)
    }
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    val spark = session(o.work)
    val sessionS = sinceJvmStart()
    val probe = if (o.trace) Some(Probe.install(spark)) else None
    val rec = try o.workload match {
      case "erc20_microbatch" => Erc20.run(spark, o, sessionS, probe)
      case "catalog_mix"      => Catalog.run(spark, o, sessionS, probe)
      // loads the classes of every workload, for the class-sharing archive
      case "prime" =>
        Erc20.run(spark, o, sessionS, probe, warmupBatches = 0)
        Catalog.run(spark, o, sessionS, probe, noopWarmups = 0, minSessions = 2)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    probe.foreach(_.writeSpans(s"${o.work}/trace-${o.workload}-${o.seed}.jsonl"))
    val metrics = rec.metrics ++
      (if (o.trace) Map.empty[String, Any] else Map("peak_rss_mb" -> peakRssMb()))
    val out = rec.copy(metrics = metrics)
    Files.writeString(Paths.get(o.out), Json(out.toMap))
    sys.exit(0)
  }
}

/** What one workload run hands back to `run.py`. */
final case class Record(attempted: Int, failed: Int,
                        metrics: Map[String, Any], checks: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics, "checks" -> checks)
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case m: Map[_, _]         => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_]       => s.map(apply).mkString("[", ", ", "]")
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number            => n.toString
    case other                => str(other.toString)
  }
  private def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }.mkString("\"", "", "\"")
}

/** Order statistics shared by the workloads. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Mean without the lowest and the highest sample, from three samples on. */
  def trimmedMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    val s = if (xs.size >= 3) xs.sorted.slice(1, xs.size - 1) else xs
    s.sum / s.size
  }
}
