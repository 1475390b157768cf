package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{BlockRangeSource, Pipeline, Sink, Source, Step}
import graft.functions.{GraftFunctions => F}
import graft.sinks.{ParquetSink, Resume}
import graft.steps.Steps

/** `erc20_microbatch`, the ERC-20 product path (the reference flagship,
  * `erc20_custom.py`): `Pipeline.runPipelined` over BlockRangeSource slices
  * of the lake → topic0 filter → Transfer decode → u256_to_decimal →
  * SetChainId → HexEncode → ParquetSink anchored on `blocks` →
  * Resume.maxWatermark. A pass covers the whole lake once.
  */
object Erc20 {
  /** Blocks in the lake: 10 logs each. */
  val Blocks = 20000L
  val Slices = 20
  /** Batches run before measuring: the first batches of a JVM run while the
    * JIT is still compiling the planner, scheduler and commit paths.
    */
  val WarmupBatches = 10

  def steps: Seq[Step] = Seq(
    Steps.Fn((_, t) => t + ("logs" ->
      t("logs").filter(col("topic0") === F.evm_topic0(Lake.TransferSig)))),
    Steps.EvmDecodeEvents(Lake.TransferSig, inputTable = "logs",
      outputTable = "transfers", hstack = true),
    Steps.Fn((_, t) => t + ("transfers" -> t("transfers")
      .withColumn("amount_dec", F.u256_to_decimal(col("amount")))
      .select("block_number", "log_index", "address", "from", "to", "amount_dec"))),
    Steps.SetChainId(1L),
    Steps.HexEncode(tables = Some(Seq("transfers", "blocks"))))

  /** Records the wall-clock instant each push returns: the anchor commit. */
  final class CommitClock(inner: Sink) extends Sink {
    val commits = mutable.ArrayBuffer.empty[Long]
    def push(tables: Map[String, DataFrame]): Unit = {
      inner.push(tables)
      commits += System.nanoTime()
    }
  }

  final class TracedSource(inner: Source, probe: Probe, main: Thread, parent: Long)
      extends Source {
    def batches(spark: SparkSession): Iterator[Map[String, DataFrame]] = {
      val it = probe.span("source.open", parent)(_ => inner.batches(spark))
      new Iterator[Map[String, DataFrame]] {
        def hasNext: Boolean = it.hasNext
        def next(): Map[String, DataFrame] = {
          // the prefetch thread is created per runPipelined call; tagging it
          // here marks every job it submits (the batch materialization)
          if (Thread.currentThread() ne main)
            spark.sparkContext.setLocalProperty(Probe.PrefetchProp, "1")
          probe.span("source.next", parent)(_ => it.next())
        }
      }
    }
  }

  final class TracedStep(inner: Step, probe: Probe, parent: Long) extends Step {
    def apply(spark: SparkSession, t: Map[String, DataFrame]): Map[String, DataFrame] =
      probe.span("steps", parent, Map("step" -> inner.getClass.getSimpleName))(
        _ => inner(spark, t))
  }

  final class TracedSink(inner: Sink, probe: Probe, parent: Long) extends Sink {
    def push(tables: Map[String, DataFrame]): Unit =
      probe.span("push", parent)(_ => inner.push(tables))
  }

  /** One pass's outcome. */
  final case class Pass(wallS: Double, runMs: (Long, Long), measuredMs: (Long, Long),
                        intervals: Seq[Double],
                        stats: Map[String, Any], files: Long, bytes: Long)

  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  private def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    }

  def run(spark: SparkSession, o: Main.Opts, sessionS: Double, probe: Option[Probe],
          warmupBatches: Int = WarmupBatches): Record = {
    val step = Blocks / Slices
    val lake = s"${o.work}/lake"
    probe.foreach(_.listener.lakePath = lake + "/")

    // set-up: generate the lake once; repeating it for a median would cost
    // more per run than the benchmark's time budget holds
    val genS = {
      val t0 = System.nanoTime()
      Lake.write(spark, lake, o.seed, Blocks)
      (System.nanoTime() - t0) / 1e9
    }
    def pass(i: Int, blocks: Long, parent: Long): Pass = {
      val out = s"${o.work}/out/pass-$i"
      rm(new File(out))
      val clock = new CommitClock(ParquetSink(out, anchorTable = Some("blocks")))
      val main = Thread.currentThread()
      val src0 = BlockRangeSource(lake, Seq("blocks", "logs"), "block_number",
        Lake.FirstBlock, Lake.FirstBlock + blocks, step)
      val p = probe match {
        case None => Pipeline(src0, steps, clock)
        case Some(pr) => Pipeline(new TracedSource(src0, pr, main, parent),
          steps.map(new TracedStep(_, pr, parent)), new TracedSink(clock, pr, parent))
      }
      val t0 = System.nanoTime()
      val ms0 = System.currentTimeMillis()
      Pipeline.runPipelined(spark, p)
      val ms1 = System.currentTimeMillis()
      def resume() = Resume.maxWatermark(spark.read.parquet(s"$out/blocks"), "block_number")
      val wm = probe.fold(resume())(_.span("resume", parent)(_ => resume()))
      val wall = (System.nanoTime() - t0) / 1e9
      val ms2 = System.currentTimeMillis()
      val starts = t0 +: clock.commits.dropRight(1)
      val intervals = clock.commits.zip(starts).map { case (c, s) => (c - s) / 1e9 }.toSeq
      val stats = Map[String, Any]("out" -> out, "watermark" -> wm.getOrElse(-1L),
        "batches" -> clock.commits.size)
      val files = if (probe.isDefined) dataFiles(new File(out)) else Nil
      Pass(wall, (ms0, ms1), (ms0, ms2), intervals, stats,
        files.size.toLong, files.map(_.length).sum)
    }

    // warm-up: the lake's first slices, unchecked and discarded
    val warmS = {
      val t0 = System.nanoTime()
      if (warmupBatches > 0) {
        pass(-1, warmupBatches * step, 0L)
        rm(new File(s"${o.work}/out/pass--1"))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + genS + warmS
    // rows a correct pass commits: every Transfer log twice (logs and
    // transfers) plus every block; run.py checks each output with DuckDB
    val rowsPerPass = {
      val lg = spark.read.parquet(s"$lake/logs.parquet")
      2 * lg.filter(col("topic0") === F.evm_topic0(Lake.TransferSig)).count() +
        spark.read.parquet(s"$lake/blocks.parquet").count()
    }
    probe.foreach { p => Probe.drain(spark); p.listener.resetLake() }

    val passes = mutable.ArrayBuffer.empty[Pass]
    var failed = 0
    var attempted = 0
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < deadline) {
      attempted += 1
      val i = attempted - 1
      try passes += probe.fold(pass(i, Blocks, 0L))(
        _.span("pass", 0L, Map("pass" -> i))(id => pass(i, Blocks, id)))
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[graftbench] pass $i failed: $e")
        if (attempted >= 3 && passes.isEmpty) throw e
      }
    }
    val rowsPerS = Stats.median(passes.map(p => rowsPerPass / p.wallS).toSeq)
    val intervals = passes.flatMap(_.intervals).toSeq
    val e2e = Map[String, Any](
      "setup_s" -> setupS,
      "rows_per_s" -> rowsPerS,
      "batch_p50_s" -> Stats.median(intervals),
      "batch_p75_s" -> Stats.quantile(intervals, 0.75),
      "pass_s" -> Stats.median(passes.map(_.wallS).toSeq))
    val metrics = probe.fold(e2e)(p => Layers.pipeline(spark, p, passes.toSeq,
      rowsPerS, Stats.median(intervals)))
    Record(attempted, failed, metrics, Map(
      "lake" -> lake, "rows_per_pass" -> rowsPerPass, "slices" -> Slices,
      "transfer_topic0" -> Lake.transferTopic0Hex, "passes" -> passes.map(_.stats)))
  }
}
