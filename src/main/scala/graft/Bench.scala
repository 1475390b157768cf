package graft
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Bench {
  /** Counts whole-stage codegen fallbacks: Spark keeps no counter for
    * them, only the WARN `WholeStageCodegenExec` logs when a stage's
    * generated code fails to compile and the stage runs without it.
    */
  private object Fallbacks extends AbstractAppender(
      "graft-bench-codegen-fallbacks", null, null, true, Property.EMPTY_ARRAY) {
    private val n = new AtomicLong
    def count: Long = n.get
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.startsWith("Whole-stage codegen disabled"))
        n.incrementAndGet()
    def install(): Unit = {
      start()
      LogManager.getLogger(classOf[WholeStageCodegenExec])
        .asInstanceOf[CoreLogger].addAppender(this)
    }
  }

  /** Generated-code work so far in this JVM: classes compiled (every
    * successful compile updates CodegenMetrics' compile-time histogram
    * once), compile nanos (CodeGenerator's accumulator; the histogram
    * keeps no sum) and whole-stage fallbacks.
    */
  private def codegenNow: (Long, Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      Fallbacks.count)

  /** Local property naming the query whose timed reps submit a job. */
  private val QueryKey = "graft.bench.query"
  private val Marker = "<marker>"

  /** One completed stage: wall ms, tasks, executor run ms, and the first
    * `graft.` frame of its call site that is not the runner's own (the
    * operator that created it), else the stage's name.
    */
  private[graft] final case class StageRec(ms: Long, tasks: Int, cpuMs: Long,
                                           where: String)

  /** One query's Spark work, summed over its timed reps. */
  private[graft] final class QueryExec {
    var jobs, stages, tasks = 0
    var cpuMs, shuffleWriteBytes, spillBytes = 0L
    /** The three slowest stages, slowest first. */
    var slowest = List.empty[StageRec]
  }

  /** The suite runner's listener: every job started under [[QueryKey]],
    * and the stages of that job, count toward that query. Listener events
    * arrive in order, so once [[drain]] returns true every job posted
    * before it has been counted and [[records]] is complete.
    */
  private[graft] final class ExecTally extends SparkListener {
    private val byQuery = mutable.Map.empty[String, QueryExec]
    private val stageQuery = mutable.Map.empty[Int, QueryExec]
    private val markers = new Semaphore(0)

    def records: Map[String, QueryExec] = synchronized(byQuery.toMap)

    def tagged[T](sc: SparkContext, query: String)(body: => T): T = {
      sc.setLocalProperty(QueryKey, query)
      try body finally sc.setLocalProperty(QueryKey, null)
    }

    /** Run a marker job and wait (bounded) until the listener has seen it. */
    def drain(sc: SparkContext): Boolean = {
      tagged(sc, Marker)(sc.parallelize(Seq(1), 1).count())
      markers.tryAcquire(60, TimeUnit.SECONDS)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(QueryKey))).foreach {
        case Marker => markers.release()
        case q =>
          val r = byQuery.getOrElseUpdate(q, new QueryExec)
          r.jobs += 1
          e.stageIds.foreach(stageQuery(_) = r)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageQuery.get(si.stageId).foreach { r =>
        val m = Option(si.taskMetrics)
        val cpuMs = m.fold(0L)(_.executorRunTime)
        r.stages += 1
        r.tasks += si.numTasks
        r.cpuMs += cpuMs
        r.shuffleWriteBytes += m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)
        r.spillBytes += m.fold(0L)(t => t.memoryBytesSpilled + t.diskBytesSpilled)
        val ms = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        val where = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.Bench"))
          .getOrElse(si.name.takeWhile(_ != '\n')).trim.take(110)
        r.slowest = (StageRec(ms, si.numTasks, cpuMs, where) :: r.slowest)
          .sortBy(-_.ms).take(3)
      }
    }
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  private def heapUsedMb: Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20

  /** Fixed-work hardware calibration probe (r16; SURVEY §6.1): a PINNED
    * md5+regex loop over a constant generated fixture — the kernel mix
    * (hash, regex, string) whose host sensitivity drove the r14→r15
    * recorded-band drift (+32–49% on unchanged code). NEVER change the
    * work definition across rounds: `probe_sec` in the artifact is the
    * per-host normalizer that lets two rounds' totals be compared
    * (ratio_normalized = ratio × probe_ref/probe_host); the DuckDB side
    * runs its own pinned probe (`probe_oracle_sec`) so both engines'
    * host factors are visible. Warm once, best of 2 — the suite
    * methodology in miniature.
    */
  private val ProbeSql =
    "SELECT sum(length(regexp_replace(md5(cast(id AS string)), " +
      "'[0-7a-f]', ''))) AS s FROM range(400000)"
  private def probeSec(spark: SparkSession): Double = {
    def run(): Double = {
      val t0 = System.nanoTime()
      spark.sql(ProbeSql).collect()
      (System.nanoTime() - t0) / 1e9
    }
    run() // warmup (codegen + JIT)
    math.min(run(), run())
  }

  /** Time each oracle SQL in DuckDB over the same parquet
    * (MEDIAN-of-reps, default 3 — the same steady-state statistic the
    * Spark side headlines since r20, so the gate ratio compares like
    * with like), returning a JSON fragment
    * `"oracle_total":…,"oracle_queries":{…}` or None when DuckDB
    * is unavailable (zero-egress containers without the driver toolchain)
    * or disabled via SPARK_GRAFT_BENCH_ORACLE=0.
    */
  private def oracleTimings(sfDir: String, names: Seq[String]): Option[String] = {
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_ORACLE", "1") == "0") return None
    // created OUTSIDE the main try so the finally can always clean it up —
    // but in its OWN try: a full /tmp or bad perms is an oracle-side
    // failure and must degrade to None (the stated contract), not crash
    // the whole bench run
    val tmp = try Files.createTempDirectory("graft-bench-oracle")
    catch { case e: Exception =>
      System.err.println(s"[bench] oracle timing skipped: ${e.getMessage}")
      return None }
    try {
      val sqls = SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .filter { case (n, _) => names.contains(n) }
      if (sqls.isEmpty) return None
      Files.writeString(tmp.resolve("oracle_sql.json"), Verify.oracleSqlJson(sqls))
      // one view per fixture parquet file — tools/selfcheck.py's rule,
      // so the two DuckDB channels always name the same tables; per-view
      // try so ONE unreadable file only skips the queries that need it,
      // not the whole denominator
      Files.writeString(tmp.resolve("oracle_bench.py"),
        s"""import glob, json, os, sys, time, duckdb
          |sf, sql_path, reps = sys.argv[1], sys.argv[2], int(sys.argv[3])
          |qs = json.load(open(sql_path))
          |con = duckdb.connect()
          |for f in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
          |    t = os.path.basename(f)[:-len(".parquet")]
          |    fq = f.replace("'", "''")  # quote-safe inside the SQL literal
          |    try:
          |        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fq}')")
          |    except Exception as e:
          |        print(f"skipping view {t}: {e}", file=sys.stderr)
          |# pinned fixed-work probe (the Bench.ProbeSql twin): DuckDB's own
          |# host factor, warm once then best of 2
          |probe_sql = ("SELECT sum(length(regexp_replace(md5(i::VARCHAR), "
          |             "'[0-7a-f]', '', 'g'))) FROM range(400000) t(i)")
          |probe = None
          |try:
          |    con.execute(probe_sql).fetchall()
          |    for _ in range(2):
          |        t0 = time.perf_counter()
          |        con.execute(probe_sql).fetchall()
          |        dt = time.perf_counter() - t0
          |        probe = dt if probe is None else min(probe, dt)
          |except Exception as e:
          |    print(f"probe skipped: {e}", file=sys.stderr)
          |out = {}
          |for name in sorted(qs):
          |    # median of reps — the Spark side's r20 headline statistic,
          |    # mirrored so the gate ratio compares like with like
          |    times = []
          |    try:
          |        for _ in range(reps):
          |            t0 = time.perf_counter()
          |            con.execute(qs[name]).fetchall()
          |            times.append(time.perf_counter() - t0)
          |    except Exception as e:
          |        print(f"skipping query {name}: {e}", file=sys.stderr)
          |        continue
          |    times.sort()
          |    mid = len(times) // 2
          |    out[name] = (times[mid] if len(times) % 2 == 1
          |                 else (times[mid - 1] + times[mid]) / 2)
          |if not out:
          |    # an all-skipped run must DEGRADE (no oracle number), not
          |    # report oracle_total 0 as if it were a measurement
          |    print("no oracle queries timed", file=sys.stderr)
          |    sys.exit(3)
          |# probe key BEFORE oracle_queries: the Scala side's name-set
          |# parser reads everything after "oracle_queries" as query names
          |rec = {"oracle_total": sum(out.values())}
          |if probe is not None:
          |    rec["probe_oracle_sec"] = probe
          |rec["oracle_queries"] = out
          |print(json.dumps(rec))
          |""".stripMargin)
      val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORACLE_REPS", "3")
      // named failure like SPARK_GRAFT_BENCH_REPS — reps <= 0 would leave
      // best = None in python and die as an anonymous TypeError
      require(reps.toIntOption.exists(_ >= 1),
        s"SPARK_GRAFT_BENCH_ORACLE_REPS must be an integer >= 1 (got '$reps')")
      // BOTH streams go to files: reading a stdout pipe to EOF deadlocks
      // when the child fills the ~64KB stderr pipe first, and a blocking
      // readAllBytes has no way to time out — a single wedged DuckDB plan
      // must DEGRADE the oracle (its design contract), not hang the bench
      val errFile = tmp.resolve("oracle_bench.err").toFile
      val outFile = tmp.resolve("oracle_bench.out").toFile
      // 30 min covers the sf0.1 suite with lots of headroom; the sf1+
      // co-measures need more (the r17 sf1 oracle ran 27.6 min and the
      // suite has grown since) — override per run, never permanently
      val timeoutMin = sys.env
        .getOrElse("SPARK_GRAFT_BENCH_ORACLE_TIMEOUT_MIN", "30")
      require(timeoutMin.toIntOption.exists(_ >= 1),
        "SPARK_GRAFT_BENCH_ORACLE_TIMEOUT_MIN must be an integer >= 1 " +
          s"(got '$timeoutMin')")
      val proc = new ProcessBuilder("python3",
        tmp.resolve("oracle_bench.py").toString, sfDir,
        tmp.resolve("oracle_sql.json").toString, reps)
        .redirectError(errFile).redirectOutput(outFile).start()
      val done = proc.waitFor(timeoutMin.toLong,
        java.util.concurrent.TimeUnit.MINUTES)
      if (!done) {
        proc.destroyForcibly()
        System.err.println("[bench] oracle timing skipped: timed out " +
          s"after $timeoutMin minutes")
        None
      } else if (proc.exitValue() != 0) {
        val err = Files.readString(errFile.toPath)
        System.err.println(s"[bench] oracle timing skipped: $err")
        None
      } else {
        val out = Files.readString(outFile.toPath)
        val obj = out.trim.linesIterator.toSeq.last.trim
        Some(obj.stripPrefix("{").stripSuffix("}"))
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] oracle timing skipped: ${e.getMessage}")
        None
    } finally {
      // one leaked temp dir per bench run adds up across automated rounds
      try {
        val d = tmp.toFile
        Option(d.listFiles()).foreach(_.foreach(_.delete()))
        d.delete()
      } catch { case _: Exception => () }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // JSON-escaped once for every output line: a quote or backslash in
    // the path must not make all three bench artifacts unparseable
    val sfJ = Verify.jsonEscape(sfDir)
    // Best-of-N per query within one JVM: a single timing per query conflates
    // steady-state plan cost with whatever JIT/GC/compilation pressure the
    // 50+ preceding queries left behind (observed round 3: unchanged queries
    // drifting +38% suite-wide). The min of 3 repeats is the steady-state
    // plan cost; mean-vs-min spread is reported as a noise diagnostic.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // fail in milliseconds with the env var named, not after the first
    // query's runs with an anonymous empty.min
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1 (got $reps)")
    // Optional comma-separated prefix filter (e.g. "q" = parity queries
    // only) for fresh-JVM subset runs when diagnosing cross-query pressure.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // Optional EXACT-name exclusion (r17): the sf1+ decade runs must
    // drop the declared quadratic calibration exhibits (x21-exact/x34/
    // x40/x42/x80) from BOTH engines — their DuckDB mirrors alone
    // exceed the oracle window at 50k docs, and a prefix filter cannot
    // express "everything but five names".
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val spark = GraftSession.getOrCreate()
    val sc = spark.sparkContext
    Fallbacks.install()
    val exec = new ExecTally
    sc.addSparkListener(exec)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.startsWith)) && !skip.contains(n) }
    val gc0 = gcMillis
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // Untimed, before EVERY run (a query's first run, each of its timed
    // reps, the closing probe): a blocking release of the blocks the
    // previous run PINNED — localCheckpoints, the one block class
    // Spark's ContextCleaner can't reclaim while a plan might still
    // reference them. Each run builds fresh plans and fresh checkpoint
    // blocks, so the previous run's are pure old-gen ballast: left in
    // place they promoted exactly the garbage whose collection landed
    // inside a later rep's timer. Blocking, so the removal does not race
    // the next run and the GC below runs after it.
    var sinceGc = 0
    def reclaim(boundary: Boolean): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // At a query boundary, a GATED full GC (r15): ContextCleaner only
      // releases shuffle/broadcast state on GC, so execution memory
      // otherwise silently fills and later aggregations spill (r3: x22
      // 1.4 s → 16 s). Not per rep and not unconditional: forced
      // collections per rep (r8) or per query (r15) were themselves most
      // of the artifact's gc_sec — pressure the harness manufactured.
      // Two triggers remain: heap genuinely filling (used > max/2), and a
      // fixed every-16-queries cadence, because the cleaner also frees
      // DISK-side shuffle/broadcast files that the heap check cannot see.
      if (boundary) {
        sinceGc += 1
        val usage = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        if (usage.getUsed * 2 > usage.getMax || sinceGc >= 16) {
          System.gc()
          sinceGc = 0
        }
      }
    }
    // noop sink forces FULL evaluation (projections, sorts, windows) —
    // count() would let Catalyst prune everything but the row count.
    def save(fn: (SparkSession, String) => DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    // GC time spent INSIDE timed reps, separated from boundary/harness
    // collections: the one number that distinguishes "the engine's plan
    // allocates too much" from "the window was hot" without re-running
    // anything. Accumulated per rep around the same timer.
    var gcTimedMs = 0L
    // per query, summed over its timed reps: classes compiled, compile
    // ms and whole-stage fallbacks (a warm cache compiles nothing)
    val codegen = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    val results = selected.map { case (name, fn) =>
      reclaim(boundary = true)
      // The query's first run, untimed, right before its timed reps: they
      // measure steady-state execution, not one-time JIT and codegen
      // compilation (a long-running engine amortizes compilation across
      // thousands of queries; the oracle engine has no JIT tax). Per
      // query, because one pass of the whole suite generates more classes
      // than the codegen cache holds.
      try save(fn)
      catch { case e: Throwable =>
        // named, not swallowed: a warmup failure (even an OOM) means the
        // timed reps run codegen-cold — the reader of an inflated median
        // needs to see why
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
      val (c0, ns0, f0) = codegenNow
      // per-QUERY accumulator, folded into the global count only for
      // queries that survive: a failed query's reps are excluded from
      // every reported number, so their collector time must not appear
      // in gc_timed_sec either (it would be GC attributable to nothing
      // the artifact shows)
      var qGcMs = 0L
      val times = exec.tagged(sc, name)((1 to reps).map { _ =>
        reclaim(boundary = false)
        val g0 = gcMillis
        val t0 = System.nanoTime()
        try save(fn)
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        val dt = (System.nanoTime() - t0) / 1e9
        qGcMs += gcMillis - g0
        dt
      })
      if (!failed.contains(name)) gcTimedMs += qGcMs
      val (c1, ns1, f1) = codegenNow
      codegen(name) = (c1 - c0, ns1 - ns0, f1 - f0)
      (name, times.min, times.sum / times.size, times)
    }
      // a failed query's time-to-failure must NOT flatter the headline
      // total (an AnalysisException at 0.05s would replace the query's
      // real ~2s cost); failures are excluded from every number and
      // carried as an explicit key the reader can see
      .filterNot { case (name, _, _, _) => failed.contains(name) }
    // 4-decimal (0.1 ms) per-query floats: full-precision doubles bloated
    // the round-7 stdout line enough to matter for the driver's bounded
    // tail capture; 0.1 ms is below measurement noise anyway. Locale.ROOT,
    // NOT the f-interpolator: default-locale formatting renders a comma
    // decimal separator on comma-decimal JVMs — invalid JSON, the exact
    // parse failure this line exists to avoid.
    def num(v: Double, dec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
    // Per-query MEDIAN is the headline statistic (r20, VERDICT r19 #6):
    // best-of-N systematically picks each query's luckiest window, so
    // two rounds running the judge had to adjudicate outlier reps by
    // hand; the median is the steady-state number a reader can trust
    // directly (the oracle side mirrors it — same statistic, both
    // engines). Best-of stays in the artifact as `best_total` and the
    // raw reps as `query_reps`, so the old headline is recomputable.
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val qMed = results.map { case (k, _, _, ts) => (k, median(ts)) }
    val medianTotal = qMed.map(_._2).sum
    // the `name:median` JSON map of the full line and of its chunk lines
    def medianMap(rows: Seq[(String, Double)]): String =
      rows.map { case (k, m) => s"${Verify.jsonEscape(k)}:${num(m, 4)}" }
        .mkString("{", ",", "}")
    val qs = medianMap(qMed)
    val bestTotal = results.map(_._2).sum
    val meanTotal = results.map(_._3).sum
    val repsDetail = results.map { case (k, _, _, ts) =>
      s"${Verify.jsonEscape(k)}:[${ts.map(num(_, 4)).mkString(",")}]"
    }.mkString("{", ",", "}")
    val gcSec = (gcMillis - gc0) / 1e3
    // the listener has counted every timed job once it sees the marker
    if (!exec.drain(sc)) System.err.println(
      "[bench] listener missed the marker job: query_exec may be incomplete")
    val execs = exec.records
    // fixed-work host calibration, measured in the SAME JVM state the
    // suite just ran in (post-timed-pass, post-reclaim)
    reclaim(boundary = true)
    val probe = probeSec(spark)
    // Per-query ORACLE timings in the same harness (same machine, same
    // parquet, same min-of-N methodology): the 2× gate denominator should
    // be measured per round, not carried over from an old round. DuckDB is
    // driver-side tooling (the correctness oracle), so this shells out to
    // it and degrades gracefully where it's absent — the measurement
    // harness, not the engine, depends on it.
    // Failed queries are excluded from the Spark totals above, so they
    // must be excluded from the oracle denominator too — otherwise the
    // headline ratio compares mismatched query sets (flattering the
    // engine by the failed queries' oracle time).
    val oracleFrag =
      oracleTimings(sfDir, selected.map(_._1).filterNot(failed.contains))
    // oracle_total rides along on the compact line as ONE scalar so the
    // headline ratio is self-contained; the per-query oracle map does NOT
    // (round 7 lesson: the ~2.5KB oracle_queries fragment pushed the head
    // of the line out of the driver's bounded TAIL capture window →
    // BENCH_r07 "parsed": null). Full detail goes only to the file.
    def oracleScalar(key: String): Option[(String, String)] = oracleFrag
      .flatMap(f => ("\"" + key + "\"\\s*:\\s*([0-9.eE+-]+)").r
        .findFirstMatchIn(f).map(_.group(1)))
      .map(key -> _)
    // The oracle script SKIPS queries DuckDB can't run (per-query try) —
    // those stay in the Spark total, so value/oracle_total would compare
    // mismatched sets exactly like the Spark-failure case handled above.
    // When the sets differ, also emit the Spark total over the queries
    // the oracle DID time, plus the missing names, so the reader computes
    // a matched ratio instead of a silently flattered one.
    val oracleNames = oracleFrag.map { f =>
      val i = f.indexOf("\"oracle_queries\"")
      if (i < 0) Set.empty[String]
      else "\"([^\"]+)\"\\s*:".r.findAllMatchIn(f.substring(i + 16))
        .map(_.group(1)).toSet
    }.filter(ns => ns.nonEmpty && ns != results.map(_._1).toSet)
    // the matched Spark total uses the same per-query MEDIAN the
    // headline does — one statistic everywhere
    val matchedPairs: Seq[(String, String)] = oracleNames.map { ns =>
      Seq("oracle_matched_value" ->
        num(qMed.filter(r => ns(r._1)).map(_._2).sum, 4),
        "oracle_missing" -> qMed.map(_._1).filterNot(ns)
          .map(Verify.jsonEscape).mkString("[", ",", "]"))
    }.getOrElse(Nil)
    // Every artifact line serializes ONCE from an ordered key→rawJson
    // pair list (r20, ADVICE r19 #3) — no string surgery on an
    // already-serialized line, so a key reordering can never silently
    // produce malformed JSON.
    def obj(pairs: Seq[(String, String)]): String =
      pairs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val failedPair: Seq[(String, String)] =
      if (failed.isEmpty) Nil
      else Seq("failed" -> failed.map(Verify.jsonEscape)
        .mkString("[", ",", "]"))
    // Compact headline line — printed LAST so the driver's tail capture
    // always contains it whole. Extra diagnostic keys (mean_total vs value
    // = noise spread; gc_sec = collector pressure) ride along; the driver
    // reads metric/value/queries and ignores the rest.
    val corePairs: Seq[(String, String)] = Seq(
      "metric" -> "\"total\"",
      "value" -> num(medianTotal, 4),
      "unit" -> "\"sec\"",
      "headline" -> "\"median_of_reps\"",
      "queries" -> qs,
      "reps" -> reps.toString,
      "median_total" -> num(medianTotal, 4),
      "best_total" -> num(bestTotal, 4),
      "mean_total" -> num(meanTotal, 4),
      "gc_sec" -> num(gcSec, 3),
      "gc_timed_sec" -> num(gcTimedMs / 1e3, 3),
      "heap_mb" -> heapUsedMb.toString,
      "probe_sec" -> num(probe, 4)) ++
      oracleScalar("probe_oracle_sec") ++ oracleScalar("oracle_total") ++
      matchedPairs ++ failedPair
    val sfPair = Seq("sf" -> sfJ)
    val line = obj(corePairs ++ sfPair)
    // Full artifact (compact keys + per-rep detail + the whole per-query
    // oracle map) is persisted to a file the judge can read in full: sbt
    // prefixes stdout with [info], which broke the driver's parse in
    // round 1.
    val oracleQueriesPair: Seq[(String, String)] = oracleFrag
      .flatMap { f =>
        val i = f.indexOf("\"oracle_queries\"")
        // the fragment is `"oracle_queries": {...}` — value starts at `:`
        if (i < 0) None
        else Some("oracle_queries" ->
          f.substring(f.indexOf(':', i + 16) + 1).trim)
      }.toSeq
    val codegenDetail = results.map { case (k, _, _, _) =>
      val (compiles, nanos, fallbacks) = codegen(k)
      s"${Verify.jsonEscape(k)}:" + obj(Seq("compiles" -> compiles.toString,
        "compile_ms" -> num(nanos / 1e6, 1), "fallbacks" -> fallbacks.toString))
    }.mkString("{", ",", "}")
    val execDetail = results.map { case (k, _, _, _) =>
      val r = execs.getOrElse(k, new QueryExec)
      val slowest = r.slowest.map(st => obj(Seq("ms" -> st.ms.toString,
        "tasks" -> st.tasks.toString, "cpu_ms" -> st.cpuMs.toString,
        "where" -> Verify.jsonEscape(st.where))))
      s"${Verify.jsonEscape(k)}:" + obj(Seq("jobs" -> r.jobs.toString,
        "stages" -> r.stages.toString, "tasks" -> r.tasks.toString,
        "cpu_ms" -> r.cpuMs.toString,
        "shuffle_write_bytes" -> r.shuffleWriteBytes.toString,
        "spill_bytes" -> r.spillBytes.toString,
        "slowest_stages" -> slowest.mkString("[", ",", "]")))
    }.mkString("{", ",", "}")
    val fullLine = obj(corePairs ++ Seq("query_reps" -> repsDetail,
      "query_codegen" -> codegenDetail, "query_exec" -> execDetail) ++
      oracleQueriesPair ++ sfPair)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    // an unwritable output path must not take the stdout headline down
    // with it — the two artifacts are independent channels
    try Files.writeString(Paths.get(outFile), fullLine + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] failed to write $outFile: ${e.getMessage}") }
    println(line)
    // Per-query medians as BOUNDED chunk lines (r21, VERDICT r20 #1): the
    // full line above grows with the suite and its HEAD falls out of the
    // driver's bounded TAIL capture (r20: `per_query` empty, `n_common` 0
    // — the whole round-over-round comparison had to be reconstructed by
    // hand from truncated tails). Re-emitting the same medians as many
    // small `per_query_part` lines keeps every individual line far below
    // any plausible capture window, so each line that lands in the tail
    // parses whole and the driver can merge the parts it sees. Purely
    // additive output — the timed path, the full line, and the final
    // summary line are unchanged.
    val partSize = 12
    val parts = qMed.grouped(partSize).toSeq
    parts.zipWithIndex.foreach { case (grp, i) =>
      println(obj(Seq(
        "metric" -> "\"per_query_part\"",
        "part" -> (i + 1).toString,
        "parts" -> parts.size.toString,
        "headline" -> "\"median_of_reps\"",
        "queries" -> medianMap(grp)) ++ sfPair))
    }
    // The per-query map alone is ~2 KB at 72 queries, which has pushed the
    // line's HEAD out of the driver's bounded tail capture twice (r07, r11
    // both landed "parsed": null). Emit a second, ~150-byte summary line
    // LAST — everything the gate ratio needs, nothing per-query — so the
    // tail capture always contains one whole parseable record no matter
    // how many queries the suite grows. COUNTS, not name lists, for the
    // oracle-missing/failed keys: the full lists on the first line and in
    // the file artifact grow with the suite, which is the exact unbounded-
    // line failure this summary exists to avoid.
    val matchedCountPairs: Seq[(String, String)] = oracleNames.map { ns =>
      Seq("oracle_matched_value" ->
        num(qMed.filter(r => ns(r._1)).map(_._2).sum, 4),
        "n_oracle_missing" -> qMed.map(_._1).count(n => !ns(n)).toString)
    }.getOrElse(Nil)
    val failedCountPair: Seq[(String, String)] =
      if (failed.isEmpty) Nil else Seq("n_failed" -> failed.size.toString)
    println(obj(Seq(
      "metric" -> "\"total\"",
      "value" -> num(medianTotal, 4),
      "unit" -> "\"sec\"",
      "headline" -> "\"median_of_reps\"",
      "n_queries" -> results.size.toString,
      "probe_sec" -> num(probe, 4)) ++
      oracleScalar("probe_oracle_sec") ++ oracleScalar("oracle_total") ++
      matchedCountPairs ++ failedCountPair ++ sfPair))
    spark.stop()
  }
}
