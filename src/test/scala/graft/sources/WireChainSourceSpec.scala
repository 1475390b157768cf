package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.functions.Hex
import graft.sources.WireProtocol.WireQuery

/** The wire CLIENT proven end-to-end against an in-process provider
  * fixture: pushed scan state travels as query JSON, pages come back as
  * Arrow IPC with `x-graft-next-block` pagination, and the reassembled
  * result is byte-identical to the file-backed source reading the same
  * parquet fixture directly.
  */
class WireChainSourceSpec extends SparkSpec {

  // the ParquetChainSourceSpec fixture: the synthetic source's 400
  // blocks × 3 logs
  private lazy val parquetDir: String =
    ChainFixture.logsDir(spark, "graft-wire", 400L)

  // the provider fixture serves the SAME rows the parquet fixture holds,
  // page-bounded to 37 blocks so every slice must follow pagination
  private lazy val server: WireFixtureServer = {
    val rows = spark.read.parquet(s"$parquetDir/logs")
      .select(ChainSource.logsSchema.fieldNames.map(col): _*)
      .collect().map(_.toSeq.toArray).toIndexedSeq
    val s = new WireFixtureServer(ChainSource.logsSchema, rows,
      "block_number", pageBlocks = 37, height = 400)
    s.start()
    s
  }

  private def readWire(opts: (String, String)*): DataFrame = {
    val r = spark.read.format(classOf[WireChainSource].getName)
      .option("url", server.url).option("table", "logs")
    opts.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load()
  }

  private def readFile(): DataFrame =
    spark.read.format(classOf[ParquetChainSource].getName)
      .option("path", s"$parquetDir/logs").option("table", "logs").load()

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  private def keyed(df: DataFrame): Set[Seq[Any]] =
    df.select(col("block_number"), col("log_index"), hex(col("address")),
        hex(col("topic0")), hex(col("topic1")), hex(col("data")))
      .collect().map(_.toSeq).toSet

  private def drainReceived(): Seq[String] = {
    val out = Seq.newBuilder[String]
    var j = server.received.poll()
    while (j != null) { out += j; j = server.received.poll() }
    out.result()
  }

  test("page decode is batch-lazy and safe to abandon mid-page") {
    val schema = StructType(Seq(ChainSource.logsSchema("block_number"),
      ChainSource.logsSchema("topic0")))
    val rows: IndexedSeq[Array[Any]] = (0L until 100L).map(i =>
      Array[Any](i, ChainSource.topic0Pool((i % 3).toInt)))
    val allocator = new org.apache.arrow.memory.RootAllocator()
    try {
      // batchRows=7 → 15 record batches in one page
      val body = WireProtocol.encodePage(schema, rows, allocator, batchRows = 7)
      // full drain: self-closes on exhaustion, values identical to eager
      val it = WireProtocol.decodePageIterator(schema, body, allocator)
      val drained = it.toVector
      assert(drained.size == 100)
      assert(drained.map(_.getLong(0)) == (0L until 100L))
      it.close() // idempotent after self-close
      // abandoned mid-page (LIMIT / task abort): close() must release the
      // half-read page's Arrow buffers or allocator.close() below throws
      val it2 = WireProtocol.decodePageIterator(schema, body, allocator)
      assert(it2.take(10).toVector.size == 10)
      it2.close()
    } finally allocator.close() // throws "memory leaked" on any leak
  }

  test("paginated pages reassemble to exactly the file-backed source's rows") {
    drainReceived()
    val wire = readWire("fromBlock" -> "0", "toBlock" -> "400",
      "numPartitions" -> "3")
    assert(keyed(wire) == keyed(readFile()))
    // 400 blocks / 37-block pages ≥ 11 queries across 3 slices: the client
    // followed x-graft-next-block instead of assuming one page per slice
    val queries = drainReceived()
    assert(queries.size >= 11, s"only ${queries.size} wire queries — pagination not followed")
  }

  test("oracle-style equality: wire and parquet plans hash-identical end-to-end") {
    // the CORRECTNESS-gate shape (rows + schema + order-independent value
    // hash, columns sorted by name — the driver's compare) applied to a
    // realistic chain query: topic0-filtered log scan → u256 decode of the
    // data payload → per-address aggregate, once through the HTTP wire
    // client against the fixture server, once through the file source over
    // the same parquet. Proves the full stack (pushdown serialization,
    // pagination, Arrow decode, Catalyst decode expressions) end-to-end,
    // not just raw row reassembly.
    def q(src: DataFrame): DataFrame = src
      .filter(col("block_number") < 300 &&
        col("topic0") === lit(ChainSource.topic0Pool(1)))
      .groupBy(hex(col("address")).as("address_hex"))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.GraftFunctions.u256_to_decimal(col("data")))
          .as("sum_value"))
    def fingerprint(df: DataFrame): (Long, Seq[String], String) = {
      val cols = df.columns.sorted.toSeq
      val rowHash = md5(concat_ws("\u0001",
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
      val agg = df.select(rowHash.as("h"))
        .agg(count(lit(1)).as("n"),
          // order-independent: sum of the hash prefixes as unsigned ints
          sum(conv(substring(col("h"), 1, 8), 16, 10)
            .cast("decimal(38,0)")).as("s"))
        .head()
      (agg.getLong(0), cols, String.valueOf(agg.get(1)))
    }
    val wire = fingerprint(q(readWire("fromBlock" -> "0", "toBlock" -> "400",
      "numPartitions" -> "3")))
    val file = fingerprint(q(readFile()))
    assert(wire._1 > 0, "query must return rows")
    assert(wire == file, s"wire $wire != file $file")
  }

  test("pushed range + request filters appear in the wire query JSON") {
    drainReceived()
    val t0 = ChainSource.topic0Pool(0)
    val df = readWire("toBlock" -> "400")
      .filter(col("block_number") >= 100 && col("topic0") === lit(t0))
    assert(df.count() == 300) // (b+i)%3==0 → 1 log/block for blocks 100..399
    // no Spark-side residual: the source consumed the whole predicate
    assert(df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.isEmpty)
    assert(scanOf(df).scan.description().contains("topic0:1"))
    val qs = drainReceived().map(WireProtocol.parseQuery)
    assert(qs.nonEmpty)
    // every wire query carries the pushed range and the topic0 request
    assert(qs.forall(q => q.fromBlock >= 100 && q.toBlock <= 400))
    assert(qs.map(_.fromBlock).min == 100)
    assert(qs.forall(_.requests == Seq(ChainReq(Map("topic0" -> Set(t0.toSeq))))))
  }

  test("contradictory pushdown plans zero partitions and zero wire traffic") {
    drainReceived()
    // In ∩ EqualTo disjoint: a contradiction Catalyst does NOT fold itself
    // (plain a=X AND a=Y already becomes an empty LocalTableScan upstream),
    // so it must flow through ChainReq.and → requests == Seq.empty
    val df = readWire("toBlock" -> "400")
      .filter(col("topic0").isin(ChainSource.topic0Pool(0),
                ChainSource.topic0Pool(1)) &&
              col("topic0") === lit(ChainSource.topic0Pool(2)))
    assert(df.count() == 0)
    assert(scanOf(df).scan.description().contains("reqs=none"))
    assert(drainReceived().isEmpty,
      "a provably-empty scan must not query the provider")
  }

  test("empty request list round-trips as match-nothing on the wire") {
    val cols = Seq("block_number", "log_index", "topic0")
    val none = WireQuery("logs", 0, 400, Seq.empty, cols)
    // serialization preserves emptiness: [] ≠ [{}] (the ADVICE inversion)
    assert(none.toJson.contains("\"requests\":[]"))
    assert(WireProtocol.parseQuery(none.toJson) == none)
    val all = WireQuery("logs", 0, 400, Seq(ChainReq(Map.empty)), cols)
    assert(all.toJson.contains("\"requests\":[{}]"))
    assert(WireProtocol.parseQuery(all.toJson) == all)
    // and the server honors both: [] selects nothing, [{}] selects the page
    val allocator = new org.apache.arrow.memory.RootAllocator()
    try {
      val schema = StructType(cols.map(ChainSource.logsSchema(_)))
      val pNone = WireHttp.query(server.url, none.toJson)
      assert(WireProtocol.decodePage(schema, pNone.body, allocator).isEmpty)
      val pAll = WireHttp.query(server.url, all.toJson)
      // first page: 37 blocks × 3 logs
      assert(WireProtocol.decodePage(schema, pAll.body, allocator).size == 111)
      assert(pAll.nextBlock == 37 && pAll.height == 400)
    } finally allocator.close()
    drainReceived()
  }

  test("column pruning reaches the wire field_selection") {
    drainReceived()
    val df = readWire("toBlock" -> "400").select("block_number")
    assert(df.schema.fieldNames.toSeq == Seq("block_number"))
    assert(df.distinct().count() == 400)
    val qs = drainReceived().map(WireProtocol.parseQuery)
    assert(qs.nonEmpty && qs.forall(_.cols == Seq("block_number")))
  }

  test("absent toBlock defaults to the provider's archive height") {
    val df = readWire()
    assert(df.count() == 1200)
    assert(scanOf(df).scan.description().contains("head"))
  }

  test("filter.<col> option channel reaches the wire requests") {
    drainReceived()
    val addr2 = ChainSource.addressPool(2)
    val df = readWire("toBlock" -> "400", "filter.address" -> Hex.encode(addr2))
    // b%5==2 → 80 blocks × 3 logs
    assert(df.count() == 240)
    val qs = drainReceived().map(WireProtocol.parseQuery)
    assert(qs.forall(_.requests == Seq(ChainReq(Map("address" -> Set(addr2.toSeq))))))
  }

  test("transient provider failures are retried; query errors fail fast") {
    drainReceived()
    // two 503s, then healthy: the scan must succeed without Spark-level
    // task retries (local mode has maxFailures=1 — one uncaught IOException
    // would fail the job)
    server.failNext.set(2)
    val df = readWire("fromBlock" -> "0", "toBlock" -> "40",
      "numPartitions" -> "1", "retryBackoffMs" -> "1")
    assert(df.count() == 120)
    assert(server.failNext.get() <= 0)
    // a malformed query (unknown field_selection column) is a 400-class
    // error: surfaces immediately, never retried
    drainReceived()
    val bad = WireProtocol.WireQuery("logs", 0, 10,
      Seq(ChainReq(Map.empty)), Seq("no_such_column"))
    intercept[WireHttp.WireClientException] {
      WireHttp.retry(3, 1)(WireHttp.query(server.url, bad.toJson))
    }
    assert(drainReceived().size == 1, "4xx must not be retried")
  }

  test("ProviderSource drives the pipeline loop through the wire client") {
    drainReceived()
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-pipe").toString
    val t0 = ChainSource.topic0Pool(0)
    graft.api.Pipeline.run(spark, graft.api.Pipeline(
      source = graft.api.ProviderSource(server.url, "logs", 0L, 400L,
        step = 200L, filters = Map("topic0" -> Seq(Hex.encode(t0)))),
      steps = Seq(graft.steps.Steps.SetChainId(7L)),
      sink = graft.sinks.ParquetSink(dir)))
    val out = spark.read.parquet(s"$dir/logs")
    assert(out.count() == 400) // (b+i)%3==0 → 1 matching log per block
    assert(out.select("chain_id").distinct().head().getLong(0) == 7L)
    assert(out.agg(min("block_number"), max("block_number")).head() ==
      Row(0L, 399L))
    // the request filter travelled the wire in BOTH slice batches
    val qs = drainReceived().map(WireProtocol.parseQuery)
    assert(qs.forall(_.requests == Seq(ChainReq(Map("topic0" -> Set(t0.toSeq))))))
    assert(qs.map(_.fromBlock).min == 0 && qs.map(_.toBlock).max == 400)
  }

  test("streaming decode pipeline over the wire survives a mid-write crash " +
      "and resumes to batch-exact tables") {
    // The composed e2e the r8 verdict asked for: a topic0-filtered decode
    // pipeline driven through the WIRE client in STREAMING mode — height-
    // paced micro-batches (≥3 across the run), anchor-last parquet sink,
    // a crash DURING the anchor write, sink-driven resume — ending in
    // full-row equality with the same pipeline planned as one batch scan
    // through the same wire source. Composes the r7 wire pushdown/paging
    // features with the r8 streaming/admission-control path.
    import graft.steps.Steps
    drainReceived()
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-stream").toString
    val out = s"$dir/out"
    val t0 = ChainSource.topic0Pool(1) // (b+i)%3==1 → exactly 1 log/block

    def steps(poisonAnchorFrom: Option[Long]): Seq[graft.api.Step] = {
      val base = Seq(
        Steps.EvmDecodeEvents("Evt(uint256 v)", inputTable = "logs",
          outputTable = "transfers", hstack = true),
        Steps.SetChainId(7L),
        Steps.HexEncode(tables = Some(Seq("transfers"))))
      // poisoned ANCHOR write: fires lazily when the logs table is written —
      // AFTER transfers (non-anchor, AnchorLast writes it first), which is
      // exactly the mid-write crash window
      base ++ poisonAnchorFrom.map { from =>
        Steps.Fn((_, t) => t + ("logs" -> t("logs").filter(
          when(col("block_number") >= lit(from),
            raise_error(lit("injected crash"))).isNull)))
      }
    }

    def startStream(fromBlock: Long, checkpoint: String, poison: Option[Long]) =
      graft.streaming.Streaming.pipelineWriter(
        spark.readStream.format(classOf[WireChainSource].getName)
          .option("url", server.url).option("table", "logs")
          .option("fromBlock", fromBlock.toString).option("toBlock", "400")
          .option("blocksPerBatch", "100").option("numPartitions", "2")
          .option("filter.topic0", Hex.encode(t0)) // streaming pushdown channel
          .load(),
        tableName = "logs",
        steps = steps(poison),
        sink = graft.sinks.ParquetSink(out, anchorTable = Some("logs")),
        checkpointDir = checkpoint).start()

    // ---- phase 1: archive height 300 (pacing cap), crash on anchor ≥ 200 ----
    server.height = 300
    val q1 = startStream(0L, s"$dir/cp1", poison = Some(200L))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    val causes = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10).map(t => String.valueOf(t.getMessage)).toSeq
    assert(causes.exists(_.contains("injected crash")),
      s"stream died for the wrong reason: $causes")
    // the stream paced on x-graft-height: no wire query ran past block 300
    // even though toBlock=400, and the topic0 request travelled every query
    val qs1 = drainReceived().map(WireProtocol.parseQuery)
    assert(qs1.nonEmpty && qs1.forall(_.toBlock <= 300),
      s"query past the archive height: ${qs1.map(q => (q.fromBlock, q.toBlock))}")
    assert(qs1.forall(_.requests == Seq(ChainReq(Map("topic0" -> Set(t0.toSeq))))))
    // anchor-last held: transfers is one full micro-batch ahead of the anchor
    assert(spark.read.parquet(s"$out/transfers").count() == 300) // blocks 0..299
    assert(spark.read.parquet(s"$out/logs").count() == 200)      // blocks 0..199
    val wm = graft.sinks.Resume.maxWatermark(
      spark.read.parquet(s"$out/logs"), "block_number")
    assert(wm.contains(199L))

    // ---- phase 2: archive catches up; resume from the SINK watermark with a
    // fresh checkpoint (sink-driven resume — a lost checkpoint is harmless) ----
    server.height = 400
    val q2 = startStream(wm.get + 1, s"$dir/cp2", poison = None)
    q2.processAllAvailable()
    q2.stop()
    // ≥2 more non-empty micro-batches here (blocksPerBatch=100 over [200,400))
    // → ≥3 non-empty micro-batches across the run
    assert(q2.recentProgress.count(_.numInputRows > 0) >= 2)

    // anchor table: exactly-once — one matching log per block, no dup, no gap
    val anchor = spark.read.parquet(s"$out/logs")
    assert(anchor.count() == 400)
    assert(anchor.select("block_number", "log_index").distinct().count() == 400)
    assert(anchor.agg(min("block_number"), max("block_number")).head() ==
      Row(0L, 399L))
    // data table: at-least-once — the crashed batch [200,300) replayed
    val transfers = spark.read.parquet(s"$out/transfers")
    assert(transfers.count() == 500)
    val dups = transfers.groupBy("block_number", "log_index")
      .count().filter(col("count") =!= 1)
    assert(dups.count() == 100)
    assert(dups.agg(min("block_number"), max("block_number")).head() ==
      Row(200L, 299L))

    // key-dedup reproduces the SAME pipeline planned as one BATCH scan
    // through the same wire source, full row compare
    val batchTables = graft.api.Pipeline.processSteps(spark,
      Map("logs" -> readWire("fromBlock" -> "0", "toBlock" -> "400",
        "filter.topic0" -> Hex.encode(t0))),
      steps(None))
    val expected = batchTables("transfers")
    val deduped = transfers.dropDuplicates("block_number", "log_index")
    assert(deduped.count() == 400)
    assert(expected.columns.sorted.sameElements(deduped.columns.sorted))
    val key = (df: DataFrame) =>
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet
    assert(key(deduped) == key(expected))
    drainReceived()
  }

  test("micro-batch stream paces on x-graft-height") {
    server.height = 200 // provider has only archived half the range
    val q = spark.readStream.format(classOf[WireChainSource].getName)
      .option("url", server.url).option("table", "logs")
      .option("fromBlock", "0").option("toBlock", "400")
      .option("blocksPerBatch", "100").option("numPartitions", "2")
      .load()
      .writeStream.format("memory").queryName("wire_stream")
      .start()
    try {
      q.processAllAvailable()
      // paced at the head: only blocks < height admitted
      assert(spark.table("wire_stream").count() == 600)
      server.height = 400 // the archive catches up; the stream follows
      q.processAllAvailable()
      assert(spark.table("wire_stream").count() == 1200)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    } finally q.stop()
    drainReceived()
  }
}
