package graft.steps

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.api.{ParquetSource, Pipeline}
import graft.sinks.{ParquetSink, Resume}

/** Step-library specs mirroring the reference's `tests/test_steps.py`
  * golden style: tiny 2-row tables, exact expected outputs.
  */
class StepsSpec extends SparkSpec {
  import spark.implicits._

  private def bundle(dfs: (String, DataFrame)*): Map[String, DataFrame] = dfs.toMap

  test("Cast: strict cast and try_cast null-on-failure (test_steps.py:30-77)") {
    val t = Seq(("1", "x"), ("2", "3")).toDF("a", "b")
    val strict = Steps.Cast("t", Map("a" -> LongType))(spark, bundle("t" -> t))("t")
    assert(strict.schema("a").dataType == LongType)
    assert(strict.select("a").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val tryc = Steps.Cast("t", Map("b" -> LongType), allowCastFail = true)(
      spark, bundle("t" -> t))("t")
    assert(tryc.select("b").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet == Set(None, Some(3L)))
    intercept[Exception] {
      Steps.Cast("t", Map("b" -> LongType))(spark, bundle("t" -> t))("t")
        .collect() // strict cast of 'x' must throw (ANSI)
    }
  }

  test("CastByType rewrites every matching column across tables") {
    val t1 = Seq((1, 2L)).toDF("a", "b")
    val t2 = Seq((3, "s")).toDF("c", "d")
    val out = Steps.CastByType(IntegerType, DoubleType)(
      spark, bundle("t1" -> t1, "t2" -> t2))
    assert(out("t1").schema("a").dataType == DoubleType)
    assert(out("t1").schema("b").dataType == LongType)
    assert(out("t2").schema("c").dataType == DoubleType)
    assert(out("t2").schema("d").dataType == StringType)
  }

  test("HexEncode: all binary cols → lowercase 0x-prefixed (test_steps.py:88-108)") {
    val t = Seq((Array[Byte](0xde.toByte, 0xad.toByte), "keep"))
      .toDF("bin", "s")
    val out = Steps.HexEncode()(spark, bundle("t" -> t))("t")
    assert(out.select("bin").as[String].head() == "0xdead")
    assert(out.select("s").as[String].head() == "keep")
    val bare = Steps.HexEncode(prefixed = false)(spark, bundle("t" -> t))("t")
    assert(bare.select("bin").as[String].head() == "dead")
  }

  test("Base58Encode step matches golden vectors (test_steps.py:12-27)") {
    val t = Seq(Tuple1("asd".getBytes)).toDF("bin")
    val out = Steps.Base58Encode()(spark, bundle("t" -> t))("t")
    assert(out.select("bin").as[String].head() == "ZjVd")
  }

  test("SetChainId drops then appends constant chain_id (test_steps.py:131-158)") {
    val t = Seq((1, 999L)).toDF("a", "chain_id")
    val out = Steps.SetChainId(10L)(spark, bundle("t" -> t))("t")
    assert(out.select("chain_id").as[Long].head() == 10L)
    assert(out.columns.count(_ == "chain_id") == 1)
  }

  test("EvmValidateBlockData flags broken hash chains") {
    val blocks = Seq(
      (1L, "h1", "h0"), (2L, "h2", "h1"), (3L, "h3", "WRONG"))
      .toDF("block_number", "hash", "parent_hash")
    val out = Steps.EvmValidateBlockData()(spark, bundle("blocks" -> blocks))("blocks")
    val valid = out.select("block_number", "valid").as[(Long, Boolean)]
      .collect().toMap
    assert(valid(1L) && valid(2L) && !valid(3L))
  }

  test("EvmValidateBlockData default is bucketed (parallel window), exact at boundaries") {
    import org.apache.spark.sql.catalyst.plans.logical
    // chain of 25 blocks with one break exactly AT a bucket boundary (20):
    // the boundary link is only checked if the carrier row crosses buckets.
    val blocks = (0L until 25L).map { n =>
      val parent = if (n == 20L) "WRONG" else s"h${n - 1}"
      (n, s"h$n", parent)
    }.toDF("block_number", "hash", "parent_hash")
    val out = Steps.EvmValidateBlockData(bucketSize = 10L)(
      spark, bundle("blocks" -> blocks))("blocks")
    val valid = out.select("block_number", "valid").as[(Long, Boolean)]
      .collect().toMap
    assert(valid.size == 25)
    assert(!valid(20L))
    assert((0L until 25L).filter(_ != 20L).forall(valid))
    // the window is partitioned — never a global Window.orderBy
    val w = out.queryExecution.optimizedPlan
      .collectFirst { case w: logical.Window => w }.get
    assert(w.partitionSpec.nonEmpty, "default plan used a global window")
  }

  test("EvmValidateBlockData bucketSize<=0 is the global exact opt-in") {
    import org.apache.spark.sql.catalyst.plans.logical
    val blocks = Seq((1L, "h1", "h0"), (5L, "h5", "h4"))
      .toDF("block_number", "hash", "parent_hash")
    val out = Steps.EvmValidateBlockData(bucketSize = 0L)(
      spark, bundle("blocks" -> blocks))("blocks")
    // gap 1→5: global window compares h5's parent (h4) against h1 → invalid
    val valid = out.select("block_number", "valid").as[(Long, Boolean)]
      .collect().toMap
    assert(valid(1L) && !valid(5L))
    val w = out.queryExecution.optimizedPlan
      .collectFirst { case w: logical.Window => w }.get
    assert(w.partitionSpec.isEmpty)
  }

  test("single-table steps reject a table the bundle lacks, naming its tables") {
    val tables = bundle("blocks" -> Seq(1L).toDF("block_number"),
      "logs" -> Seq("1").toDF("v"))
    val steps = Seq(
      Steps.Cast("log", Map("v" -> LongType)),
      Steps.U256FromString("log", Seq("v")),
      Steps.EvmValidateBlockData(blocksTable = "block"))
    steps.foreach { step =>
      val e = intercept[IllegalArgumentException](step(spark, tables))
      assert(e.getMessage.contains("the bundle has: blocks, logs"),
        e.getMessage)
    }
  }

  test("EvmDecodeMultiEvents.fromAbiDb loads a glaciers-style signature db file") {
    import graft.functions.Keccak
    val transferSig = "Transfer(address indexed from, address indexed to, uint256 amount)"
    val approvalSig = "Approval(address indexed owner, address indexed spender, uint256 value)"
    val db = java.nio.file.Files.createTempFile("abidb", ".txt")
    java.nio.file.Files.writeString(db,
      s"# erc20 core events\n$transferSig\n\n$approvalSig\n")
    def topic(fill: Byte): Array[Byte] = {
      val out = new Array[Byte](32)
      java.util.Arrays.fill(out, 12, 32, fill); out
    }
    val word7 = { val w = new Array[Byte](32); w(31) = 7; w }
    val logs = Seq(
      (1L, Keccak.topic0(transferSig), topic(0x11), topic(0x22), word7),
      (2L, Keccak.topic0(approvalSig), topic(0x33), topic(0x44), word7)
    ).toDF("log_index", "topic0", "topic1", "topic2", "data")
    val step = Steps.EvmDecodeMultiEvents.fromAbiDb(db.toString)
    assert(step.signatures == Seq(transferSig, approvalSig))
    val out = step(spark, bundle("logs" -> logs))("decoded_logs")
    val names = out.orderBy("log_index").select("event_name")
      .as[String].collect().toSeq
    assert(names == Seq("Transfer", "Approval"))
  }

  test("EvmDecodeEvents decodes a Transfer log table (hstack keeps inputs)") {
    def topic(fill: Byte): Array[Byte] = {
      val out = new Array[Byte](32)
      java.util.Arrays.fill(out, 12, 32, fill); out
    }
    val amountWord = {
      val w = new Array[Byte](32); w(31) = 42; w
    }
    val logs = Seq((7L, topic(0x11), topic(0x22), null: Array[Byte], amountWord))
      .toDF("log_index", "topic1", "topic2", "topic3", "data")
    val out = Steps.EvmDecodeEvents(
      "Transfer(address indexed from, address indexed to, uint256 amount)",
      inputTable = "logs", hstack = true)(spark, bundle("logs" -> logs))
    val d = out("decoded_logs")
    assert(d.columns.toSeq ==
      Seq("from", "to", "amount", "log_index", "topic1", "topic2", "topic3", "data"))
    val r = d.head()
    assert(r.getAs[Array[Byte]]("from").last == 0x11)
    assert(new java.math.BigInteger(1, r.getAs[Array[Byte]]("amount")).intValue == 42)
    assert(r.getAs[Long]("log_index") == 7L)
  }

  test("SvmDecodeLogs: Borsh decode with no discriminator (svm_decode_logs.py)") {
    // Borsh LE payload: amount u64 = 5000, flag bool = true.
    val payload = Array[Byte](0x88.toByte, 0x13, 0, 0, 0, 0, 0, 0, 1)
    val logs = Seq(Tuple1(payload)).toDF("data")
    val out = Steps.SvmDecodeLogs("amount:u64, flag:bool")(
      spark, bundle("logs" -> logs))("decoded_logs").head()
    assert(out.getDecimal(0).longValueExact() == 5000L)
    assert(out.getBoolean(1))
  }

  test("EvmDecodeMultiEvents routes logs by topic0 across an ABI set (T14)") {
    import graft.functions.Keccak
    def topic(fill: Byte): Array[Byte] = {
      val out = new Array[Byte](32)
      java.util.Arrays.fill(out, 12, 32, fill); out
    }
    def word(v: Long): Array[Byte] = {
      val w = new Array[Byte](32); w(31) = v.toByte; w
    }
    val transferSig = "Transfer(address indexed from, address indexed to, uint256 amount)"
    val approvalSig = "Approval(address indexed owner, address indexed spender, uint256 value)"
    val logs = Seq(
      (1L, Keccak.topic0(transferSig), topic(0x11), topic(0x22), word(7)),
      (2L, Keccak.topic0(approvalSig), topic(0x33), topic(0x44), word(9)),
      (3L, Array.fill[Byte](32)(0x5a), topic(0x55), null, word(1)) // unknown
    ).toDF("log_index", "topic0", "topic1", "topic2", "data")
    val out = Steps.EvmDecodeMultiEvents(Seq(transferSig, approvalSig))(
      spark, bundle("logs" -> logs))("decoded_logs")
    val rows = out.orderBy("log_index")
      .select("event_name", "log_index").as[(String, Long)].collect().toSeq
    assert(rows == Seq(("Transfer", 1L), ("Approval", 2L))) // unknown dropped
    // per-signature fields present, cross-signature fields null
    val r1 = out.filter($"log_index" === 1L).head()
    assert(new java.math.BigInteger(1, r1.getAs[Array[Byte]]("amount")).intValue == 7)
    assert(r1.isNullAt(r1.fieldIndex("value")))
    val r2 = out.filter($"log_index" === 2L).head()
    assert(new java.math.BigInteger(1, r2.getAs[Array[Byte]]("value")).intValue == 9)
    assert(r2.getAs[Array[Byte]]("owner").last == 0x33)
  }

  test("EvmDecodeMultiEvents decodes tuple-param events from an ABI set") {
    import graft.functions.Keccak
    def addrWord(fill: Byte): Array[Byte] = {
      val o = new Array[Byte](32); java.util.Arrays.fill(o, 12, 32, fill); o
    }
    def word(v: Long): Array[Byte] = {
      val w = new Array[Byte](32); w(31) = v.toByte; w
    }
    val posSig = "PosOpened((address, uint256) pos, uint64 size)"
    val data = addrWord(0x21) ++ word(42) ++ word(9) // static tuple in place
    val logs = Seq(
      (1L, Keccak.topic0(posSig), null: Array[Byte], null: Array[Byte], data))
      .toDF("log_index", "topic0", "topic1", "topic2", "data")
    val out = Steps.EvmDecodeMultiEvents(Seq(posSig))(
      spark, bundle("logs" -> logs))("decoded_logs")
    val r = out.head()
    assert(r.getAs[String]("event_name") == "PosOpened")
    val pos = r.getStruct(r.fieldIndex("pos"))
    assert(pos.getAs[Array[Byte]]("f0").last == 0x21)
    assert(new java.math.BigInteger(1, pos.getAs[Array[Byte]]("f1")).intValue == 42)
    assert(r.getAs[java.math.BigDecimal]("size").longValueExact == 9L)
  }

  test("BlockRangeSource slices the range into per-batch pushdown filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString
    (0L until 100L).map(i => (i, i * 2)).toDF("block_number", "v")
      .write.mode("overwrite").parquet(s"$dir/blocks.parquet")
    val src = graft.api.BlockRangeSource(dir, Seq("blocks"), "block_number",
      fromValue = 0L, toValue = 100L, step = 30L)
    val batches = src.batches(spark).toSeq
    assert(batches.size == 4) // 0-30, 30-60, 60-90, 90-100
    assert(batches.map(_("blocks").count()).sum == 100L)
    assert(batches.head("blocks").agg(max("block_number")).head().getLong(0) == 29L)
    val merged = graft.api.Pipeline.merge(batches)
    assert(merged("blocks").count() == 100L)
  }

  test("CsvSource loads header CSVs into the bundle (S10, jup_swap.py:196)") {
    val dir = Files.createTempDirectory("graft-csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/tokens.csv"),
      "mint,symbol,decimals\nSo111,SOL,9\nEPjFW,USDC,6\n")
    val src = graft.api.CsvSource(Map("tokens" -> s"$dir/tokens.csv"))
    val bundleOut = src.batches(spark).next()
    val rows = bundleOut("tokens").orderBy("symbol")
      .as[(String, String, Int)].collect().toSeq
    assert(rows == Seq(("So111", "SOL", 9), ("EPjFW", "USDC", 6)))
    // composes with the step fold like any other source
    val stepped = Pipeline.processSteps(spark, bundleOut,
      Seq(Steps.SetChainId(101L)))
    assert(stepped("tokens").select("chain_id").as[Long].head() == 101L)
  }

  test("JsonlSource loads newline-delimited JSON into the bundle") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"doc_id": 1, "text": "hello world"}
        |{"doc_id": 2, "text": "second doc"}
        |""".stripMargin)
    val bundleOut = graft.api.JsonlSource(Map("docs" -> s"$dir/docs.jsonl"))
      .batches(spark).next()
    val rows = bundleOut("docs").orderBy("doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "hello world"), (2L, "second doc")))
  }

  test("Sql step registers views and binds outputs (datafusion_step.py analog)") {
    val t = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val out = Steps.Sql(Map("doubled" -> "SELECT k * 2 AS k2 FROM t"))(
      spark, bundle("t" -> t))
    assert(out("doubled").select("k2").as[Int].collect().sorted.toSeq == Seq(2, 4))
    assert(out.contains("t"))
  }

  test("pipeline end-to-end: source → steps → anchor-last sink → resume") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val src = Seq((1L, Array[Byte](0x0a)), (2L, Array[Byte](0x0b)))
      .toDF("block_number", "payload")
    src.write.mode("overwrite").parquet(s"$dir/in/blocks.parquet")

    val pipeline = Pipeline(
      source = ParquetSource(s"$dir/in", Seq("blocks")),
      steps = Seq(Steps.SetChainId(1L), Steps.HexEncode()),
      sink = ParquetSink(s"$dir/out", anchorTable = Some("blocks")))
    Pipeline.run(spark, pipeline)

    val out = spark.read.parquet(s"$dir/out/blocks")
    assert(out.count() == 2)
    assert(out.select("payload").as[String].collect().toSet == Set("0x0a", "0x0b"))
    assert(out.select("chain_id").as[Long].collect().toSet == Set(1L))
    // resume watermark (cherry P5: SELECT MAX(block_number) at startup)
    assert(Resume.maxWatermark(
      spark.read.parquet(s"$dir/out/blocks"), "block_number").contains(2L))
    assert(Resume.maxWatermark(
      spark.read.parquet(s"$dir/missing"), "block_number").isEmpty)
  }

  test("runPipelined prefetches batch N+1 while batch N writes (S1 overlap)") {
    val fetchTimes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val writeWindows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val src = new graft.api.Source {
      def batches(s: org.apache.spark.sql.SparkSession) =
        Iterator.tabulate(2) { i =>
          fetchTimes.add(System.nanoTime())
          Map("t" -> Seq((i.toLong, s"batch$i")).toDF("id", "v"))
        }
    }
    val sink = new graft.api.Sink {
      def push(tables: Map[String, org.apache.spark.sql.DataFrame]): Unit = {
        val t0 = System.nanoTime()
        tables.values.foreach(_.count())
        Thread.sleep(500)
        writeWindows.add((t0, System.nanoTime()))
      }
    }
    graft.api.Pipeline.runPipelined(spark,
      Pipeline(src, Seq(Steps.SetChainId(1L)), sink))
    val fetches = fetchTimes.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    val writes = writeWindows.toArray(Array.empty[(Long, Long)])
    assert(fetches.length == 2 && writes.length == 2)
    // batch 2 was fetched BEFORE batch 1's write finished (the overlap),
    // and writes stayed strictly ordered
    assert(fetches(1) < writes(0)._2, "no prefetch overlap")
    assert(writes(0)._2 <= writes(1)._1, "writes overlapped")
  }

  test("runPipelined fills each prefetched bundle in ONE Spark job, read back from the cache") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-prefetch").toString
    val nBatches = 3
    val rowsPerBatch = 1000L
    // one parquet directory per batch: a re-scan of a slice reads its rows
    (0 until nBatches).foreach { i =>
      spark.range(i * rowsPerBatch, (i + 1) * rowsPerBatch)
        .selectExpr("id", "id % 7 AS k").write.parquet(s"$dir/b$i")
    }
    // opened before the run, so schema inference is not counted as a job
    val slices = (0 until nBatches).map(i => spark.read.parquet(s"$dir/b$i"))
    val emptySchema = StructType(Seq(StructField("id", LongType)))
    val dim = spark.read.parquet(s"$dir/b0").filter($"k" === 0)
    val alias = Steps.Fn((_, t) => t + ("alias" -> t("a")))
    // (label, bundle of one slice, steps): the edge cases ride as inputs
    val cases: Seq[(String, DataFrame => Map[String, DataFrame], Seq[graft.api.Step])] = Seq(
      ("two tables", p => bundle("a" -> p, "b" -> p.filter($"k" > 2).select($"id")), Nil),
      ("zero-row table", p => bundle("a" -> p, "none" -> p.filter($"id" < 0)), Nil),
      ("zero-partition table", p => bundle("a" -> p, "empty" ->
        spark.createDataFrame(sc.emptyRDD[org.apache.spark.sql.Row], emptySchema)), Nil),
      ("aliased table", p => bundle("a" -> p, "b" -> p.select($"id")), Seq(alias)),
      // the same DataFrame object in every batch, as BlockRangeSource
      // passes a static dimension table along
      ("static table", p => bundle("a" -> p, "dim" -> dim), Nil))
    cases.foreach { case (label, shape, steps) =>
      val preRun = sc.getPersistentRDDs.keySet
      // a batch's source read waits for the previous push to finish, so
      // the persisted RDDs a push sees are exactly its own bundle's
      val gate = new java.util.concurrent.Semaphore(0)
      val src = new graft.api.Source {
        def batches(s: org.apache.spark.sql.SparkSession) =
          Iterator.tabulate(nBatches) { i => if (i > 0) gate.acquire(); shape(slices(i)) }
      }
      val rowsSeen = new java.util.concurrent.atomic.AtomicLong()
      val sink = new graft.api.Sink {
        def push(tables: Map[String, DataFrame]): Unit =
          try {
            val own = sc.getPersistentRDDs.filter { case (id, _) => !preRun(id) }.values
            val cachedPlans = own.size
            assert(cachedPlans == tables.values.toSet.size, s"$label: cached plans")
            eventually(timeout(Span(10, Seconds))) {
              val cached = sc.getRDDStorageInfo.map(r => r.id -> r.numCachedPartitions).toMap
              own.foreach(r => assert(cached.getOrElse(r.id, 0) == r.partitions.length,
                s"$label: RDD ${r.id} not fully cached before the sink read it"))
            }
            // the sink's own jobs are tagged, so they are not counted as
            // prefetch jobs. It reads through a new plan, as a write does:
            // a DataFrame's own plan is fixed at its first action, so a
            // table already read in an earlier run would miss this cache
            sc.setLocalProperty(JobTally.RoleKey, "sink")
            try rowsSeen.addAndGet(tables.values.map(_.select("*").collect().length.toLong).sum)
            finally sc.setLocalProperty(JobTally.RoleKey, null)
          } finally gate.release()
      }
      val tally = JobTally.during(spark) {
        graft.api.Pipeline.runPipelined(spark, Pipeline(src, steps, sink))
      }
      assert(tally.jobs("") == nBatches, s"$label: jobs outside the sink per run")
      // a cache hit counts one record per cached columnar batch (at most
      // one per partition here); a parquet re-scan counts every row
      assert(tally.jobs("sink") > 0 && tally.recordsRead("sink") < rowsPerBatch,
        s"$label: the sink re-read the source (${tally.recordsRead("sink")} records)")
      val expected = (0 until nBatches).map { i =>
        Pipeline.processSteps(spark, shape(slices(i)), steps).values.map(_.count()).sum
      }.sum
      assert(rowsSeen.get == expected, s"$label: rows seen by the sink")
      assert(sc.getPersistentRDDs.keySet == preRun, s"$label: cache released")
    }
  }

  test("runPipelined failure paths release every cached batch") {
    val sc = spark.sparkContext
    def source(n: Int) = new graft.api.Source {
      def batches(s: org.apache.spark.sql.SparkSession) =
        Iterator.tabulate(n)(i => Map("t" -> s.range(i * 100L, (i + 1) * 100L).toDF(),
          "u" -> s.range(i * 10L, (i + 1) * 10L).toDF()))
    }
    def recordingSink(seen: java.util.concurrent.ConcurrentLinkedQueue[Long],
                      failOn: Long => Boolean) = new graft.api.Sink {
      def push(tables: Map[String, DataFrame]): Unit = {
        val first = tables("t").agg(min($"id")).as[Long].head() / 100
        seen.add(first)
        if (failOn(first)) throw new IllegalStateException(s"sink down at batch $first")
      }
    }
    def causes(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

    // a step whose UDF throws only on batch 2's rows: the prefetch fails,
    // the run throws after writing batch 1 alone, and nothing stays cached
    val boom = udf((id: Long) => {
      if (id >= 100) throw new IllegalArgumentException(s"bad row $id"); id })
    val failingStep = Steps.Fn((_, t) => t.map { case (k, df) => k -> df.withColumn("chk", boom($"id")) })
    val preRun = sc.getPersistentRDDs.keySet
    val seen1 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stepErr = intercept[Exception] {
      graft.api.Pipeline.runPipelined(spark,
        Pipeline(source(3), Seq(failingStep), recordingSink(seen1, _ => false)))
    }
    assert(causes(stepErr).exists(c => Option(c.getMessage).exists(_.contains("bad row"))),
      s"unexpected failure: $stepErr")
    assert(seen1.toArray.toSeq == Seq(0L), "the sink must have written batch 1 only")
    assert(sc.getPersistentRDDs.keySet == preRun, "a failed prefetch leaked its cache")

    // a sink that throws on batch 1: its error propagates, and the
    // in-flight prefetch of batch 2 is drained (ran to the end) and released
    val batch2Rows = sc.longAccumulator("batch2Rows")
    val countBatch2 = udf((id: Long) => { if (id >= 100 && id < 200) batch2Rows.add(1); id })
    val countingStep = Steps.Fn((_, t) => t.map { case (k, df) => k -> df.withColumn("chk", countBatch2($"id")) })
    val seen2 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val sinkErr = intercept[IllegalStateException] {
      graft.api.Pipeline.runPipelined(spark,
        Pipeline(source(3), Seq(countingStep), recordingSink(seen2, _ == 0L)))
    }
    assert(sinkErr.getMessage == "sink down at batch 0")
    assert(seen2.toArray.toSeq == Seq(0L))
    assert(batch2Rows.value == 100L, "the in-flight prefetch was not drained")
    assert(sc.getPersistentRDDs.keySet == preRun, "the drained prefetch leaked its cache")
  }

  test("Pipeline.run pushes a single-batch source lazily: no cache, no job outside the sink") {
    val sc = spark.sparkContext
    val preRun = sc.getPersistentRDDs.keySet
    val src = new graft.api.Source {
      def batches(s: org.apache.spark.sql.SparkSession) =
        Iterator.single(Map("t" -> s.range(0, 100).toDF(), "u" -> s.range(0, 10).toDF()))
    }
    val pushes = new java.util.concurrent.atomic.AtomicInteger()
    val sink = new graft.api.Sink {
      def push(tables: Map[String, DataFrame]): Unit = {
        pushes.incrementAndGet()
        assert(sc.getPersistentRDDs.keySet == preRun, "persisted RDDs during the push")
        assert(tables.values.forall(_.storageLevel == StorageLevel.NONE), "a table was cached")
        sc.setLocalProperty(JobTally.RoleKey, "sink")
        try tables.values.foreach(_.collect())
        finally sc.setLocalProperty(JobTally.RoleKey, null)
      }
    }
    val tally = JobTally.during(spark) {
      Pipeline.run(spark, Pipeline(src, Seq(Steps.SetChainId(1L)), sink))
    }
    assert(pushes.get == 1)
    assert(tally.jobs("") == 0, "jobs outside the sink")
    assert(tally.jobs("sink") > 0)
    assert(sc.getPersistentRDDs.keySet == preRun, "persisted RDDs after the run")
  }

  test("Pipeline.run keeps a table passed along in every batch cached for every push") {
    val sc = spark.sparkContext
    val preRun = sc.getPersistentRDDs.keySet
    val dim = Seq((0L, "d")).toDF("k", "name")
    // no gate: batch N+1 is read and persisted while push N sleeps, and its
    // persist of the static table is a no-op on the entry batch N holds
    val src = new graft.api.Source {
      def batches(s: org.apache.spark.sql.SparkSession) =
        Iterator.tabulate(4)(i => Map("logs" -> s.range(i * 10L, (i + 1) * 10L).toDF(), "dim" -> dim))
    }
    val pushes = new java.util.concurrent.atomic.AtomicInteger()
    val uncached = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sink = new graft.api.Sink {
      def push(tables: Map[String, DataFrame]): Unit = {
        val n = pushes.incrementAndGet()
        def check(when: String): Unit = tables.foreach { case (name, df) =>
          if (df.storageLevel == StorageLevel.NONE) uncached.add(s"$name at the $when of push $n")
        }
        check("start")
        Thread.sleep(500)
        check("end")
      }
    }
    Pipeline.run(spark, Pipeline(src, Seq(Steps.SetChainId(1L)), sink))
    assert(pushes.get == 4)
    assert(uncached.isEmpty, s"uncached: ${uncached.toArray.mkString(", ")}")
    assert(sc.getPersistentRDDs.keySet == preRun, "cache released")
  }

  test("AnchorLast writes run under the pushing thread's job group") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-jobgroup").toString
    val sink = ParquetSink(dir, anchorTable = Some("a"))
    val tables = bundle("a" -> Seq(1L).toDF("id"), "b" -> Seq(2L).toDF("id"),
      "c" -> Seq(3L).toDF("id"))
    // each push runs on its own fresh thread, under its own job group
    def pushAs(group: String): Unit = {
      @volatile var err: Option[Throwable] = None
      val t = new Thread(() => {
        sc.setJobGroup(group, group)
        try sink.push(tables) catch { case e: Throwable => err = Some(e) }
        finally sc.clearJobGroup()
      })
      t.start(); t.join()
      err.foreach(e => throw e)
    }
    pushAs("g1")
    val tally = JobTally.during(spark)(pushAs("g2"))
    assert(tally.groups.size >= tables.size, s"write jobs: ${tally.groups}")
    assert(tally.groups.forall(_.contains("g2")), s"write job groups: ${tally.groups}")
  }

  test("Pipeline.merge unions batches per table and checks key sets") {
    val b1 = bundle("t" -> Seq(1).toDF("a"))
    val b2 = bundle("t" -> Seq(2).toDF("a"))
    val merged = Pipeline.merge(Seq(b1, b2))
    assert(merged("t").as[Int].collect().sorted.toSeq == Seq(1, 2))
    intercept[IllegalArgumentException] {
      Pipeline.merge(Seq(b1, bundle("other" -> Seq(1).toDF("a"))))
    }
  }
}

/** Jobs, job groups and task input records of the jobs a block submits,
  * keyed by the `RoleKey` local property of the submitting thread ("" when
  * unset). [[JobTally.during]] runs a marker job before and after the
  * block: listener events arrive in order, so what is counted between the
  * two markers' start events is exactly the block's jobs, complete.
  */
private final class JobTally extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val stageRole = scala.collection.mutable.Map.empty[Int, String]
  private val jobCount = scala.collection.mutable.Map.empty[String, Int]
  private val records = scala.collection.mutable.Map.empty[String, Long]
  private val jobGroups = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
  private val markers = new java.util.concurrent.CountDownLatch(2)

  def jobs(role: String): Int = synchronized(jobCount.getOrElse(role, 0))
  def recordsRead(role: String): Long = synchronized(records.getOrElse(role, 0L))
  def groups: Seq[Option[String]] = synchronized(jobGroups.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val role = props.flatMap(p => Option(p.getProperty(JobTally.RoleKey))).getOrElse("")
    if (role == JobTally.Marker) markers.countDown()
    else if (markers.getCount == 1) {
      jobCount(role) = jobCount.getOrElse(role, 0) + 1
      jobGroups += props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      e.stageIds.foreach(stageRole(_) = role)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) stageRole.get(e.stageId).foreach { role =>
      records(role) = records.getOrElse(role, 0L) + e.taskMetrics.inputMetrics.recordsRead
    }
  }
}

private object JobTally {
  val RoleKey = "graft.test.role"
  val Marker = "marker"

  private def marker(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(RoleKey, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(RoleKey, null)
  }

  def during(spark: org.apache.spark.sql.SparkSession)(body: => Unit): JobTally = {
    val t = new JobTally
    spark.sparkContext.addSparkListener(t)
    try {
      marker(spark)
      body
      marker(spark)
      assert(t.markers.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener events")
      t
    } finally spark.sparkContext.removeSparkListener(t)
  }
}
