package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._

import graft.functions.Keccak

/** Synthetic chain provider: serves a deterministic synthetic chain, so
  * the pushdown the three chain providers share ([[ChainScan]]) is real and
  * testable without a provider. The backend cuts `[fromBlock, toBlock)`
  * (default `[0, 1000)`) into `numPartitions` slices; each partition
  * generates only its slice, `logsPerBlock` rows per block, and emits a
  * row only when one of the pushed requests matches it. The chain has no
  * head of its own, so a micro-batch stream ends at `toBlock`.
  *
  * Usage:
  *   spark.read.format("graft.sources.ChainSource")
  *     .option("table", "logs")              // or "instructions" (SVM, S9)
  *     .option("fromBlock", 0).option("toBlock", 10000)
  *     .option("logsPerBlock", 3).option("numPartitions", 8).load()
  */
class ChainSource extends ChainProvider("chain", streams = true) {
  private[sources] def backend(table: String, opts: Map[String, String]): ChainBackend = {
    val logsPerBlock = opts.getOrElse("logsperblock", "3").toInt
    require(logsPerBlock > 0, // 0 used to emit one PHANTOM row per block
      s"logsPerBlock must be positive, got $logsPerBlock")
    val numPartitions = ChainScan.numPartitions(opts)
    new ChainBackend {
      val defaultRange = (0L, Some(1000L))
      def plan(from: Long, to: Long, requests: Seq[ChainReq],
               cols: Array[String]): ChainPlan =
        ChainPlan(ChainScan.slice(from, to, numPartitions)(
          ChainPartition(table, _, _, logsPerBlock, requests, cols)))
      val readerFactory: PartitionReaderFactory =
        (partition: InputPartition) =>
          new ChainReader(partition.asInstanceOf[ChainPartition])
    }
  }
}

object ChainSource {
  /** EVM logs table (≙ cherry LogRequest plane). */
  val logsSchema: StructType = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("log_index", LongType, nullable = false),
    StructField("address", BinaryType, nullable = false),
    StructField("topic0", BinaryType, nullable = false),
    StructField("topic1", BinaryType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** SVM instructions table (≙ cherry InstructionRequest plane,
    * jup_swap.py:115-122: filter by program_id + discriminator bytes).
    * `discriminator` is the 8-byte Anchor prefix of `data`, exposed as its
    * own column so the equality/IN pushdown mirrors the provider's
    * server-side discriminator matching.
    */
  val instructionsSchema: StructType = StructType(Seq(
    StructField("block_slot", LongType, nullable = false),
    StructField("instruction_index", LongType, nullable = false),
    StructField("program_id", BinaryType, nullable = false),
    StructField("discriminator", BinaryType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** EVM call-traces table. The reference declares a `traces` table name
    * in `EvmValidateBlockDataConfig` (`config.py:125`) but never
    * dispatches it; HyperSync-style providers serve it with TraceRequest
    * filtering on the callee address and the 4-byte function selector
    * (sighash) — the two pushable columns here.
    */
  val tracesSchema: StructType = StructType(Seq(
    StructField("block_number", LongType, nullable = false),
    StructField("trace_index", LongType, nullable = false),
    StructField("from_address", BinaryType, nullable = false),
    StructField("to_address", BinaryType, nullable = false),
    StructField("sighash", BinaryType, nullable = false),
    StructField("input", BinaryType, nullable = false)))

  def schemaFor(table: String): StructType = table match {
    case "logs"         => logsSchema
    case "instructions" => instructionsSchema
    case "traces"       => tracesSchema
    case other => throw new IllegalArgumentException(s"unknown chain table $other")
  }

  /** The block-number column a table's range pushdown applies to. */
  def blockColumn(table: String): String =
    if (table == "instructions") "block_slot" else "block_number"

  /** Request-pushable (server-side filterable) columns per table. */
  def pushableColumns(table: String): Set[String] = table match {
    case "logs"         => Set("topic0", "address")
    case "instructions" => Set("program_id", "discriminator")
    case "traces"       => Set("to_address", "sighash")
    case _              => Set.empty
  }

  /** Three deterministic synthetic event types. */
  val topic0Pool: IndexedSeq[Array[Byte]] =
    (0 until 3).map(i => Keccak.topic0(s"Event$i()"))

  /** Five deterministic contract addresses (20 bytes). */
  val addressPool: IndexedSeq[Array[Byte]] =
    (0 until 5).map { i => val a = new Array[Byte](20); a(19) = (i + 1).toByte; a }

  /** Three deterministic program ids (32 bytes). */
  val programIdPool: IndexedSeq[Array[Byte]] =
    (0 until 3).map { i => val p = new Array[Byte](32); p(31) = (i + 1).toByte; p }

  /** Two deterministic Anchor-style discriminators (8 bytes). */
  val discriminatorPool: IndexedSeq[Array[Byte]] =
    (0 until 2).map { i => Array[Byte](1, 2, 3, 4, 5, 6, 7, (i + 1).toByte) }

  /** Four deterministic function selectors (first 4 keccak bytes). */
  val sighashPool: IndexedSeq[Array[Byte]] =
    (0 until 4).map(i => Keccak.topic0(s"fn$i()").take(4))

  /** Little-endian u64 (the Borsh payload of a synthetic instruction). */
  private def u64le(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  /** The value of a request-pushable column at (block, idx) — used both for
    * server-side matching and for row generation, so the pushed filter and
    * the emitted data can never disagree.
    */
  private[sources] def colValue(table: String, name: String, block: Long,
                                idx: Long): Array[Byte] = (table, name) match {
    case ("logs", "topic0")  => topic0Pool(((block + idx) % 3).toInt)
    case ("logs", "address") => addressPool((block % 5).toInt)
    case ("instructions", "program_id") =>
      programIdPool(((block + idx) % 3).toInt)
    case ("instructions", "discriminator") =>
      discriminatorPool((idx % 2).toInt)
    case ("traces", "to_address") => addressPool((block % 5).toInt)
    case ("traces", "sighash")    => sighashPool(((block + idx) % 4).toInt)
    case _ => throw new IllegalArgumentException(s"$table.$name not pushable")
  }

  private[sources] def row(table: String, block: Long, idx: Long,
                           cols: Array[String]): InternalRow = {
    val values: Array[Any] = table match {
      case "logs" => cols.map[Any] {
        case "block_number" => block
        case "log_index"    => idx
        case "address"      => colValue(table, "address", block, idx)
        case "topic0"       => colValue(table, "topic0", block, idx)
        case "topic1"       =>
          val a = new Array[Byte](32); a(31) = ((block * 7 + idx) % 127).toByte; a
        case "data"         =>
          val d = new Array[Byte](32); d(31) = ((block + idx) % 100).toByte; d
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
      case "instructions" => cols.map[Any] {
        case "block_slot"        => block
        case "instruction_index" => idx
        case "program_id"        => colValue(table, "program_id", block, idx)
        case "discriminator"     => colValue(table, "discriminator", block, idx)
        // Anchor-shaped payload: 8-byte discriminator ++ Borsh u64 amount
        case "data" =>
          colValue(table, "discriminator", block, idx) ++ u64le(block * 100 + idx)
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
      case "traces" => cols.map[Any] {
        case "block_number" => block
        case "trace_index"  => idx
        case "from_address" => addressPool(((block + idx) % 5).toInt)
        case "to_address"   => colValue(table, "to_address", block, idx)
        case "sighash"      => colValue(table, "sighash", block, idx)
        // calldata: 4-byte selector ++ one 32-byte ABI word
        case "input" =>
          colValue(table, "sighash", block, idx) ++ {
            val a = new Array[Byte](32)
            a(31) = ((block * 3 + idx) % 50).toByte
            a
          }
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
    }
    new GenericInternalRow(values)
  }
}

private case class ChainPartition(table: String, fromBlock: Long, toBlock: Long,
                                  logsPerBlock: Int, requests: Seq[ChainReq],
                                  cols: Array[String]) extends InputPartition

private class ChainReader(p: ChainPartition) extends PartitionReader[InternalRow] {
  private var block = p.fromBlock
  private var logIdx = -1L
  private var row: InternalRow = _
  private val unconstrained = p.requests == Seq(ChainReq(Map.empty))

  override def next(): Boolean = {
    while (block < p.toBlock) {
      logIdx += 1
      if (logIdx >= p.logsPerBlock) { logIdx = 0; block += 1 }
      if (block < p.toBlock) {
        // server-side request matching: a row is emitted iff ANY pushed
        // request matches it (OR-of-requests), evaluated at the source
        val matches = unconstrained || {
          val value = (c: String) =>
            ChainSource.colValue(p.table, c, block, logIdx).toSeq
          p.requests.exists(_.matches(value))
        }
        if (matches) {
          row = ChainSource.row(p.table, block, logIdx, p.cols)
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
