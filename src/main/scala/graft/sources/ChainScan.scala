package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one pushdown scan behind the three chain providers — synthetic
  * [[ChainSource]], file-backed [[ParquetChainSource]] and remote
  * [[WireChainSource]]. It is the Spark-native analog of the reference's
  * provider query DSL (HyperSync/SQD serve filtered, projected log batches
  * server-side; cherry SURVEY §2.1 S1–S9). A provider supplies only a
  * [[ChainBackend]]; everything below holds for all three:
  *
  *   - reader options: `table` (`logs` | `instructions` | `traces`),
  *     `fromBlock`/`toBlock` (exclusive; the backend's default range when
  *     absent), `filter.<col>` (see [[ReqPushdown.optionReq]]) and
  *     `blocksPerBatch` (micro-batch pacing, default 100);
  *   - `SupportsPushDownFilters`: range predicates on the block column
  *     ([[ChainSource.blockColumn]]) narrow `[fromBlock, toBlock)`;
  *     `=`/`IN` constraints on the table's request columns
  *     ([[ChainSource.pushableColumns]]: `topic0`/`address` for logs ≙
  *     `LogRequest`, `erc20_custom.py:103-120`; `program_id`/
  *     `discriminator` for instructions ≙ `InstructionRequest`,
  *     `jup_swap.py:115-122`) are consumed. An `Or` tree over them becomes
  *     a list of alternative requests, matching how cherry sends several
  *     requests whose results union server-side. Everything else stays with
  *     Spark as a residual;
  *   - `SupportsPushDownRequiredColumns`: the pruned columns reach the
  *     backend (≙ the field-selection structs, S6);
  *   - a provably-empty request list (contradictory AND'd constraints)
  *     plans zero partitions without calling the backend: no rows
  *     generated, no file opened, no HTTP request sent;
  *   - description: `graft_<kind>_<table> [from,to) reqs=… cols=…`, where
  *     `reqs` is `all`, `none` or the `|`-joined requests, an open range
  *     ends in `head`, and the backend's plan note follows (file:
  *     `rgs=k/n`);
  *   - micro-batch stream (streaming backends only): offsets are block
  *     numbers; each trigger admits at most `blocksPerBatch` blocks and
  *     never runs past `toBlock` or the backend's chain head — the
  *     reference's paced pull loop (cherry `pipeline.py:110-113`). Spark's
  *     V2 filter pushdown is batch-only, so `filter.<col>` is the streaming
  *     path's only request channel; range, requests and pruned columns
  *     carry into every micro-batch's partitions.
  */
private[sources] abstract class ChainProvider(
    private[sources] val kind: String, private[sources] val streams: Boolean)
    extends TableProvider with DataSourceRegister {

  /** The backend serving one scan of `table`; `opts` are the lowered
    * reader options.
    */
  private[sources] def backend(table: String, opts: Map[String, String]): ChainBackend

  override def shortName(): String = s"graft$kind"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChainSource.schemaFor(options.getOrDefault("table", "logs"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ChainTable(this, properties.asScala.toMap)
}

/** What a chain provider adds to the shared scan. */
private[sources] trait ChainBackend {
  /** `(fromBlock, toBlock)` when the options give none; a `None` end means
    * "up to the chain head".
    */
  def defaultRange: (Long, Option[Long])

  /** The chain head: ends an open batch range and paces a micro-batch
    * stream. The default never binds, so `toBlock` alone ends the range.
    */
  def head(): Long = Long.MaxValue

  /** Partitions reading `[from, to)` under a non-empty request list. */
  def plan(from: Long, to: Long, requests: Seq[ChainReq],
           cols: Array[String]): ChainPlan

  def readerFactory: PartitionReaderFactory
}

/** A backend's partitions for one range; `note` is appended verbatim to
  * the scan description.
  */
private[sources] final case class ChainPlan(parts: Array[InputPartition],
                                            note: String = "")

private[sources] object ChainScan {
  /** The `numPartitions` option of the range-sliced backends. */
  def numPartitions(opts: Map[String, String]): Int = {
    val n = opts.getOrElse("numpartitions", "4").toInt
    // 0 divides by zero in slice(); a negative count degrades the step to
    // 1 and plans one partition PER BLOCK
    require(n > 0, s"numPartitions must be positive, got $n")
    n
  }

  /** `[lo0, hi)` cut into at most `n` contiguous slices, each one
    * partition, so scan parallelism matches the cluster, not the data
    * size (≙ the provider's paged streaming, S1).
    */
  def slice(lo0: Long, hi: Long, n: Int)(
      part: (Long, Long) => InputPartition): Array[InputPartition] = {
    val span = math.max(hi - lo0, 0L)
    val step = math.max(1L, (span + n - 1) / n)
    (lo0 until hi by step).map(lo => part(lo, math.min(lo + step, hi))).toArray
  }
}

private class ChainTable(provider: ChainProvider, props: Map[String, String])
    extends Table with SupportsRead {
  private val table = props.getOrElse("table", "logs")
  override def name(): String = s"graft_${provider.kind}_$table"
  override def schema(): StructType = ChainSource.schemaFor(table)
  override def capabilities(): java.util.Set[TableCapability] =
    if (provider.streams)
      java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChainScanBuilder(provider, props ++ options.asScala)
}

private class ChainScanBuilder(provider: ChainProvider, props: Map[String, String])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private val opts = ReqPushdown.lowerOpts(props)
  private val table = opts.getOrElse("table", "logs")
  private val blockCol = ChainSource.blockColumn(table)
  private val pushable = ChainSource.pushableColumns(table)
  private val backend = provider.backend(table, opts)

  private var fromBlock = opts.get("fromblock").fold(backend.defaultRange._1)(_.toLong)
  // exclusive; None = up to the chain head
  private var toBlock = opts.get("toblock").map(_.toLong).orElse(backend.defaultRange._2)
  // OR'd request list; a single unconstrained request = "match everything"
  private var requests: Seq[ChainReq] = Seq(ReqPushdown.optionReq(pushable, opts))
  private var pushed: Array[Filter] = Array.empty
  private var requiredCols: Array[String] = ChainSource.schemaFor(table).fieldNames

  private def atLeast(v: Long): Unit = fromBlock = math.max(fromBlock, v)
  private def below(v: Long): Unit = toBlock = Some(toBlock.fold(v)(math.min(_, v)))

  /** Multiple accepted filters AND together; each may itself be an
    * OR-of-requests, which distributes across the current request list.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case GreaterThanOrEqual(c, v: Long) if c == blockCol => atLeast(v); true
      case GreaterThan(c, v: Long) if c == blockCol        => atLeast(ReqPushdown.incSat(v)); true
      case LessThan(c, v: Long) if c == blockCol           => below(v); true
      case LessThanOrEqual(c, v: Long) if c == blockCol    => below(ReqPushdown.incSat(v)); true
      // a point lookup is the range [v, v+1) — without this case it fell
      // through to the residual and the scan read the whole default range
      case EqualTo(c, v: Long) if c == blockCol =>
        atLeast(v); below(ReqPushdown.incSat(v)); true
      // IN brackets to [min, max+1); the set itself stays RESIDUAL (the
      // bracket admits the gaps, Spark re-filters them) — side effect
      // only, hence `false`
      case In(c, vs) if c == blockCol && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Long]) =>
        val ls = vs.map(_.asInstanceOf[Long])
        atLeast(ls.min); below(ReqPushdown.incSat(ls.max)); false
      case f =>
        ReqPushdown.parseReq(f, pushable) match {
          case Some(alts) =>
            requests = for { r <- requests; a <- alts; m <- r.and(a) } yield m
            true
          case None => false
        }
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    requiredCols = requiredSchema.fieldNames

  override def build(): Scan = new ChainScan(provider.kind, table, backend,
    fromBlock, toBlock, requests, requiredCols,
    opts.getOrElse("blocksperbatch", "100").toLong)
}

private class ChainScan(kind: String, table: String, backend: ChainBackend,
                        fromBlock: Long, toBlock: Option[Long],
                        requests: Seq[ChainReq], cols: Array[String],
                        blocksPerBatch: Long) extends Scan with Batch {

  private def plan(from: Long, to: => Long): ChainPlan =
    if (requests.isEmpty) ChainPlan(Array.empty)
    else backend.plan(from, to, requests, cols)

  // batch semantics need a bound: an open range ends at the chain head as
  // of planning (one lookup, shared by description() and planning)
  private lazy val batch = plan(fromBlock, toBlock.getOrElse(backend.head()))

  override def readSchema(): StructType =
    StructType(cols.map(ChainSource.schemaFor(table)(_)))
  override def toBatch: Batch = this
  override def description(): String = {
    val reqDesc =
      if (requests.isEmpty) "none"
      else if (requests == Seq(ChainReq(Map.empty))) "all"
      else requests.map(_.describe).mkString("|")
    // an open range is not planned just to describe it: that would look
    // up the chain head
    val note = if (toBlock.isDefined) batch.note else ""
    s"graft_${kind}_$table [$fromBlock,${toBlock.getOrElse("head")}) " +
      s"reqs=$reqDesc cols=${cols.mkString(",")}$note"
  }
  override def planInputPartitions(): Array[InputPartition] = batch.parts
  override def createReaderFactory(): PartitionReaderFactory = backend.readerFactory

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MicroBatchStream with SupportsAdmissionControl {
      private def available(): Long =
        math.min(toBlock.getOrElse(Long.MaxValue), backend.head())
      override def initialOffset(): Offset = ChainOffset(fromBlock)
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val from = start.asInstanceOf[ChainOffset].block
        ChainOffset(math.min(math.max(available(), from), from + blocksPerBatch))
      }
      override def latestOffset(): Offset =
        throw new UnsupportedOperationException(
          "paced source: use latestOffset(start, limit)")
      override def reportLatestOffset(): Offset = ChainOffset(available())
      override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
      override def deserializeOffset(json: String): Offset = ChainOffset(json.toLong)
      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
        plan(start.asInstanceOf[ChainOffset].block, end.asInstanceOf[ChainOffset].block).parts
      override def createReaderFactory(): PartitionReaderFactory = backend.readerFactory
      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()
    }
}

/** Block-number stream offset (JSON = the number). */
private[sources] case class ChainOffset(block: Long) extends Offset {
  override def json(): String = block.toString
}

/** One provider request: a conjunction of `col ∈ values` constraints over
  * the table's pushable columns (absent column = unconstrained). A pushed
  * filter expands to a LIST of these, OR'd — cherry's repeated
  * LogRequest/InstructionRequest semantics.
  */
private[sources] case class ChainReq(cs: Map[String, Set[Seq[Byte]]]) {
  /** Conjunction of two requests; None when a column's value sets are
    * disjoint (the request can never match).
    */
  def and(other: ChainReq): Option[ChainReq] = {
    val merged = (cs.keySet ++ other.cs.keySet).map { k =>
      k -> ((cs.get(k), other.cs.get(k)) match {
        case (Some(a), Some(b)) => a intersect b
        case (Some(a), None)    => a
        case (None, Some(b))    => b
        case (None, None)       => Set.empty[Seq[Byte]] // unreachable
      })
    }.toMap
    if (merged.values.exists(_.isEmpty)) None else Some(ChainReq(merged))
  }
  def matches(value: String => Seq[Byte]): Boolean =
    cs.forall { case (k, set) => set.contains(value(k)) }
  def describe: String =
    cs.toSeq.sortBy(_._1).map { case (k, vs) => s"$k:${vs.size}" }.mkString("{", ",", "}")
}

/** Filter-tree → request-list parsing and option lowering for the shared
  * scan.
  */
private[sources] object ReqPushdown {
  /** Case-insensitive reader-option view: DSv2 delivers options through a
    * CaseInsensitiveStringMap (keys lowercased), while `getTable`'s
    * properties keep original case — a case-sensitive `getOrElse` on
    * "fromBlock" silently missed a user's "fromblock" and scanned the
    * DEFAULT range instead. Builders normalize once and look up lowercase.
    */
  def lowerOpts(props: Map[String, String]): Map[String, String] =
    props.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  /** v+1 saturating at Long.MaxValue: block-range bound arithmetic for
    * `GreaterThan`/`LessThanOrEqual` pushdown. A wrapping `v + 1` turned
    * `<= Long.MaxValue` (matches everything) into an empty scan and
    * `> Long.MaxValue` (matches nothing) into a full one.
    */
  def incSat(v: Long): Long = if (v == Long.MaxValue) Long.MaxValue else v + 1

  def asBytes(v: Any): Option[Seq[Byte]] = v match {
    case a: Array[Byte] => Some(a.toSeq)
    case _              => None
  }

  /** A filter tree → list of alternative requests (OR semantics), or None
    * if any leaf is not a pushable `=`/`IN` constraint.
    */
  def parseReq(f: Filter, pushable: Set[String]): Option[Seq[ChainReq]] = f match {
    case EqualTo(c, v) if pushable(c) =>
      asBytes(v).map(b => Seq(ChainReq(Map(c -> Set(b)))))
    case In(c, vs) if pushable(c) =>
      val bs = vs.toSeq.map(asBytes)
      if (bs.nonEmpty && bs.forall(_.isDefined))
        Some(Seq(ChainReq(Map(c -> bs.flatten.toSet))))
      else None
    case Or(l, r) =>
      for { a <- parseReq(l, pushable); b <- parseReq(r, pushable) } yield a ++ b
    case And(l, r) =>
      for { a <- parseReq(l, pushable); b <- parseReq(r, pushable) }
        yield for { x <- a; y <- b; m <- x.and(y) } yield m
    case _ => None
  }

  /** `filter.<col>` reader options (comma-separated hex values) → one
    * conjunctive request — the provider-QUERY-config channel, and the only
    * pushdown channel on the streaming path (V2 filter pushdown is
    * batch-only).
    */
  def optionReq(pushable: Set[String], props: Map[String, String]): ChainReq = {
    val lower = lowerOpts(props)
    // an unrecognized filter.<col> must FAIL, not silently no-op: on the
    // streaming path this is the only filter channel, and a typo'd or
    // non-pushable column would leave the scan unfiltered while the user
    // believes it is server-side filtered
    val unknown = lower.keys
      .filter(_.startsWith("filter."))
      .map(_.stripPrefix("filter."))
      .filterNot(pushable.map(_.toLowerCase(java.util.Locale.ROOT)))
      .toSeq.sorted
    require(unknown.isEmpty,
      s"filter option(s) on non-pushable column(s): ${unknown.mkString(", ")}" +
        s" (pushable: ${pushable.toSeq.sorted.mkString(", ")})")
    ChainReq(pushable.flatMap { c =>
      lower.get(s"filter.${c.toLowerCase(java.util.Locale.ROOT)}").map { v =>
        c -> v.split(",", -1).map { h =>
          // an empty hex value ('' or a stray double comma) decodes to
          // the empty byte string, a constraint that matches NOTHING —
          // the silent zero-row run this option channel must fail on
          require(h.nonEmpty,
            s"filter.$c: empty hex value in '$v'")
          graft.functions.Hex.decode(h).toSeq: Seq[Byte]
        }.toSet
      }
    }.toMap)
  }
}
