package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Solidity ABI event decoding, implemented from the public ABI spec
  * (docs.soliditylang.org/en/latest/abi-spec.html). Spark-native analog of
  * the reference's Rust `evm_decode_events` kernel (cherry:
  * `steps/evm_decode_events.py:9-35`, signature→schema at line 26).
  *
  * Type mapping follows SURVEY.md §1.3's widen-on-ingest convention:
  * uint≤32 / int≤64 → LongType; uint40–64 → DECIMAL(20,0);
  * anything wider → canonical 32-byte BinaryType word (u256 canon, or raw
  * two's-complement word for int>64); address → 20-byte binary;
  * bytesN/bytes → binary; string → string; T[] / T[k] → array;
  * `(T1,T2,…)` tuple (Solidity struct param) → Spark struct with
  * positional fields f0, f1, ….
  * Indexed params that are not value types (dynamic types, static
  * composites like `uint256[2]`, and tuples) are keccak hashes per the ABI
  * spec → 32-byte binary, never decoded.
  */
object Abi {
  sealed trait AbiType { def canonical: String }
  case class AUInt(bits: Int) extends AbiType { def canonical = s"uint$bits" }
  case class AInt(bits: Int) extends AbiType { def canonical = s"int$bits" }
  case object AAddress extends AbiType { def canonical = "address" }
  case object ABool extends AbiType { def canonical = "bool" }
  case class AFixedBytes(n: Int) extends AbiType { def canonical = s"bytes$n" }
  case object ABytes extends AbiType { def canonical = "bytes" }
  case object AString extends AbiType { def canonical = "string" }
  case class AArray(elem: AbiType, size: Option[Int]) extends AbiType {
    def canonical = elem.canonical + size.fold("[]")(n => s"[$n]")
  }
  /** Solidity struct param: `(address,uint256)` — decodes to a Spark struct
    * with positional fields f0, f1, … (event signatures carry no member
    * names). Static iff every member is static (ABI spec §"Formal
    * Specification of the Encoding": a tuple is encoded head/tail like a
    * fixed-size array of its members).
    */
  case class ATuple(members: Seq[AbiType]) extends AbiType {
    def canonical = members.map(_.canonical).mkString("(", ",", ")")
  }

  case class Param(name: String, tpe: AbiType, indexed: Boolean)
  case class EventSig(name: String, params: Seq[Param]) {
    def canonical: String =
      s"$name(${params.map(_.tpe.canonical).mkString(",")})"
    def schema: StructType = StructType(params.map { p =>
      val dt =
        if (p.indexed && isTopicHashed(p.tpe)) BinaryType // keccak hash word
        else sparkType(p.tpe)
      StructField(p.name, dt, nullable = true)
    })
  }

  def isDynamic(t: AbiType): Boolean = t match {
    case ABytes | AString        => true
    case AArray(_, None)         => true
    case AArray(e, Some(_))      => isDynamic(e)
    case ATuple(ms)              => ms.exists(isDynamic)
    case _                       => false
  }

  /** Per the ABI spec, an INDEXED event param is stored directly in its
    * topic only for value types (uintN/intN/address/bool/bytesN); every
    * other type — dynamic ones AND static composites like `uint256[2]` —
    * is stored as keccak256 of its encoding ("Indexed event parameters
    * that are not value types … are hashed"). `isDynamic` alone would
    * wrongly try to word-decode an indexed static array.
    */
  def isTopicHashed(t: AbiType): Boolean = t match {
    case AUInt(_) | AInt(_) | AAddress | ABool | AFixedBytes(_) => false
    case _                                                      => true
  }

  def sparkType(t: AbiType): DataType = t match {
    case AUInt(b) if b <= 32  => LongType
    case AUInt(b) if b <= 64  => DecimalType(20, 0)
    case AUInt(_)             => BinaryType // u256 canon (32-byte BE)
    case AInt(b) if b <= 64   => LongType
    case AInt(_)              => BinaryType // raw two's-complement word
    case AAddress             => BinaryType // 20 bytes
    case ABool                => BooleanType
    case AFixedBytes(_)       => BinaryType
    case ABytes               => BinaryType
    case AString              => StringType
    case AArray(e, _)         => ArrayType(sparkType(e), containsNull = false)
    case ATuple(ms)           => StructType(ms.zipWithIndex.map { case (m, i) =>
      StructField(s"f$i", sparkType(m), nullable = true) })
  }

  /** Parse "Transfer(address indexed from, address to, uint256 v)". */
  def parseEvent(signature: String): EventSig = {
    // trim FIRST: computing the '(' index on the raw string but slicing
    // the trimmed one shifted every offset for signatures with leading
    // whitespace ("  Transfer(...)" parsed its body as "ansfer(...")
    val sig = signature.trim
    val open = sig.indexOf('(')
    require(open > 0 && sig.endsWith(")"),
      s"malformed event signature: $signature")
    val name = sig.substring(0, open).trim
    val body = sig.substring(open + 1).dropRight(1).trim
    val params =
      if (body.isEmpty) Seq.empty
      else splitTopLevel(body).zipWithIndex.map { case (p0, i) =>
        val p = p0.trim
        // A tuple type may contain spaces ("(address, uint256) pos"), so the
        // type prefix runs through the matching ')' plus any array suffix;
        // a simple whitespace split would shear it apart.
        val (typeStr, rest) =
          if (p.startsWith("(")) {
            var depth = 0; var j = 0; var end = -1
            while (j < p.length && end < 0) {
              p.charAt(j) match {
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) end = j
                case _ =>
              }
              j += 1
            }
            require(end > 0, s"unbalanced tuple type in: $p")
            var k = end + 1
            while (k < p.length && (p.charAt(k) == '[' || p.charAt(k) == ']' ||
              p.charAt(k).isDigit)) k += 1
            (p.substring(0, k), p.substring(k))
          } else {
            val sp = p.indexWhere(_.isWhitespace)
            if (sp < 0) (p, "") else (p.substring(0, sp), p.substring(sp))
          }
        val toks = rest.trim.split("\\s+").toSeq.filter(_.nonEmpty)
        val tpe = parseType(typeStr.replaceAll("\\s+", ""))
        val indexed = toks.contains("indexed")
        val pname = toks.filterNot(_ == "indexed")
          .lastOption.getOrElse(s"param$i")
        Param(pname, tpe, indexed)
      }
    EventSig(name, params)
  }

  /** Split on commas not nested inside () or []. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var last = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => out += s.substring(last, i); last = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(last)
    out.result()
  }

  private val ArrayRe = "^(.*)\\[(\\d*)\\]$".r

  def parseType(t: String): AbiType = t match {
    case ArrayRe(elem, sz) =>
      AArray(parseType(elem), if (sz.isEmpty) None else Some(sz.toInt))
    case tup if tup.startsWith("(") && tup.endsWith(")") =>
      val inner = tup.substring(1, tup.length - 1).trim
      ATuple(if (inner.isEmpty) Seq.empty
             else splitTopLevel(inner).map(s => parseType(s.trim)))
    case "address" => AAddress
    case "bool"    => ABool
    case "bytes"   => ABytes
    case "string"  => AString
    case "uint"    => AUInt(256)
    case "int"     => AInt(256)
    case u if u.startsWith("uint") => AUInt(u.drop(4).toInt)
    case s if s.startsWith("int")  => AInt(s.drop(3).toInt)
    case b if b.startsWith("bytes") => AFixedBytes(b.drop(5).toInt)
    case other => throw new IllegalArgumentException(s"unsupported ABI type: $other")
  }

  // ---- word-level decoding -------------------------------------------------

  private def word(data: Array[Byte], off: Int): Array[Byte] = {
    require(off + 32 <= data.length, s"ABI data truncated at offset $off")
    java.util.Arrays.copyOfRange(data, off, off + 32)
  }

  /** Bounds-checked slice: `copyOfRange` silently ZERO-PADS past the end
    * of the array, so a truncated payload would decode to a corrupted
    * NUL-padded value as a "success" in strict mode instead of failing
    * loudly like [[word]] does. `len` stays Long until checked — a
    * corrupt length word must not wrap through Int before the bound test.
    */
  private def sliceLen(data: Array[Byte], from: Int, len: Long): Array[Byte] = {
    require(len >= 0 && from + len <= data.length,
      s"ABI data truncated: need $len bytes at offset $from, have ${data.length}")
    java.util.Arrays.copyOfRange(data, from, from + len.toInt)
  }

  private def wordToLong(w: Array[Byte], signed: Boolean): Long = {
    val v = new BigInteger(if (signed) w else (Array(0.toByte) ++ w))
    v.longValueExact()
  }

  /** Decode one static value located at `off` in `data` → catalyst value. */
  private def decodeStatic(t: AbiType, data: Array[Byte], off: Int): Any = t match {
    case AUInt(b) if b <= 32  => wordToLong(word(data, off), signed = false)
    case AUInt(b) if b <= 64  =>
      Decimal(new java.math.BigDecimal(new BigInteger(1, word(data, off))), 20, 0)
    case AUInt(_)             => word(data, off)
    case AInt(b) if b <= 64   => wordToLong(word(data, off), signed = true)
    case AInt(_)              => word(data, off)
    case AAddress             => java.util.Arrays.copyOfRange(word(data, off), 12, 32)
    case ABool                => word(data, off)(31) != 0
    case AFixedBytes(n)       => sliceLen(data, off, n.toLong)
    case AArray(e, Some(n)) if !isDynamic(e) =>
      new GenericArrayData((0 until n).map(i => decodeStatic(e, data, off + i * staticSize(e))).toArray)
    case tp @ ATuple(ms) if !isDynamic(tp) =>
      // static tuple: members in place at sequential offsets
      var o = off
      new GenericInternalRow(ms.map { m =>
        val v = decodeStatic(m, data, o); o += staticSize(m); v
      }.toArray)
    case other => throw new IllegalArgumentException(s"not a static type: $other")
  }

  /** Head size of a type: 32 for dynamics (the offset word) and word-sized
    * values, the summed member sizes for static composites.
    */
  private def staticSize(t: AbiType): Int = t match {
    case AArray(e, Some(n)) if !isDynamic(e)  => n * staticSize(e)
    case tp @ ATuple(ms) if !isDynamic(tp)    => ms.map(staticSize).sum
    case _ => 32
  }

  /** Decode a head-encoded value (static in place, dynamic via offset into
    * the enclosing `base` frame) — ABI spec head/tail encoding.
    */
  private def decodeHead(t: AbiType, data: Array[Byte], headOff: Int, base: Int): Any =
    if (!isDynamic(t)) decodeStatic(t, data, headOff)
    else {
      // the offset word is checked on the LONG before narrowing — a
      // corrupt offset in (2^31, 2^63) would otherwise wrap through Int,
      // possibly land in-bounds, and decode garbage as a strict-mode
      // success (the sliceLen wrap class, applied to offsets)
      val rawOff = wordToLong(word(data, headOff), signed = false)
      require(rawOff >= 0 && rawOff <= data.length.toLong - base,
        s"ABI offset out of range: $rawOff at head $headOff")
      val off = base + rawOff.toInt
      t match {
        case AString =>
          val len = wordToLong(word(data, off), signed = false)
          UTF8String.fromBytes(sliceLen(data, off + 32, len))
        case ABytes =>
          val len = wordToLong(word(data, off), signed = false)
          sliceLen(data, off + 32, len)
        case AArray(e, sz) =>
          val (n, elemBase) = sz match {
            case Some(k) => (k, off)          // fixed-size array of dynamics
            case None    =>
              // length checked on the LONG (each element claims ≥ 32 head
              // bytes after the length word) — a corrupt count ≥ 2^31
              // would wrap through Int to 0/negative and decode as an
              // EMPTY array in strict mode instead of failing loudly
              val rawN = wordToLong(word(data, off), signed = false)
              require(rawN >= 0 &&
                  rawN <= (data.length.toLong - off - 32) / 32,
                s"ABI array length out of range: $rawN at offset $off")
              (rawN.toInt, off + 32)
          }
          val elems = (0 until n).map { i =>
            if (isDynamic(e)) decodeHead(e, data, elemBase + i * 32, elemBase)
            else decodeStatic(e, data, elemBase + i * staticSize(e))
          }
          new GenericArrayData(elems.toArray)
        case ATuple(ms) =>
          // dynamic tuple: a fresh head/tail frame starts at `off`; member
          // offsets are relative to that frame base (ABI spec head/tail).
          var ho = off
          new GenericInternalRow(ms.map { m =>
            val v = decodeHead(m, data, ho, off); ho += staticSize(m); v
          }.toArray)
        case other => throw new IllegalArgumentException(s"unexpected dynamic: $other")
      }
    }

  /** Full event decode: indexed params from topics (in order), the rest from
    * the data section. Returns catalyst values aligned with EventSig.schema.
    */
  def decodeEvent(sig: EventSig, topics: Array[Array[Byte]], data: Array[Byte]): Array[Any] = {
    val out = new Array[Any](sig.params.length)
    var topicIdx = 0
    var headOff = 0
    sig.params.zipWithIndex.foreach { case (p, i) =>
      if (p.indexed) {
        val t = if (topicIdx < topics.length) topics(topicIdx) else null
        topicIdx += 1
        out(i) =
          if (t == null) null
          else if (isTopicHashed(p.tpe)) t // keccak hash of the value
          else decodeStatic(p.tpe, t, 0)
      } else {
        out(i) = decodeHead(p.tpe, data, headOff, 0)
        headOff += staticSize(p.tpe)
      }
    }
    out
  }
}

/** Static decode shim the generated code calls — one virtual call per
  * row, sig passed as a codegen reference object (typed Object so the
  * generated Java never names the Scala inner class). Semantics are
  * EXACTLY [[EvmDecodeEvent.eval]]'s: topics = the longest non-null
  * prefix of (t1, t2, t3), null data decodes as empty, any decode error
  * nulls the struct iff allowFail.
  */
object AbiRuntime {
  def decodeEvent(sigObj: AnyRef, t1: Array[Byte], t2: Array[Byte],
                  t3: Array[Byte], data: Array[Byte],
                  allowFail: Boolean): InternalRow = {
    val sig = sigObj.asInstanceOf[Abi.EventSig]
    val topics =
      if (t1 == null) Array.empty[Array[Byte]]
      else if (t2 == null) Array(t1)
      else if (t3 == null) Array(t1, t2)
      else Array(t1, t2, t3)
    try {
      new GenericInternalRow(
        Abi.decodeEvent(sig, topics, if (data == null) Array.emptyByteArray else data))
    } catch {
      case _: Exception if allowFail => null
    }
  }
}

/** evm_decode_event('Sig(...)', topic1, topic2, topic3, data) → struct.
  * `allowFail=true` → null struct on malformed input (the reference's
  * `allow_decode_fail`, cherry `config.py:128-135`).
  *
  * Code-generates (r10): the decode itself is one call into
  * [[AbiRuntime.decodeEvent]], but doGenCode keeps the CONTAINING stage
  * in whole-stage codegen — evaluated interpreted, this expression split
  * the stage and paid interpreted-glue per row (measured 1.36× slower on
  * a 2M-row Transfer fixture; SURVEY §6.2).
  */
case class EvmDecodeEvent(signature: String, allowFail: Boolean,
                          children: Seq[Expression])
    extends Expression {
  require(children.length == 4,
    "evm_decode_event expects (topic1, topic2, topic3, data)")

  @transient private lazy val sig = Abi.parseEvent(signature)

  override def dataType: DataType = sig.schema
  override def nullable: Boolean = true

  // plan-time gate (the UnaryKernel rationale): topics carried as hex
  // STRINGS are a common caller mistake that would otherwise pass
  // analysis and die mid-job in an anonymous ClassCastException
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // NullType is accepted alongside BinaryType (standard Spark expression
    // convention): the decoder's null-prefix rule exists precisely so a
    // caller can write evm_decode_event(sig, t1, NULL, NULL, data) for a
    // 1-indexed-param event — a literal NULL must not fail analysis
    val bad = children.zipWithIndex.filterNot { case (c, _) =>
      c.dataType == org.apache.spark.sql.types.BinaryType ||
        c.dataType == org.apache.spark.sql.types.NullType }
    if (bad.isEmpty)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"evm_decode_event requires binary (topic1, topic2, topic3, " +
          s"data); argument ${bad.head._2 + 1} is " +
          bad.head._1.dataType.simpleString)
  }

  // interpreted eval delegates to the SAME shim codegen calls — two
  // hand-synchronized decode bodies would let the null-topic prefix rule
  // silently drift between execution modes
  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input).asInstanceOf[Array[Byte]])
    AbiRuntime.decodeEvent(sig, v(0), v(1), v(2), v(3), allowFail)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sigRef = ctx.addReferenceObj("abiSig", sig, "Object")
    val c = children.map(_.genCode(ctx))
    // a NullType child's generated value is Object-typed, which Janino
    // rejects where byte[] is expected — emit a typed null constant instead
    def arg(i: Int) =
      if (children(i).dataType == org.apache.spark.sql.types.NullType)
        "((byte[]) null)"
      else s"(${c(i).isNull} ? null : ${c(i).value})"
    val row = ctx.freshName("abiRow")
    ev.copy(code = code"""
      |${c(0).code}
      |${c(1).code}
      |${c(2).code}
      |${c(3).code}
      |org.apache.spark.sql.catalyst.InternalRow $row =
      |  graft.functions.AbiRuntime.decodeEvent($sigRef,
      |    ${arg(0)}, ${arg(1)}, ${arg(2)}, ${arg(3)}, $allowFail);
      |boolean ${ev.isNull} = ($row == null);
      |org.apache.spark.sql.catalyst.InternalRow ${ev.value} = $row;
      """.stripMargin)
  }

  override def prettyName: String = "evm_decode_event"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EvmDecodeEvent =
    copy(children = newChildren)
}
