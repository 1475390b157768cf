package graft.functions

import java.math.BigInteger
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Borsh-style Solana instruction/log decoding, implemented from the public
  * Borsh spec (borsh.io: little-endian fixed-width ints, u32-length-prefixed
  * strings/vecs). Spark-native analog of the reference's Rust
  * `svm_decode_instructions` / `svm_decode_logs` kernels (cherry:
  * `steps/svm_decode_instructions.py:9-35`, `steps/svm_decode_logs.py:10-41`;
  * signature construction with `DynType.U64` / `FixedArray(DynType.U8, 32)`
  * at `examples/jup_swap.py:126-151`).
  *
  * Widen-on-decode per SURVEY §1.3: u8/u16 → int, u32 / i8–i64 → long,
  * u64 → DECIMAL(20,0), u128/i128 → DECIMAL(38,0); pubkey/[u8;N] → binary.
  */
object Borsh {
  sealed trait BType
  case object BU8 extends BType
  case object BU16 extends BType
  case object BU32 extends BType
  case object BU64 extends BType
  case object BU128 extends BType
  case object BI8 extends BType
  case object BI16 extends BType
  case object BI32 extends BType
  case object BI64 extends BType
  case object BI128 extends BType
  case object BBool extends BType
  case object BF64 extends BType
  case object BPubkey extends BType            // 32 raw bytes
  case class BFixedBytes(n: Int) extends BType // [u8; n]
  case object BString extends BType            // u32 len + utf8
  case class BVec(elem: BType) extends BType   // u32 len + elems

  case class Field(name: String, tpe: BType)
  case class InstructionSig(discriminator: Array[Byte], fields: Seq[Field]) {
    def schema: StructType =
      StructType(fields.map(f => StructField(f.name, sparkType(f.tpe), nullable = true)))
  }

  def sparkType(t: BType): DataType = t match {
    case BU8 | BU16        => IntegerType
    case BU32              => LongType
    case BU64              => DecimalType(20, 0)
    case BU128 | BI128     => DecimalType(38, 0)
    case BI8 | BI16 | BI32 => IntegerType
    case BI64              => LongType
    case BBool             => BooleanType
    case BF64              => DoubleType
    case BPubkey           => BinaryType
    case BFixedBytes(_)    => BinaryType
    case BString           => StringType
    case BVec(e)           => ArrayType(sparkType(e), containsNull = false)
  }

  /** Tiny field-spec DSL: "amount:u64, flag:bool, key:pubkey, tag:[u8;8],
    * memo:string, ids:vec<u32>".
    */
  def parseFields(spec: String): Seq[Field] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { f =>
      val Array(n, t) = f.split(":", 2).map(_.trim)
      Field(n, parseType(t))
    }

  private val FixedRe = "^\\[u8;\\s*(\\d+)\\]$".r
  private val VecRe = "^vec<(.+)>$".r

  def parseType(t: String): BType = t match {
    case "u8" => BU8; case "u16" => BU16; case "u32" => BU32
    case "u64" => BU64; case "u128" => BU128
    case "i8" => BI8; case "i16" => BI16; case "i32" => BI32
    case "i64" => BI64; case "i128" => BI128
    case "bool" => BBool; case "f64" => BF64
    case "pubkey" => BPubkey; case "string" => BString
    case FixedRe(n) => BFixedBytes(n.toInt)
    case VecRe(e) => BVec(parseType(e))
    case other => throw new IllegalArgumentException(s"unsupported borsh type: $other")
  }

  private class Cursor(data: Array[Byte], offset: Int = 0) {
    // wrap in place from `offset` — copying the payload past the
    // discriminator allocated a second copy of every instruction on the
    // hot decode path (the per-row-allocation class the ThreadLocal
    // Deflater/MessageDigest kernels exist to avoid)
    val buf: ByteBuffer = ByteBuffer.wrap(data, offset, data.length - offset)
      .order(ByteOrder.LITTLE_ENDIAN)
    def bytes(n: Int): Array[Byte] = {
      val out = new Array[Byte](n); buf.get(out); out
    }
    /** Borsh u32 LENGTH prefix, bounds-checked BEFORE any allocation: the
      * raw int is signed (0xffffffff would read as -1 and make
      * `0 until -1` silently decode an empty vec as SUCCESS), and a huge
      * declared length would allocate gigabytes — an OutOfMemoryError the
      * allowFail Exception guard cannot catch — before the buffer bounds
      * ever complained. A length can never exceed the remaining payload.
      */
    def len32(): Int = {
      val raw = java.lang.Integer.toUnsignedLong(buf.getInt())
      if (raw > buf.remaining())
        throw new IllegalArgumentException(
          s"borsh length $raw exceeds remaining payload (${buf.remaining()} bytes)")
      raw.toInt
    }
  }

  private def decodeValue(t: BType, c: Cursor): Any = t match {
    case BU8   => c.buf.get() & 0xff
    case BU16  => c.buf.getShort() & 0xffff
    case BU32  => c.buf.getInt() & 0xffffffffL
    case BU64  =>
      val raw = c.bytes(8).reverse // LE → BE
      Decimal(new java.math.BigDecimal(new BigInteger(1, raw)), 20, 0)
    case BU128 =>
      val raw = c.bytes(16).reverse
      Decimal(new java.math.BigDecimal(new BigInteger(1, raw)), 38, 0)
    case BI128 =>
      val raw = c.bytes(16).reverse
      Decimal(new java.math.BigDecimal(new BigInteger(raw)), 38, 0)
    case BI8   => c.buf.get().toInt
    case BI16  => c.buf.getShort().toInt
    case BI32  => c.buf.getInt()
    case BI64  => c.buf.getLong()
    case BBool => c.buf.get() != 0
    case BF64  => c.buf.getDouble()
    case BPubkey => c.bytes(32)
    case BFixedBytes(n) => c.bytes(n)
    case BString =>
      UTF8String.fromBytes(c.bytes(c.len32()))
    case BVec(e) =>
      val len = c.len32()
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        (0 until len).map(_ => decodeValue(e, c)).toArray)
  }

  def decode(sig: InstructionSig, data: Array[Byte]): Array[Any] = {
    require(data.length >= sig.discriminator.length &&
      java.util.Arrays.equals(
        java.util.Arrays.copyOf(data, sig.discriminator.length), sig.discriminator),
      "instruction discriminator mismatch")
    val c = new Cursor(data, sig.discriminator.length)
    val out = sig.fields.map(f => decodeValue(f.tpe, c)).toArray
    // strict Borsh: unconsumed trailing bytes mean the field spec does
    // not describe this instruction (schema drift) — a silent drop would
    // return plausible wrong rows as successes; reference deserializers
    // reject unconsumed input
    require(!c.buf.hasRemaining,
      s"borsh payload has ${c.buf.remaining()} undecoded trailing bytes " +
        "(field spec does not match the instruction layout)")
    out
  }
}

/** Static decode shim for generated code — the Borsh analog of
  * [[graft.functions.AbiRuntime]]: sig enters as an untyped reference
  * object, error → null iff allowFail, same as nullSafeEval.
  */
object BorshRuntime {
  def decode(sigObj: AnyRef, data: Array[Byte], allowFail: Boolean): InternalRow = {
    val sig = sigObj.asInstanceOf[Borsh.InstructionSig]
    try new GenericInternalRow(Borsh.decode(sig, data))
    catch { case _: Exception if allowFail => null }
  }
}

/** svm_decode_instruction('<discriminator-hex>', '<field spec>', data)
  * → struct; `allowFail=true` → null on mismatch/truncation.
  *
  * A [[UnaryKernel]] whose compute is [[BorshRuntime.decode]], with the
  * signature as one reference object, so the containing stage stays in
  * whole-stage codegen — same measured rationale as [[EvmDecodeEvent]]
  * (SURVEY §6.2).
  */
case class SvmDecodeInstruction(discriminatorHex: String, fieldSpec: String,
                                allowFail: Boolean, child: Expression)
    extends UnaryKernel {
  @transient private lazy val sig = Borsh.InstructionSig(
    Hex.decode(discriminatorHex), Borsh.parseFields(fieldSpec))

  override protected def inputType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = allowFail
  override def dataType: DataType = sig.schema
  // the struct reports nullable whatever allowFail says (the schema the
  // steps and queries were built against)
  override def nullable: Boolean = true
  override def prettyName: String = "svm_decode_instruction"

  override protected def nullSafeEval(input: Any): Any =
    BorshRuntime.decode(sig, input.asInstanceOf[Array[Byte]], allowFail)
  override protected def computeCall(ctx: CodegenContext): String => String = {
    val sigRef = ctx.addReferenceObj("borshSig", sig, "Object")
    d => s"graft.functions.BorshRuntime.decode($sigRef, $d, $allowFail)"
  }

  override protected def withNewChildInternal(newChild: Expression): SvmDecodeInstruction =
    copy(child = newChild)
}
