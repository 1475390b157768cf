package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EVM u256 support. Spark decimals cap at 38 digits; the reference's
  * canonical u256 carrier is `decimal256(76,0)` with an escape hatch that
  * rewrites it to raw binary (cherry: `steps/u256_to_binary.py:26-28`).
  * This engine adopts the escape hatch as the canon: a u256 IS a 32-byte
  * big-endian unsigned `BinaryType` value, zero-padded, so byte-wise
  * comparison == numeric comparison and group-by keys hash consistently.
  * These expressions move between that canon and decimal/string forms
  * (the same lossy decimal128 downcast the reference's own example does at
  * `examples/erc20_custom.py:176-184`).
  */
object U256 {
  val Width = 32

  def normalize(b: Array[Byte]): Array[Byte] = {
    require(b.length <= Width, s"u256 out of range: ${b.length} bytes")
    if (b.length == Width) b
    else {
      val out = new Array[Byte](Width)
      System.arraycopy(b, 0, out, Width - b.length, b.length)
      out
    }
  }

  def fromBigInteger(v: BigInteger): Array[Byte] = {
    require(v.signum >= 0 && v.bitLength <= 256, s"u256 out of range: $v")
    val raw = v.toByteArray // may carry a sign byte
    normalize(if (raw.length == Width + 1 && raw(0) == 0) raw.tail else raw)
  }

  def toBigInteger(b: Array[Byte]): BigInteger = new BigInteger(1, b)
}

/** u256_to_decimal(binary) → DECIMAL(38,0); null when the value exceeds 38
  * digits (try-cast semantics, mirroring the reference's allow-fail casts).
  */
case class U256ToDecimal(child: Expression) extends FallbackUnaryKernel {
  override protected def inputType: DataType = BinaryType
  override def dataType: DataType = DecimalType(38, 0)
  override protected def nullOnBadInput: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "u256_to_decimal"
  override protected def nullSafeEval(input: Any): Any = {
    val v = U256.toBigInteger(input.asInstanceOf[Array[Byte]])
    val d = Decimal(new java.math.BigDecimal(v))
    if (d.changePrecision(38, 0)) d else null
  }
  override protected def withNewChildInternal(newChild: Expression): U256ToDecimal =
    copy(child = newChild)
}

/** u256_to_string(binary) → full-precision base-10 string (lossless). */
case class U256ToString(child: Expression) extends FallbackUnaryKernel {
  override protected def inputType: DataType = BinaryType
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "u256_to_string"
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(U256.toBigInteger(input.asInstanceOf[Array[Byte]]).toString)
  override protected def withNewChildInternal(newChild: Expression): U256ToString =
    copy(child = newChild)
}

/** u256_from_string(base-10 string) → canonical 32-byte binary; null on
  * malformed or out-of-range input.
  */
case class U256FromString(child: Expression) extends FallbackUnaryKernel {
  override protected def inputType: DataType = StringType
  override def dataType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "u256_from_string"
  override protected def nullSafeEval(input: Any): Any =
    try U256.fromBigInteger(new BigInteger(input.asInstanceOf[UTF8String].toString.trim))
    catch { case _: IllegalArgumentException => null } // covers NumberFormatException
  override protected def withNewChildInternal(newChild: Expression): U256FromString =
    copy(child = newChild)
}
