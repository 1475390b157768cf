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
}

/** u256_to_decimal(binary) → DECIMAL(38,0); null when the value exceeds 38
  * digits (try-cast semantics, mirroring the reference's allow-fail casts).
  */
case class U256ToDecimal(child: Expression) extends UnaryKernel {
  override protected def inputType: DataType = BinaryType
  override def dataType: DataType = DecimalType(38, 0)
  override protected def nullOnBadInput: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "u256_to_decimal"
  override protected def nullSafeEval(input: Any): Any =
    U256ToDecimal.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): U256ToDecimal =
    copy(child = newChild)
}

object U256ToDecimal {
  def compute(b: Array[Byte]): Decimal = {
    val d = Decimal(new java.math.BigDecimal(new BigInteger(1, b)))
    if (d.changePrecision(38, 0)) d else null
  }
}

/** u256_to_string(binary) → full-precision base-10 string (lossless). */
case class U256ToString(child: Expression) extends UnaryKernel {
  override protected def inputType: DataType = BinaryType
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "u256_to_string"
  override protected def nullSafeEval(input: Any): Any =
    U256ToString.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): U256ToString =
    copy(child = newChild)
}

object U256ToString {
  def compute(b: Array[Byte]): UTF8String = UTF8String.fromString(new BigInteger(1, b).toString)
}

/** u256_from_string(base-10 string) → canonical 32-byte binary; null on
  * malformed or out-of-range input.
  */
case class U256FromString(child: Expression) extends UnaryKernel {
  override protected def inputType: DataType = StringType
  override def dataType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "u256_from_string"
  override protected def nullSafeEval(input: Any): Any =
    U256FromString.compute(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): U256FromString =
    copy(child = newChild)
}

object U256FromString {
  def compute(s: UTF8String): Array[Byte] = {
    val v = try new BigInteger(s.toString.trim) catch { case _: NumberFormatException => null }
    if (v == null || v.signum < 0 || v.bitLength > 256) return null
    val raw = v.toByteArray.takeRight(U256.Width) // drops a 256-bit value's zero sign byte
    val out = new Array[Byte](U256.Width)
    System.arraycopy(raw, 0, out, U256.Width - raw.length, raw.length)
    out
  }
}
