package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Base58 codec, Bitcoin alphabet — the standard public algorithm
  * (repeated big-integer div-mod by 58 over the byte string; each leading
  * zero byte maps to '1').
  *
  * Spark-native replacement for the reference's Rust base58 kernel
  * (cherry: `steps/base58_encode.py:23`, golden-tested against the python
  * `base58` lib in `tests/test_steps.py:12-27`). Spark has no builtin.
  */
object Base58 {
  private val Alphabet =
    "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz".toCharArray
  private val Index: Array[Int] = {
    val a = Array.fill(128)(-1)
    Alphabet.indices.foreach(i => a(Alphabet(i)) = i)
    a
  }

  /** In-place long division of a base-`base` big-endian digit string,
    * returning the remainder. O(n) per output digit — fine for the 20/32/64
    * byte hashes this is used on (no BigInteger allocation churn).
    */
  private def divmod(num: Array[Byte], start: Int, base: Int, div: Int): Int = {
    var rem = 0
    var i = start
    while (i < num.length) {
      val digit = num(i) & 0xff
      val tmp = rem * base + digit
      num(i) = (tmp / div).toByte
      rem = tmp % div
      i += 1
    }
    rem
  }

  def encode(input: Array[Byte]): String = {
    if (input.isEmpty) return ""
    var zeros = 0
    while (zeros < input.length && input(zeros) == 0) zeros += 1
    val work = java.util.Arrays.copyOf(input, input.length)
    val enc = new Array[Char](input.length * 2)
    var outStart = enc.length
    var start = zeros
    while (start < work.length) {
      outStart -= 1
      enc(outStart) = Alphabet(divmod(work, start, 256, 58))
      if (work(start) == 0) start += 1
    }
    val sb = new java.lang.StringBuilder(zeros + enc.length - outStart)
    var i = 0
    while (i < zeros) { sb.append('1'); i += 1 }
    sb.append(enc, outStart, enc.length - outStart)
    sb.toString
  }

  /** Inverse of encode; returns null for characters outside the alphabet. */
  def decode(s: String): Array[Byte] = {
    if (s.isEmpty) return Array.emptyByteArray
    val in58 = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val d = if (c < 128) Index(c) else -1
      if (d < 0) return null
      in58(i) = d.toByte
      i += 1
    }
    var zeros = 0
    while (zeros < in58.length && in58(zeros) == 0) zeros += 1
    val dec = new Array[Byte](s.length)
    var outStart = dec.length
    var start = zeros
    while (start < in58.length) {
      outStart -= 1
      dec(outStart) = divmod(in58, start, 58, 256).toByte
      if (in58(start) == 0) start += 1
    }
    while (outStart < dec.length && dec(outStart) == 0) outStart += 1
    val out = new Array[Byte](zeros + dec.length - outStart)
    System.arraycopy(dec, outStart, out, zeros, dec.length - outStart)
    out
  }
}

/** base58_encode(binary) → string (Bitcoin alphabet). */
case class Base58Encode(child: Expression) extends UnaryKernel {
  override protected def inputType: DataType = BinaryType
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "base58_encode"
  override protected def nullSafeEval(input: Any): Any =
    Base58Encode.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): Base58Encode =
    copy(child = newChild)
}

object Base58Encode {
  def compute(b: Array[Byte]): UTF8String = UTF8String.fromString(Base58.encode(b))
}

/** base58_decode(string) → binary; null on invalid input characters. */
case class Base58Decode(child: Expression) extends UnaryKernel {
  override protected def inputType: DataType = StringType
  override def dataType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "base58_decode"
  override protected def nullSafeEval(input: Any): Any =
    Base58Decode.compute(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Base58Decode =
    copy(child = newChild)
}

object Base58Decode { def compute(s: UTF8String): Array[Byte] = Base58.decode(s.toString) }
