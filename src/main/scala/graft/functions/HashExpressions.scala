package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** The repo's 60-bit deterministic hash — `hash60` — as ONE fused
  * codegen'd kernel (r20, guide §4 "expressions and codegen").
  *
  * Value contract (unchanged, the cross-engine convention every oracle
  * mirrors): the first 15 hex chars of `md5(bytes)` read as a base-16
  * BIGINT — i.e. the first 60 bits of the digest. The previous spelling,
  * `conv(substring(md5(c), 1, 15), 16, 10)`, materialized a 32-char hex
  * UTF8String per eval, substringed it, and radix-parsed the result —
  * three throwaway allocations per shingle/position/id occurrence, in
  * the hottest per-row path the engine has (span dedup evaluates it per
  * token position, the samplers per corpus row, DSIR per n-gram
  * occurrence). This kernel takes the digest's first 8 bytes as a
  * big-endian long shifted right 4 bits — bit-identical, zero
  * intermediate strings. Equality with the old spelling is
  * property-tested (`Hash60Spec`).
  *
  * Null contract: null in, null out (the md5/conv chain's behavior).
  */
case class Hash60(child: Expression) extends UnaryKernel {
  override def dataType: DataType = LongType
  // the conv(...) chain this replaces reported nullable=true; keep the
  // schema byte-identical for the oracle's schema compare
  override def nullable: Boolean = true
  override def prettyName: String = "hash60"
  override protected def inputType: DataType = BinaryType

  override protected def nullSafeEval(bytes: Any): Any =
    Hash60.compute(bytes.asInstanceOf[Array[Byte]])

  override protected def withNewChildInternal(newChild: Expression): Hash60 =
    copy(child = newChild)
}

object Hash60 {
  // MessageDigest.getInstance allocates (provider lookup + state) —
  // per-thread reuse keeps the per-row cost to digest+reset. MD5 state
  // is 16 bytes; one instance per executor thread is bounded.
  private[functions] val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes) as a non-negative long — exactly
    * `conv(substring(md5(bytes), 1, 15), 16, 10)`.
    */
  def compute(bytes: Array[Byte]): Long = {
    val md = md5.get()
    md.reset()
    val d = md.digest(bytes)
    // first 8 digest bytes big-endian, dropping the low nibble (16 hex
    // chars → 15): identical to parsing hex[0..14] base-16
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
  }
}

/** Salted raw-md5 kernel — the binary fast path for the MinHash band
  * signatures (r21, VERDICT r20 #2; guide §4 and §2.3 "narrower types").
  *
  * Value contract: the 16 raw digest bytes of `md5(salt ++ bytes)` —
  * i.e. exactly `unhex(md5(concat(lit(salt), c)))` for a string column
  * `c` (UTF-8 string concatenation IS byte concatenation, so seeding
  * the digest with the salt's UTF-8 bytes and then updating with the
  * value's bytes hashes the identical byte stream, with no per-row
  * concat allocation). The previous banding spelling,
  * `min(md5(concat(lit(h), lit("|"), col("s"))))`, allocated — per
  * shingle, per hash function — a concat copy of the shingle plus a
  * 32-char hex UTF8String, and then min-aggregated and SHUFFLED those
  * hex strings. Raw digests halve the aggregation-buffer/shuffle bytes
  * and skip both allocations.
  *
  * Ordering contract (what makes the swap value-invisible): lowercase
  * hex encoding is strictly monotone per byte (each byte maps to two
  * hex chars whose lexicographic order equals the byte's unsigned
  * order), digests are fixed-length (16 bytes / 32 chars — no prefix
  * cases), and Spark orders BinaryType by unsigned lexicographic byte
  * comparison — so `min` over raw digests picks the digest whose hex
  * form `min` over hex strings would pick (property-tested,
  * `Md5SaltedSpec`). Band signatures built from these mins are only
  * ever GROUPING keys (never query output), so identical winners ⇒
  * identical buckets ⇒ identical candidate pairs.
  *
  * Null contract: null in, null out (the md5 chain's behavior).
  */
case class Md5Salted(salt: String, child: Expression)
    extends UnaryKernel {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "md5_salted"
  override protected def inputType: DataType = BinaryType

  @transient private lazy val saltBytes: Array[Byte] =
    salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override protected def nullSafeEval(bytes: Any): Any =
    Md5Salted.compute(saltBytes, bytes.asInstanceOf[Array[Byte]])

  override protected def computeCall(ctx: CodegenContext): String => String = {
    val saltRef = ctx.addReferenceObj("saltBytes", saltBytes, "byte[]")
    b => s"graft.functions.Md5Salted.compute($saltRef, $b)"
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Salted =
    copy(child = newChild)
}

object Md5Salted {
  /** Raw 16-byte digest of md5(prefix ++ bytes). */
  def compute(prefix: Array[Byte], bytes: Array[Byte]): Array[Byte] = {
    val md = Hash60.md5.get()
    md.reset()
    md.update(prefix)
    md.update(bytes)
    md.digest()
  }
}
