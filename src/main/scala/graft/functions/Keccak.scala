package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Keccak-256 (the pre-FIPS Keccak with 0x01 domain padding, as used by
  * Ethereum for event topics and addresses) — pure-JVM implementation of the
  * public Keccak specification (keccak.team/keccak_specs_summary.html).
  *
  * Fills the role of the reference's Rust `evm_signature_to_topic0`
  * (cherry: `examples/erc20_custom.py:16,115`, kernel in external
  * cherry-core) — here a deterministic Catalyst expression, so topic0
  * constants fold at plan time when the input is a literal.
  */
object Keccak {
  private val RC: Array[Long] = Array(
    0x0000000000000001L, 0x0000000000008082L, 0x800000000000808aL,
    0x8000000080008000L, 0x000000000000808bL, 0x0000000080000001L,
    0x8000000080008081L, 0x8000000000008009L, 0x000000000000008aL,
    0x0000000000000088L, 0x0000000080008009L, 0x000000008000000aL,
    0x000000008000808bL, 0x800000000000008bL, 0x8000000000008089L,
    0x8000000000008003L, 0x8000000000008002L, 0x8000000000000080L,
    0x000000000000800aL, 0x800000008000000aL, 0x8000000080008081L,
    0x8000000000008080L, 0x0000000080000001L, 0x8000000080008008L)

  // rotation offsets r(x)(y), lane = state(x + 5*y)
  private val R: Array[Array[Int]] = Array(
    Array(0, 36, 3, 41, 18),
    Array(1, 44, 10, 45, 2),
    Array(62, 6, 43, 15, 61),
    Array(28, 55, 25, 21, 56),
    Array(27, 20, 39, 8, 14))

  @inline private def rotl(v: Long, n: Int): Long =
    if (n == 0) v else (v << n) | (v >>> (64 - n))

  private def permute(a: Array[Long]): Unit = {
    val c = new Array[Long](5)
    val d = new Array[Long](5)
    val b = new Array[Long](25)
    var round = 0
    while (round < 24) {
      // theta
      var x = 0
      while (x < 5) {
        c(x) = a(x) ^ a(x + 5) ^ a(x + 10) ^ a(x + 15) ^ a(x + 20)
        x += 1
      }
      x = 0
      while (x < 5) {
        d(x) = c((x + 4) % 5) ^ rotl(c((x + 1) % 5), 1)
        var y = 0
        while (y < 5) { a(x + 5 * y) ^= d(x); y += 1 }
        x += 1
      }
      // rho + pi
      x = 0
      while (x < 5) {
        var y = 0
        while (y < 5) {
          b(y + 5 * ((2 * x + 3 * y) % 5)) = rotl(a(x + 5 * y), R(x)(y))
          y += 1
        }
        x += 1
      }
      // chi
      x = 0
      while (x < 5) {
        var y = 0
        while (y < 5) {
          a(x + 5 * y) = b(x + 5 * y) ^ (~b((x + 1) % 5 + 5 * y) & b((x + 2) % 5 + 5 * y))
          y += 1
        }
        x += 1
      }
      // iota
      a(0) ^= RC(round)
      round += 1
    }
  }

  /** keccak256: rate 1088 bits (136 bytes), 32-byte digest, pad 0x01…0x80. */
  def hash256(input: Array[Byte]): Array[Byte] = {
    val rate = 136
    val state = new Array[Long](25)
    // absorb full blocks plus the padded tail
    val padded = new Array[Byte]((input.length / rate + 1) * rate)
    System.arraycopy(input, 0, padded, 0, input.length)
    padded(input.length) = 0x01
    padded(padded.length - 1) = (padded(padded.length - 1) | 0x80).toByte
    var off = 0
    while (off < padded.length) {
      var i = 0
      while (i < rate / 8) {
        var lane = 0L
        var j = 7
        while (j >= 0) { lane = (lane << 8) | (padded(off + i * 8 + j) & 0xffL); j -= 1 }
        state(i) ^= lane
        i += 1
      }
      permute(state)
      off += rate
    }
    // squeeze 32 bytes (little-endian lanes)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 4) {
      var j = 0
      while (j < 8) { out(i * 8 + j) = (state(i) >>> (8 * j)).toByte; j += 1 }
      i += 1
    }
    out
  }

  /** Canonicalize a human event/function signature and hash it:
    * "Transfer(address indexed from, address to, uint256 v)" →
    * keccak256("Transfer(address,address,uint256)"). Public Solidity ABI
    * canonical-type rules: drop names/`indexed`, uint→uint256, int→int256.
    */
  def topic0(signature: String): Array[Byte] =
    hash256(Abi.parseEvent(signature).canonical.getBytes("UTF-8"))
}

/** keccak256(binary) → 32-byte binary. */
case class Keccak256(child: Expression) extends UnaryKernel {
  override protected def inputType: DataType = BinaryType
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "keccak256"
  override protected def nullSafeEval(input: Any): Any =
    Keccak256.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): Keccak256 =
    copy(child = newChild)
}

object Keccak256 { def compute(b: Array[Byte]): Array[Byte] = Keccak.hash256(b) }
