package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Decode an HTTP/1.1 `Transfer-Encoding: chunked` body (RFC 9112
  * §7.1) — the LAST un-decoded envelope layer of the byte-faithful
  * first mile: a live fetch (unlike Common Crawl's already-de-chunked
  * store) delivers `<hex-size>[;ext]\r\n<data>\r\n` frames terminated
  * by a zero-size chunk and optional trailer fields.
  *
  * Semantics: chunk sizes count VIEW CHARS — under the latin1-view
  * convention every byte-carrying string obeys
  * ([[graft.functions.Latin1View]], the x147/GunzipToString
  * discipline), char i IS byte i, so the declared byte count and the
  * char count coincide exactly, including when a chunk boundary falls
  * inside what will later decode as a multi-byte UTF-8 sequence (r17 —
  * r16 counted the string's re-encoded UTF-8 bytes, which diverges
  * from the original byte offsets precisely on the non-ASCII views the
  * convention exists for; ADVICE r16). Hex digits of either case;
  * chunk extensions and trailer fields are dropped (RFC 9110 §6.5: a
  * recipient MAY discard trailers). Malformed framing — a missing
  * CRLF, a truncated chunk, a non-hex size, no terminal chunk —
  * decodes to NULL rather than failing the job (the GunzipToString
  * 100 TB rule: corruption must surface as a filterable NULL row, not
  * kill the stage).
  */
case class DechunkBody(child: Expression) extends UnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "dechunk_body"
  override protected def inputType: DataType = StringType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    DechunkBody.compute(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): DechunkBody =
    copy(child = newChild)
}

object DechunkBody {
  private def hexVal(c: Char): Int = c match {
    case d if d >= '0' && d <= '9' => d - '0'
    case d if d >= 'a' && d <= 'f' => d - 'a' + 10
    case d if d >= 'A' && d <= 'F' => d - 'A' + 10
    case _                         => -1
  }

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (true) {
      // hex chunk size (at least one digit; 2^28 cap — a single
      // declared chunk beyond 256 Mi in a string column is corruption,
      // and the cap keeps size arithmetic safely in Int range)
      var size = 0L
      var digits = 0
      while (i < n && hexVal(str.charAt(i)) >= 0 && size <= (1L << 28)) {
        size = size * 16L + hexVal(str.charAt(i)); digits += 1; i += 1
      }
      if (digits == 0 || size > (1L << 28)) return null
      // optional chunk extension up to the CR; then mandatory CRLF
      while (i < n && str.charAt(i) != '\r') i += 1
      if (i + 1 >= n || str.charAt(i + 1) != '\n') return null
      i += 2
      if (size == 0L) {
        // terminal chunk: optional trailer fields dropped (doc'd bound)
        return UTF8String.fromString(out.toString)
      }
      if (i + size > n) return null
      out.append(str, i, i + size.toInt)
      i += size.toInt
      if (i + 1 >= n || str.charAt(i) != '\r' || str.charAt(i + 1) != '\n')
        return null
      i += 2
    }
    null // unreachable
  }
}
