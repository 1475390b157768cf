package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JDK PDF text extraction (r19, VERDICT r18 #3): the
  * `application/pdf` route out of [[graft.ops.HttpOps.sniffMediaType]]
  * — PDFs are a meaningful, high-quality slice of a real crawl, and
  * until now the x162 sniff detected them only to DROP the document.
  *
  * How PDF text actually travels (ISO 32000-1): page content lives in
  * CONTENT STREAMS — `<< /Length … /Filter /FlateDecode >> stream …
  * endstream` objects whose decoded bytes are a sequence of graphics
  * operators, among them the TEXT-SHOWING operators `Tj` / `'` / `"`
  * (one literal string each) and `TJ` (an array of strings with
  * inter-glyph kerning numbers). FlateDecode is zlib (RFC 1950) — the
  * same `java.util.zip.Inflater` kernel the repo's deflate tier
  * already uses — so the common case needs no external jar.
  *
  * Extraction walk (both tiers strict, the never-throw contract):
  *
  *  1. signature: input must start `%PDF-`, else NULL (not a PDF);
  *  2. stream scan: each `stream` keyword (preceded by `>>` or
  *     whitespace, followed by the spec's EOL); the governing
  *     dictionary is the BALANCED `<< … >>` immediately before the
  *     keyword. Stream data is framed by the dict's DIRECT `/Length`
  *     when it parses as an integer AND `endstream` actually follows
  *     the declared span (ISO 32000-1 §7.3.8.2 — r20, ADVICE r19:
  *     binary Flate data legitimately contains the bytes `endstream`,
  *     and a literal scan truncated such streams); an indirect
  *     (`N G R`) or lying `/Length` falls back to the `endstream`
  *     scan. `/FlateDecode` streams inflate (zlib, raw retry — the
  *     InflateToString discipline, shared size cap); filterless
  *     streams are taken raw; any OTHER filter (DCTDecode images,
  *     LZW, crypt) skips the stream — images are not text;
  *  3. operator walk over each decoded stream: literal strings
  *     `(…)` (balanced parens, the `\( \) \\ \n \r \t \b \f`
  *     escapes, octal `\ddd`, escaped-EOL continuation) buffer as
  *     pending; `Tj`/`TJ` emit pending strings; `'`/`"` emit a line
  *     break then the string; `Td`/`TD`/`T*`/`ET` emit a line break;
  *     any other operator clears pending (strings in non-text roles
  *     never leak into the output). TJ kerning numbers are ignored —
  *     spacing inside a PDF comes from the strings themselves.
  *     A string (literal OR hex) opening with the `FE FF` byte-order
  *     mark is a UTF-16BE text string (ISO 32000-1 §7.9.2.2) and
  *     decodes as such — the tier that makes non-latin PDFs extract
  *     real text without CMap machinery (r20, VERDICT r19 #3).
  *
  * Deliberate fidelity bounds (documented, the heuristic-tier rule):
  * BOM-less bytes map to chars as latin1 (exact for Standard/WinAnsi-
  * encoded latin text — the overwhelmingly common case; subsetted
  * fonts with custom CMaps need the font's ToUnicode table, a full
  * PDF reader's job); hex strings `<…>` WITHOUT the UTF-16BE BOM are
  * skipped (they are CMap-coded in practice — emitting them would be
  * mojibake, worse than absence); xref tables are not consulted (the
  * stream scan sees every content stream regardless); object streams
  * (`/Type /ObjStm`, themselves compressed containers of other
  * objects) are not unpacked.
  *
  * Never-throw contract, degrading PER STREAM (r20, ADVICE r19 — one
  * bad stream must not erase a document whose other streams extracted
  * fine): a stream with no recoverable framing, an unbalanced
  * dictionary, a declared-Flate stream that does not inflate, or a
  * decompressed size past the shared cap SKIPS that stream; the
  * document returns NULL only when at least one stream failed AND no
  * text was extracted at all (the honest malformed-document miss,
  * auditable as a row — a single-stream garbage document still reads
  * NULL, never a silent ""). Non-PDF input → NULL; a well-formed PDF
  * with no text operators → the empty string (a real answer: "this
  * PDF has no extractable text").
  */
case class PdfToText(child: Expression) extends UnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "pdf_to_text"
  override protected def inputType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    PdfToText.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): PdfToText =
    copy(child = newChild)
}

object PdfToText {
  /** The balanced `<< … >>` dictionary ending nearest before `pos`,
    * or null when none balances — walked backwards counting nested
    * dict delimiters.
    */
  private def dictBefore(s: String, pos: Int): String = {
    var k = pos - 1
    // skip whitespace between `>>` and `stream`
    while (k >= 0 && Character.isWhitespace(s.charAt(k))) k -= 1
    if (k < 1 || s.charAt(k) != '>' || s.charAt(k - 1) != '>') return null
    val end = k + 1
    var depth = 1
    k -= 2
    while (k >= 1 && depth > 0) {
      if (s.charAt(k) == '>' && s.charAt(k - 1) == '>') { depth += 1; k -= 2 }
      else if (s.charAt(k) == '<' && s.charAt(k - 1) == '<') {
        depth -= 1
        if (depth == 0) return s.substring(k - 1, end)
        k -= 2
      }
      else k -= 1
    }
    null
  }

  /** The dict's DIRECT `/Length` value, or -1 when absent, indirect
    * (`N G R` — resolving it needs the xref machinery this tier
    * deliberately omits), or not an int.
    */
  private val LengthRe =
    "/Length\\s+(\\d{1,9})(\\s+\\d+\\s+R)?".r
  private def directLength(dict: String): Int =
    LengthRe.findFirstMatchIn(dict) match {
      case Some(m) if m.group(2) == null => m.group(1).toInt
      case _ => -1
    }

  /** ISO 32000-1 §7.9.2.2: a text string opening with the `FE FF`
    * byte-order mark is UTF-16BE — decode it (odd trailing byte →
    * U+FFFD via the JDK decoder, never a throw); BOM-less strings
    * keep their latin1 view.
    */
  private def utf16beIfBom(s: String): String =
    if (s.length >= 2 && s.charAt(0) == 'þ' && s.charAt(1) == 'ÿ') {
      val bytes = new Array[Byte](s.length - 2)
      var i = 0
      while (i < bytes.length) { bytes(i) = s.charAt(i + 2).toByte; i += 1 }
      new String(bytes, java.nio.charset.StandardCharsets.UTF_16BE)
    } else s

  /** One hex PDF string starting at the `<` at `i` (whitespace between
    * digits allowed per §7.3.4.3; an odd final digit pads with 0);
    * returns (rawBytesAsLatin1Chars, indexAfterClose) or null when
    * unterminated or containing a non-hex, non-whitespace char.
    */
  private def hexString(s: String, i: Int): (String, Int) = {
    val out = new java.lang.StringBuilder
    var hi = -1
    var k = i + 1
    while (k < s.length) {
      val c = s.charAt(k)
      if (c == '>') {
        if (hi >= 0) out.append((hi << 4).toChar) // odd count: pad 0
        return (out.toString, k + 1)
      }
      val d = Character.digit(c, 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else { out.append(((hi << 4) | d).toChar); hi = -1 }
      } else if (!Character.isWhitespace(c)) return null
      k += 1
    }
    null // unterminated
  }

  /** One literal PDF string starting at the `(` at `i`; returns
    * (decoded, indexAfterClose) or null on an unterminated string.
    */
  private def literalString(s: String, i: Int): (String, Int) = {
    val out = new java.lang.StringBuilder
    var k = i + 1
    var depth = 1
    while (k < s.length) {
      val c = s.charAt(k)
      if (c == '\\' && k + 1 < s.length) {
        val e = s.charAt(k + 1)
        e match {
          case 'n' => out.append('\n'); k += 2
          case 'r' => out.append('\r'); k += 2
          case 't' => out.append('\t'); k += 2
          case 'b' => out.append('\b'); k += 2
          case 'f' => out.append('\f'); k += 2
          case '(' => out.append('('); k += 2
          case ')' => out.append(')'); k += 2
          case '\\' => out.append('\\'); k += 2
          case '\r' => // escaped EOL = continuation (swallow \r\n or \r)
            k += (if (k + 2 < s.length && s.charAt(k + 2) == '\n') 3 else 2)
          case '\n' => k += 2
          case d if d >= '0' && d <= '7' => // octal, 1-3 digits
            var v = 0; var n = 0; var j = k + 1
            while (n < 3 && j < s.length &&
                s.charAt(j) >= '0' && s.charAt(j) <= '7') {
              v = v * 8 + (s.charAt(j) - '0'); n += 1; j += 1
            }
            out.append((v & 0xFF).toChar); k = j
          case other => out.append(other); k += 2 // spec: drop the \
        }
      } else if (c == '(') { depth += 1; out.append(c); k += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth == 0) return (out.toString, k + 1)
        out.append(c); k += 1
      }
      else { out.append(c); k += 1 }
    }
    null // unterminated
  }

  /** Text-showing walk over ONE decoded content stream (see the
    * expression scaladoc for the operator policy). Appends to `out`.
    */
  private def extractOps(stream: String, out: java.lang.StringBuilder): Unit = {
    val pending = new scala.collection.mutable.ArrayBuffer[String](4)
    def break(): Unit =
      if (out.length > 0 && out.charAt(out.length - 1) != '\n')
        out.append('\n')
    def flush(): Unit = { pending.foreach(out.append(_)); pending.clear() }
    var k = 0
    while (k < stream.length) {
      val c = stream.charAt(k)
      if (c == '(') {
        literalString(stream, k) match {
          case null => k = stream.length // unterminated: stop this stream
          case (str, next) => pending += utf16beIfBom(str); k = next
        }
      } else if (c == '<') {
        // dict delimiter, or hex string: UTF-16BE-BOM'd hex strings
        // decode (§7.9.2.2); BOM-less ones are CMap-coded in practice
        // and stay skipped (see fidelity bounds)
        if (k + 1 < stream.length && stream.charAt(k + 1) == '<') k += 2
        else hexString(stream, k) match {
          case null =>
            val close = stream.indexOf('>', k + 1)
            k = if (close < 0) stream.length else close + 1
          case (raw, next) =>
            if (raw.length >= 2 && raw.charAt(0) == 'þ' &&
                raw.charAt(1) == 'ÿ') pending += utf16beIfBom(raw)
            k = next
        }
      } else if (c == '\'') { break(); flush(); k += 1 }
      else if (c == '"') { break(); flush(); k += 1 }
      else if (c == '/') { // name token: skip (never an operator)
        k += 1
        while (k < stream.length && !Character.isWhitespace(stream.charAt(k))
            && "()<>[]{}/%".indexOf(stream.charAt(k)) < 0) k += 1
      } else if (Character.isLetter(c) || c == '*') {
        val start = k
        while (k < stream.length && (Character.isLetter(stream.charAt(k))
            || stream.charAt(k) == '*')) k += 1
        stream.substring(start, k) match {
          case "Tj" | "TJ" => flush()
          case "Td" | "TD" | "T*" | "ET" => break(); pending.clear()
          case _ => pending.clear() // strings in a non-text role
        }
      } else k += 1 // numbers, [, ], whitespace, delimiters
    }
  }

  def compute(bytes: Array[Byte]): UTF8String = {
    val s = Latin1View.toView(bytes)
    if (!s.startsWith("%PDF-")) return null
    val out = new java.lang.StringBuilder
    var anyFailed = false // per-stream degradation (see the scaladoc)
    var idx = 0
    var i = s.indexOf("stream", idx)
    while (i >= 0) {
      // the keyword, not a substring (endstream / "streaming" text):
      // preceded by dict-close or whitespace, followed by the EOL the
      // spec requires
      val precedes = i > 0 &&
        (s.charAt(i - 1) == '>' || Character.isWhitespace(s.charAt(i - 1)))
      var j = i + 6
      val eolOk = j < s.length && (s.charAt(j) == '\n' ||
        (s.charAt(j) == '\r' && j + 1 < s.length && s.charAt(j + 1) == '\n'))
      if (precedes && eolOk) {
        j += (if (s.charAt(j) == '\r') 2 else 1)
        val dict = dictBefore(s, i)
        // frame by the dict's direct /Length FIRST (binary Flate data
        // legitimately contains the bytes `endstream`); trust it only
        // when `endstream` actually follows the declared span — a
        // lying /Length falls back to the scan
        var dataEnd = -1
        var resume = -1
        val len = if (dict == null) -1 else directLength(dict)
        if (len >= 0 && j.toLong + len <= s.length) {
          var k = j + len
          if (k < s.length && s.charAt(k) == '\r') k += 1
          if (k < s.length && s.charAt(k) == '\n') k += 1
          if (s.startsWith("endstream", k)) {
            dataEnd = j + len
            resume = k + 9
          }
        }
        if (dataEnd < 0) {
          val end = s.indexOf("endstream", j)
          if (end < 0) {
            // unterminated stream: nothing after it can be framed
            anyFailed = true
            idx = s.length
          } else {
            dataEnd = end
            // strip the EOL before `endstream` (framing, not data)
            if (dataEnd > j && s.charAt(dataEnd - 1) == '\n') dataEnd -= 1
            if (dataEnd > j && s.charAt(dataEnd - 1) == '\r') dataEnd -= 1
            resume = end + 9
          }
        }
        if (dataEnd >= 0) {
          if (dict == null) anyFailed = true // no governing dict
          else if (dict.contains("/FlateDecode")) {
            val raw = InflateToString.inflate(bytes, j, dataEnd - j)
            if (raw == null) anyFailed = true // declared Flate, no inflate
            else extractOps(Latin1View.toView(raw), out)
          } else if (!dict.contains("/Filter")) {
            extractOps(s.substring(j, dataEnd), out)
          } // other filters: not text — skip
          idx = resume
        }
      } else idx = i + 6
      i = s.indexOf("stream", idx)
    }
    // a document where something failed AND nothing was extracted is a
    // malformed-document miss, not an honest empty answer
    if (anyFailed && out.length == 0) return null
    // trailing framing newlines are noise; interior structure is real
    var n = out.length
    while (n > 0 && (out.charAt(n - 1) == '\n' || out.charAt(n - 1) == '\r'))
      n -= 1
    UTF8String.fromString(out.substring(0, n))
  }
}
