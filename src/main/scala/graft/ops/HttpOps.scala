package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.IntegerType

/** HTTP/1.1 response-envelope splitting: the stage between WARC record
  * payloads and raw HTML in a REAL crawl — a Common Crawl `response`
  * record's payload is an HTTP message (status line, headers, blank
  * line, body), not bare HTML, so extraction must strip the envelope
  * and route on status code / Content-Type before [[HtmlOps]] ever
  * sees the body ([[graft.functions.GunzipToString]] is the sibling
  * byte-tier entry for the `.warc.gz` member framing).
  *
  * No reference analog (engine capability — the reference at
  * /root/reference starts at decoded rows).
  *
  * Same tier and guarantees as [[WarcOps]]: pure codegen'd column
  * expressions (regexp_extract over the head region — zero UDFs, no
  * shuffle), case-insensitive header names, absent header → NULL.
  * Fidelity bounds (documented, deliberate): the envelope is split at
  * the FIRST `\r\n\r\n` (multi-line folded headers — deprecated by
  * RFC 7230 — are not unfolded); lengths are character counts (the
  * WarcOps string-tier bound). `Transfer-Encoding: chunked` bodies ARE
  * de-chunked (r16, [[graft.functions.DechunkBody]] — live fetches
  * deliver chunked framing even though Common Crawl stores payloads
  * de-chunked); a chunked body with malformed framing surfaces as a
  * NULL body row.
  */
object HttpOps {

  /** The header block: everything before the first blank line
    * (status line included). Empty when the message has no blank
    * line.
    */
  def headRegion(msg: Column): Column =
    regexp_extract(msg, "(?s)^(.*?)\r\n\r\n", 1)

  /** The body: everything after the first blank line ('' when the
    * message has no blank line — a header-only or malformed message).
    */
  def body(msg: Column): Column =
    regexp_extract(msg, "(?s)^.*?\r\n\r\n(.*)$", 1)

  /** The 3-digit status code of the status line, NULL when the
    * message does not start with an HTTP/x.y status line.
    */
  def statusCode(msg: Column): Column =
    nullif(regexp_extract(msg, "^HTTP/[0-9.]+ ([0-9]{3})", 1), lit(""))
      .cast(IntegerType)

  /** One named header from the head region (case-insensitive per RFC
    * 9110 §5.1; value runs to end of line, trimmed by the `\s*`).
    * Absent → NULL. The name is quoted into the regex literally
    * (`Pattern.quote`), so a user-supplied header name containing
    * regex metachars cannot alter the pattern (r17 hardening — every
    * internal call site passes literal names, but the helper is
    * public API).
    */
  def header(msg: Column, name: String): Column =
    nullif(regexp_extract(headRegion(msg),
      "(?im)^" + java.util.regex.Pattern.quote(name) + ":\\s*([^\r\n]*)", 1),
      lit(""))

  /** The media type of the Content-Type header (before any `;`
    * parameter), lowercased and trimmed — the routing key (text/html
    * vs everything else). NULL when the header is absent.
    */
  def contentType(msg: Column): Column =
    nullif(lower(trim(regexp_extract(header(msg, "Content-Type"),
      "^([^;]*)", 1))), lit(""))

  /** The `charset=` parameter of Content-Type (lowercased, optional
    * quotes tolerated), NULL when absent — the decode hint a
    * byte-tier ingest keys transcoding on.
    */
  def charset(msg: Column): Column =
    nullif(lower(regexp_extract(header(msg, "Content-Type"),
      "(?i)charset=\"?([A-Za-z0-9._-]+)", 1)), lit(""))

  /** The final transfer coding of the Transfer-Encoding header
    * (lowercased, last `,`-separated token per RFC 9112 §6.1 — chunked
    * MUST be final when present), NULL when absent.
    */
  def transferEncoding(msg: Column): Column = lastCoding(msg, "Transfer-Encoding")

  /** De-chunk `bodyCol` when the transfer coding says chunked, pass it
    * through otherwise ([[graft.functions.DechunkBody]]; malformed
    * chunked framing → NULL body).
    */
  def dechunkIfChunked(bodyCol: Column, te: Column): Column =
    when(te === "chunked",
      Bridge.column(graft.functions.DechunkBody(Bridge.expression(bodyCol))))
      .otherwise(bodyCol)

  /** The final content coding of the Content-Encoding header
    * (lowercased, last `,`-separated token — codings apply in order,
    * so the LAST applied is the first to remove, RFC 9110 §8.4), NULL
    * when absent.
    */
  def contentEncoding(msg: Column): Column = lastCoding(msg, "Content-Encoding")

  /** The lowercased last `,`-separated token of header `name`, NULL if absent. */
  private def lastCoding(msg: Column, name: String): Column =
    nullif(lower(trim(regexp_extract(header(msg, name), "([^,]*)$", 1))), lit(""))

  /** Remove the content coding from a latin1-view body: `gzip`/
    * `x-gzip` bodies route through [[graft.functions.GunzipToString]]
    * and `deflate` through [[graft.functions.InflateToString]] (both
    * over the view's exact original bytes — `encode(body, ISO-8859-1)`
    * inverts the view; both return a latin1 view of the decompressed
    * bytes, malformed streams → NULL); absent/`identity` pass through.
    * `zstd` and `br` route through the JAR-GATED
    * [[graft.functions.ZstdToString]]/[[graft.functions.BrotliToString]]
    * kernels (r18, the W3/W4 discipline): with the codec jar on the
    * classpath they decode for real (zstd-jni ships with Spark, so
    * `zstd` is live on any real cluster; brotli needs the one
    * `org.brotli:dec` jar), without it every cell is the same
    * auditable NULL the coding produced before the gate existed. Any
    * other coding → NULL: an honest routing miss to audit, the
    * decodeBody boundary rule. Applied AFTER de-chunking — RFC 9112
    * removes the transfer coding first, then RFC 9110 the content
    * coding.
    */
  def decodeContentCoding(bodyCol: Column, ce: Column): Column = {
    val bytes = Bridge.expression(encode(bodyCol, "ISO-8859-1"))
    when(ce.isNull || ce === "identity", bodyCol)
      .when(ce.isin("gzip", "x-gzip"),
        Bridge.column(graft.functions.GunzipToString(bytes)))
      .when(ce === "deflate",
        Bridge.column(graft.functions.InflateToString(bytes)))
      .when(ce === "zstd", Bridge.column(graft.functions.ZstdToString(bytes)))
      .when(ce === "br", Bridge.column(graft.functions.BrotliToString(bytes)))
      .otherwise(lit(null).cast("string"))
  }

  /** Decode a body carried in the LATIN1-VIEW convention to real text.
    *
    * The byte-faithful ingest trick (x147): decode raw fetch/record
    * bytes as ISO-8859-1 FIRST — a 1:1 byte↔char map, so every
    * delimiter split, Content-Length slice, and header regex in
    * [[WarcOps]]/[[HttpOps]] operates on exact BYTE offsets while
    * staying in string expressions — then, once the envelope is off,
    * re-encode the body's chars back to its original bytes and decode
    * with the charset the Content-Type header declared:
    *
    *  - `iso-8859-1`/`latin1`/`us-ascii`/`ascii`/ABSENT → the view IS
    *    the text (identity — latin1 chars are their own codepoints);
    *  - `utf-8` → `decode(encode(view, ISO-8859-1), UTF-8)` — the
    *    original bytes reinterpreted (malformed sequences become
    *    U+FFFD, Spark's lenient decode — a broken page yields
    *    replacement chars, not a dead stage);
    *  - `windows-1252`/`cp1252` (the most common declared charset on
    *    the real web after UTF-8) → a 27-codepoint `translate`:
    *    cp1252 IS latin1 except at 0x80–0x9F, where it maps the 27
    *    defined bytes to printable punctuation/letters (€ ‚ ƒ „ … † ‡
    *    ˆ ‰ Š ‹ Œ Ž ‘ ’ “ ” • – — ˜ ™ š › œ ž Ÿ — the WHATWG encoding
    *    table; the 5 undefined bytes stay their C1 selves, also the
    *    WHATWG rule) — so the view translates to the text in one
    *    codegen'd pass (r17, VERDICT r16 #2);
    *  - anything else → [[graft.functions.DecodeCharset]], the
    *    never-throw `java.nio.charset` kernel over the view's exact
    *    bytes (r18, VERDICT r17 #1): the legacy multi-byte CJK web
    *    (shift_jis, euc-jp, gbk/gb18030, big5, euc-kr — WHATWG label
    *    semantics, so `shift_jis` decodes windows-31j and `big5`
    *    includes HKSCS, the superset real pages use) and the
    *    single-byte legacy families (koi8-r, windows-125x,
    *    iso-8859-x, tis-620, …) all decode; a name the JDK registry
    *    lacks, or bytes that contradict the declared charset
    *    (strict-REPORT decode — mislabeled pages), stay the honest
    *    NULL routing miss to audit, never silent mojibake.
    */
  def decodeBody(body: Column, charsetCol: Column): Column = {
    val cs = lower(coalesce(charsetCol, lit("iso-8859-1")))
    when(cs.isin("iso-8859-1", "latin1", "us-ascii", "ascii"), body)
      .when(cs.isin("utf-8", "utf8"),
        decode(encode(body, "ISO-8859-1"), "UTF-8"))
      .when(cs.isin("windows-1252", "cp1252"),
        translate(body, Cp1252ViewChars, Cp1252Chars))
      .when(cs === "utf-16le",
        decode(encode(body, "ISO-8859-1"), "UTF-16LE"))
      .when(cs === "utf-16be",
        decode(encode(body, "ISO-8859-1"), "UTF-16BE"))
      .otherwise(Bridge.column(graft.functions.DecodeCharset(
        Bridge.expression(body), Bridge.expression(cs))))
  }

  /** The charset the body's BYTE-ORDER MARK declares, from the latin1
    * view's first chars: `EF BB BF` → utf-8, `FF FE` → utf-16le,
    * `FE FF` → utf-16be; NULL when no BOM. Per WHATWG §13.2.3.2 the
    * BOM outranks EVERYTHING — the Content-Type header included — so
    * compose as `coalesce(bomCharset(view), headerCharset,
    * metaCharset(view))` and strip the decoded U+FEFF with
    * [[stripBom]].
    */
  def bomCharset(view: Column): Column =
    when(view.startsWith("\u00ef\u00bb\u00bf"), lit("utf-8"))
      .when(view.startsWith("\u00ff\u00fe"), lit("utf-16le"))
      .when(view.startsWith("\u00fe\u00ff"), lit("utf-16be"))
      .otherwise(lit(null).cast("string"))

  /** Drop a leading U+FEFF from DECODED text (the BOM survives the
    * charset decode as a real codepoint; it is markup noise, not
    * content).
    */
  def stripBom(text: Column): Column =
    regexp_replace(text, "^\uFEFF", "")

  /** The 27 bytes in 0x80–0x9F that windows-1252 defines, as their
    * latin1-view chars, and the chars they decode to (same order) —
    * the WHATWG windows-1252 index. ONE definition; the x147 fixture
    * and oracle interpolate these to build/expect the same mapping.
    */
  val Cp1252ViewChars: String =
    "\u0080\u0082\u0083\u0084\u0085\u0086\u0087\u0088\u0089" +
      "\u008a\u008b\u008c\u008e\u0091\u0092\u0093\u0094\u0095" +
      "\u0096\u0097\u0098\u0099\u009a\u009b\u009c\u009e\u009f"
  val Cp1252Chars: String =
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030" +
      "\u0160\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022" +
      "\u2013\u2014\u02dc\u2122\u0161\u203a\u0153\u017e\u0178"

  /** The media type the BYTES declare — file-signature (magic-byte)
    * sniffing over the latin1 view, the WHATWG MIME-sniffing idea at
    * the signature tier: real servers mislabel constantly (PDFs as
    * text/html, gzip blobs as text/plain), and a pipeline that trusts
    * Content-Type routes binary garbage into the HTML tier. Matches
    * the common web signatures (PDF, PNG, JPEG, GIF, RIFF/WAVE,
    * RIFF/WEBP, gzip, zip) on exact view-char prefixes (char i = byte
    * i under the latin1 convention), then a permissive
    * leading-whitespace `<` heuristic for markup; anything else →
    * NULL (unknown — fall back to the declared type). Pure codegen'd
    * expression.
    */
  def sniffMediaType(view: Column): Column = {
    def sig(prefix: String): Column = view.startsWith(prefix)
    when(sig("%PDF-"), lit("application/pdf"))
      .when(sig("\u0089PNG\r\n\u001a\n"), lit("image/png"))
      .when(sig("\u00ff\u00d8\u00ff"), lit("image/jpeg"))
      .when(sig("GIF87a") || sig("GIF89a"), lit("image/gif"))
      .when(sig("RIFF") && substring(view, 9, 4) === "WAVE",
        lit("audio/wav"))
      .when(sig("RIFF") && substring(view, 9, 4) === "WEBP",
        lit("image/webp"))
      .when(sig("\u001f\u008b"), lit("application/gzip"))
      .when(sig("PK\u0003\u0004"), lit("application/zip"))
      .when(view.rlike("^\\s*<"), lit("text/html"))
      .otherwise(lit(null).cast("string"))
  }

  /** The media type routing should TRUST, given the header's declared
    * type and the sniffed one (the documented simplification of
    * WHATWG §7: a confident BINARY signature overrides any
    * declaration — a PDF served as text/html is a PDF; when the
    * server declared nothing or the unsniffable
    * `application/octet-stream`, any sniff wins; otherwise the
    * declaration stands (the `<`-heuristic is too weak to overrule an
    * explicit text type)).
    */
  def effectiveMediaType(declared: Column, sniffed: Column): Column =
    when(sniffed.isNotNull && sniffed =!= "text/html", sniffed)
      .when(declared.isNull || declared === "application/octet-stream",
        coalesce(sniffed, declared))
      .otherwise(declared)

  /** PDF text extraction over a LATIN1-VIEW body — the
    * `application/pdf` route out of [[effectiveMediaType]] (r19,
    * VERDICT r18 #3): until now the x162 sniff detected PDFs only to
    * drop them. Routes the view's exact original bytes through the
    * pure-JDK [[graft.functions.PdfToText]] kernel (FlateDecode
    * content streams + the Tj/TJ/'/" text-showing walk — see the
    * kernel scaladoc for the operator policy and fidelity bounds);
    * non-PDF bytes and malformed documents surface as the NULL row.
    * Compose: `when(effectiveMediaType(…) === "application/pdf",
    * pdfText(col("body")))`.
    */
  def pdfText(bodyView: Column): Column =
    Bridge.column(graft.functions.PdfToText(
      Bridge.expression(encode(bodyView, "ISO-8859-1"))))

  /** Split a frame's `msgCol` HTTP response messages into the columns
    * downstream extraction routes on: `status_code`, `content_type`,
    * `charset`, `location` (redirect target), `transfer_encoding`,
    * `content_encoding`, and `body` (de-chunked when the transfer
    * coding is chunked, then content-decoded when a content coding is
    * declared — the RFC layer order). One narrow projection — composes
    * with [[WarcOps.responses]] payloads.
    */
  def parseResponses(df: DataFrame, msgCol: String): DataFrame =
    df.withColumn("status_code", statusCode(col(msgCol)))
      .withColumn("content_type", contentType(col(msgCol)))
      .withColumn("charset", charset(col(msgCol)))
      .withColumn("location", header(col(msgCol), "Location"))
      .withColumn("transfer_encoding", transferEncoding(col(msgCol)))
      .withColumn("content_encoding", contentEncoding(col(msgCol)))
      .withColumn("body",
        decodeContentCoding(
          dechunkIfChunked(body(col(msgCol)), col("transfer_encoding")),
          col("content_encoding")))
}
