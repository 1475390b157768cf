package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** WARC (Web ARChive, ISO 28500) container parsing: the stage a web-scale
  * corpus runs BEFORE even [[HtmlOps]] sees raw HTML — a crawl ships as
  * WARC files (Common Crawl's distribution format), each a concatenation
  * of records:
  *
  * {{{
  *   WARC/1.0\r\n
  *   WARC-Type: response\r\n
  *   WARC-Target-URI: https://...\r\n
  *   WARC-Date: 2020-01-01T00:00:00Z\r\n
  *   Content-Length: N\r\n
  *   \r\n
  *   <N bytes of payload>\r\n\r\n
  * }}}
  *
  * No reference analog (engine capability, like the rest of the first-mile
  * tier — the reference at /root/reference starts at decoded rows).
  *
  * Parsing is pure column-expression composition (replace / split /
  * posexplode / regexp_extract — zero UDFs): record splitting is a
  * sentinel replace of the `WARC/1.0\r\n` version line followed by one
  * split, so a 1 GB WARC file parses as a narrow map over its rows with
  * no shuffle at all; header-field extraction and Content-Length payload
  * slicing ride whole-stage codegen.
  *
  * Fidelity bounds (documented, deliberate — this is the string tier):
  * lengths are CHARACTER counts, not bytes (exact for ASCII payloads; a
  * byte-faithful parser would start from `binaryFile` sources), and a
  * payload that itself embeds the `\r\n\r\nWARC/1.0\r\n` record boundary
  * false-splits. Both classes are self-diagnosing: every record carries
  * `length_ok` (payload region length == Content-Length + the 4-char
  * record terminator), so corrupt or boundary-embedding records surface
  * as `length_ok = false` instead of silently wrong payloads.
  */
object WarcOps {

  /** The record version line every WARC record starts with. */
  val VersionLine: String = "WARC/1.0\r\n"

  /** gzip a record into one member ([[graft.functions.GzipBytes]]) —
    * the `.warc.gz` framing is one gzip member PER RECORD, so a reader
    * can seek to a record without decompressing the file.
    */
  def gzipMember(record: Column): Column =
    Bridge.column(graft.functions.GzipBytes(Bridge.expression(record)))

  /** Decompress a full `.warc.gz` file's bytes — concatenated members
    * included — back to the WARC text [[parseRecords]] consumes
    * ([[graft.functions.GunzipToString]]; malformed gzip → NULL).
    */
  def gunzipText(fileBytes: Column): Column =
    Bridge.column(graft.functions.GunzipToString(Bridge.expression(fileBytes)))

  /** Record-boundary sentinel the version line is replaced with before
    * the one-pass split. Payload bytes that COLLIDE with the sentinel
    * machinery are escaped first (r17): a gzip/deflate content-coded
    * HTTP body inside a record is arbitrary binary in the latin1 view,
    * and its 0x01 bytes false-split records under the bare r16 scheme
    * (~1 payload in 3 at page sizes — found by the x150 gate). The
    * standard prefix-free escape makes the split total over ARBITRARY
    * content: pre-split, `\u0002` → `\u0002\u0004` and `\u0001` →
    * `\u0002\u0003` (now no `\u0001` remains and every `\u0002` leads
    * an escape pair); post-split each piece decodes with the two
    * inverse replaces. Five narrow codegen'd replaces total; the
    * DuckDB mirror runs the identical chain.
    */
  private val Sentinel = "\u0001"
  private val Esc = "\u0002"
  private val EscEsc = "\u0002\u0004"
  private val EscSen = "\u0002\u0003"

  /** One named WARC header from a record body (headers are
    * case-insensitive per ISO 28500 §5.1; values run to end of line).
    * Absent header → NULL, so warcinfo records surface a NULL
    * `target_uri` rather than an empty string.
    */
  private def header(body: Column, name: String): Column =
    nullif(regexp_extract(body, "(?im)^" + name + ":\\s*([^\r\n]*)", 1),
      lit(""))

  /** Parse a frame of `(idCol, contentCol)` WARC files into one row per
    * record:
    *
    *  - `rec_no`     — 0-based position of the record in its file;
    *  - `warc_type`  — the WARC-Type header (response / request /
    *                   warcinfo / ...), NULL if absent;
    *  - `target_uri` — WARC-Target-URI, NULL if absent (warcinfo);
    *  - `warc_date`  — WARC-Date, NULL if absent;
    *  - `payload_digest` — WARC-Payload-Digest, NULL if absent (the
    *                   content-identity key [[resolveRevisits]] joins
    *                   on);
    *  - `refers_to`  — WARC-Refers-To-Target-URI, NULL if absent;
    *  - `content_length` — Content-Length as a LONG, NULL if absent;
    *  - `payload`    — the Content-Length-sized slice after the blank
    *                   line ending the header block (NULL when
    *                   Content-Length is missing);
    *  - `length_ok`  — whether the region between this record's blank
    *                   line and the next record (or end of file) is
    *                   exactly Content-Length + the `\r\n\r\n`
    *                   terminator. False flags truncation, a wrong
    *                   Content-Length, or a boundary-embedding payload.
    *
    * Content before the first version line (a non-WARC preamble) is not
    * a record and produces no row. An empty file produces no rows.
    */
  def parseRecords(files: DataFrame, idCol: String,
                   contentCol: String): DataFrame = {
    // escape → mark version lines → split → decode (see Sentinel doc):
    // total over arbitrary payload bytes, identity on sentinel-free text
    val escaped = replace(replace(col(contentCol), lit(Esc), lit(EscEsc)),
      lit(Sentinel), lit(EscSen))
    val bodies = files
      .select(col(idCol),
        posexplode(split(replace(escaped, lit(VersionLine),
          lit(Sentinel)), Sentinel))
          .as(Seq("__i", "__piece")))
      // element 0 is whatever precedes the first version line (the empty
      // string for a well-formed file) — never a record
      .filter(col("__i") >= 1)
      .select(col(idCol), (col("__i") - 1).cast(LongType).as("rec_no"),
        replace(replace(col("__piece"), lit(EscSen), lit(Sentinel)),
          lit(EscEsc), lit(Esc)).as("__body"))
    parseRecordBodies(bodies, idCol)
  }

  /** The shared record-field tier over pre-split record bodies
    * `(idCol, rec_no, __body)` — one definition behind BOTH splitters
    * ([[parseRecords]]' sentinel split and [[readWarcGzRecords]]'
    * streaming split), so the two ingest paths cannot drift.
    */
  private def parseRecordBodies(bodies: DataFrame,
                                idCol: String): DataFrame = {
    // digits-only capture: a malformed Content-Length value is NULL (→
    // length_ok=false), never an ANSI cast error mid-job
    val contentLength = nullif(regexp_extract(col("__body"),
      "(?im)^Content-Length:\\s*([0-9]+)\\s*$", 1), lit("")).cast(LongType)
    // the header block ends at the first blank line; everything after is
    // the payload region (which still carries the \r\n\r\n terminator)
    val payloadRegion =
      regexp_extract(col("__body"), "(?s)^.*?\r\n\r\n(.*)$", 1)
    bodies
      .withColumn("warc_type", header(col("__body"), "WARC-Type"))
      .withColumn("target_uri", header(col("__body"), "WARC-Target-URI"))
      .withColumn("warc_date", header(col("__body"), "WARC-Date"))
      .withColumn("payload_digest",
        header(col("__body"), "WARC-Payload-Digest"))
      .withColumn("refers_to",
        header(col("__body"), "WARC-Refers-To-Target-URI"))
      .withColumn("content_length", contentLength)
      .withColumn("payload", payloadRegion.substr(lit(1), contentLength))
      .withColumn("length_ok", contentLength.isNotNull &&
        length(payloadRegion) === contentLength + lit(4))
      .drop("__body")
  }

  /** A WET-style `conversion` record for one extracted page — the
    * OUTPUT direction of the first mile (Common Crawl ships exactly
    * this artifact: extracted text re-wrapped as WARC `conversion`
    * records with `WARC-Refers-To-Target-URI` pointing at the source
    * response). The text travels as its UTF-8 bytes' latin1 view
    * (char i = byte i), so `Content-Length` is the exact BYTE count
    * the spec requires even for non-latin1 text — and the read path
    * recovers the text with `decodeBody(payload, 'utf-8')`, closing
    * the loop through the same byte convention the ingest tier uses.
    * Sentinel-char collisions (/) in the payload are
    * escaped by the [[parseRecords]] splitter before splitting; an
    * embedded literal `WARC/1.0\r\n` version line remains the
    * documented `length_ok`-diagnosed fidelity boundary (see the
    * module scaladoc) — C4-extracted text cannot carry one, since
    * whitespace collapse removes every \r.
    */
  def conversionRecord(uri: Column, date: Column, text: Column): Column =
    refersToRecord("conversion", "text/plain", uri, date, text)

  /** A WAT-style `metadata` record for one page (r18, VERDICT r17 #3 —
    * the third leg of the Common Crawl WARC/WAT/WET artifact triple):
    * per-record JSON metadata — the page's links, title, and response
    * headers — wrapped as a WARC `metadata` record with
    * `WARC-Refers-To-Target-URI` pointing at the source response and
    * `Content-Type: application/json`, the shape Common Crawl's WAT
    * files ship (their `Envelope.Payload-Metadata` JSON, simplified to
    * the fields this engine extracts). Build the payload with
    * `to_json(struct(uri, title, links, headers))` over the existing
    * [[graft.ops.HtmlOps.extractLinks]]/[[graft.ops.HtmlOps.title]]/
    * header columns and read it back with `from_json` — the x164 round
    * trip convention.
    *
    * The JSON travels as its UTF-8 bytes' latin1 view (the
    * [[conversionRecord]] byte convention), so `Content-Length` is the
    * exact BYTE count even when a title carries non-ASCII — and the
    * read path recovers the JSON with `decodeBody(payload, 'utf-8')`.
    * Same [[parseRecords]] fidelity bounds as every record producer.
    */
  def watRecord(uri: Column, date: Column, payloadJson: Column): Column =
    refersToRecord("metadata", "application/json", uri, date, payloadJson)

  /** A `warcType` record referring to `uri`, `payload` as its UTF-8 latin1 view. */
  private def refersToRecord(warcType: String, contentType: String,
                             uri: Column, date: Column,
                             payload: Column): Column = {
    val view = decode(encode(payload, "UTF-8"), "ISO-8859-1")
    concat(
      lit(s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Target-URI: "), uri,
      lit("\r\nWARC-Date: "), date,
      lit("\r\nWARC-Refers-To-Target-URI: "), uri,
      lit(s"\r\nContent-Type: $contentType\r\nContent-Length: "),
      length(view).cast("string"),
      lit("\r\n\r\n"), view, lit("\r\n\r\n"))
  }

  /** The rows downstream extraction actually consumes: well-formed
    * `response` records only.
    */
  def responses(files: DataFrame, idCol: String,
                contentCol: String): DataFrame =
    parseRecords(files, idCol, contentCol)
      .filter(col("warc_type") === "response" && col("length_ok"))

  /** Production ingest entry for a `.warc.gz` store: read files from
    * `path` (a directory, glob, or single file) through Spark's
    * `binaryFile` source — one row per FILE, the unit a crawl store
    * shards by (Common Crawl segments are ~1 GB `.warc.gz` files) —
    * and decode the concatenated gzip members to the record stream
    * [[parseRecords]] consumes. Returns `(file_id, content)` where
    * `file_id` is the file path (corrupt gzip → NULL content row, the
    * GunzipToString rule — filter or audit, the stage never dies).
    *
    * Scale shape: binaryFile assigns one task per file (up to
    * `spark.sql.files.maxPartitionBytes` grouping for small files);
    * gunzip and the record split are narrow per-file work, so a
    * 1000-executor cluster decodes 1000 segments at a time with no
    * shuffle before the caller's first keyed stage. The 2 GiB
    * `binaryFile` per-file cap matches the WARC ecosystem's ~1 GB
    * segment convention.
    */
  def readWarcGzFiles(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame =
    spark.read.format("binaryFile").load(path)
      .select(col("path").as("file_id"),
        gunzipText(col("content")).as("content"))

  /** STREAMING ingest for full-size `.warc.gz` segments (r17, ADVICE
    * r16): [[readWarcGzFiles]] decompresses a whole file into one
    * string cell, which the [[graft.functions.GunzipToString]] size
    * cap deliberately refuses past 256 MiB — a real ~1 GB Common
    * Crawl segment decompresses to 3–5 GB and cannot be one JVM
    * value. This path never materializes the file: per file, a
    * streaming gunzip feeds an incremental record splitter
    * ([[streamRecordBodies]]) that scans for `WARC/1.0\r\n`
    * boundaries and emits ONE RECORD AT A TIME, so peak memory per
    * task is the compressed file buffer plus the largest single
    * record — not the decompressed segment. Output schema and
    * semantics are IDENTICAL to `parseRecords(readWarcGzFiles(...))`
    * (both splitters feed the same field tier; spec-pinned), with
    * `rec_no` assigned in stream order.
    *
    * This is the one `flatMap` in the ingest tier — a per-partition
    * stateful byte scanner is exactly the imperative-iterator case the
    * Dataset API exists for; everything downstream stays in column
    * expressions. Corrupt gzip or a record past the size cap ends
    * THAT FILE's record stream at the damage point (records already
    * decoded still surface; the stage never dies — the 100 TB rule).
    *
    * Scale shape: binaryFile assigns one task per file; decompression
    * and splitting are narrow per-file work with bounded memory, so a
    * 1000-executor cluster decodes 1000 segments at a time with no
    * shuffle before the caller's first keyed stage.
    */
  def readWarcGzRecords(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame = {
    import spark.implicits._
    val bodies = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        streamRecordBodies(bytes).zipWithIndex
          .map { case (b, i) => (p, i.toLong, b) }
      }
      .toDF("file_id", "rec_no", "__body")
    parseRecordBodies(bodies, "file_id")
  }

  /** Incrementally split one `.warc.gz` file's bytes into record
    * bodies (version line removed — the [[parseRecords]] `__body`
    * convention), decompressing through a streaming
    * `GZIPInputStream` (concatenated members read transparently) and
    * viewing bytes as latin1 chars (the byte-faithful convention).
    * Lazy: each `next()` reads only until the following record
    * boundary. Content before the first version line (a preamble) is
    * skipped. A gzip error or a single record growing past
    * [[graft.functions.GunzipToString.MaxDecompressedBytes]] ends the
    * iterator at the damage point — emit-then-stop, never throw.
    */
  private[ops] def streamRecordBodies(
      gzBytes: Array[Byte]): Iterator[String] = new Iterator[String] {
    private val Marker = VersionLine.getBytes("ISO-8859-1")
    private val MaxRec = graft.functions.GunzipToString.MaxDecompressedBytes
    private val in: java.io.InputStream =
      try new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gzBytes))
      catch { case _: java.io.IOException => null }
    private val chunk = new Array[Byte](64 * 1024)
    private var arr = new Array[Byte](64 * 1024)
    private var len = 0
    private var eof = in == null
    private var dead = in == null          // damage: stop emitting
    private var sawFirst = false
    private var scanned = 0                // boundary-scan resume point
    private var pending: String = null

    private def readMore(): Unit = {
      if (eof) return
      val n = try in.read(chunk)
      catch { case _: java.io.IOException => dead = true; -1 }
      if (n < 0) { eof = true; try in.close() catch { case _: Exception => () } }
      else {
        if (len + n > arr.length) {
          if (len + n > MaxRec) { dead = true; eof = true; return }
          var cap = arr.length
          while (cap < len + n) cap = math.min(cap * 2, MaxRec)
          arr = java.util.Arrays.copyOf(arr, cap)
        }
        System.arraycopy(chunk, 0, arr, len, n)
        len += n
      }
    }

    /** first marker index at or after `from`, or -1 */
    private def findMarker(from: Int): Int = {
      var i = math.max(from, 0)
      while (i + Marker.length <= len) {
        var j = 0
        while (j < Marker.length && arr(i + j) == Marker(j)) j += 1
        if (j == Marker.length) return i
        i += 1
      }
      -1
    }

    private def shift(to: Int): Unit = {
      System.arraycopy(arr, to, arr, 0, len - to)
      len -= to
      scanned = 0
    }

    private def advance(): Unit = {
      while (pending == null && !dead) {
        if (!sawFirst) {
          val i = findMarker(0)
          if (i >= 0) { shift(i + Marker.length); sawFirst = true }
          else if (eof) { dead = true }       // no record in file
          else {
            // keep only a possible marker prefix at the tail
            if (len > Marker.length - 1) shift(len - (Marker.length - 1))
            readMore()
          }
        } else {
          val i = findMarker(scanned)
          if (i >= 0) {
            pending = graft.functions.Latin1View.toView(arr, 0, i)
            shift(i + Marker.length)
          } else if (eof) {
            // the final record runs to end of stream
            pending = graft.functions.Latin1View.toView(arr, 0, len)
            len = 0
            dead = true
          } else {
            scanned = math.max(len - (Marker.length - 1), 0)
            readMore()
          }
        }
      }
    }

    override def hasNext: Boolean = { advance(); pending != null }
    override def next(): String = {
      advance()
      if (pending == null) throw new NoSuchElementException("record stream")
      val r = pending; pending = null; r
    }
  }

  /** Deduplicated-store WRITING — the other half of [[resolveRevisits]]
    * (WARC 1.1 §6.7.2, exactly how Common Crawl stores re-fetches): the
    * FIRST capture of each payload digest writes a full `response`
    * record; every other capture of the same digest writes a body-less
    * `revisit` record carrying the digest and
    * `WARC-Refers-To-Target-URI` pointing at the original — the
    * storage-dedup that makes a 100 TB archive hold mostly headers for
    * its unchanged majority. "First" = earliest (dateCol, uriCol) per
    * digest — the SAME rule [[resolveRevisits]] resolves by, so a
    * store written here always resolves to its own originals.
    *
    * Input: one row per capture — `(uriCol, dateCol, payloadCol
    * latin1-view, digestCol)`. Output: the input keys + `record` (the
    * WARC record string) + `is_revisit`.
    *
    * Scale shape: ONE digest-keyed shuffle serves both the first-pick
    * window and the original-uri join (co-partitioned); the record
    * synthesis is a narrow map. A viral payload's digest group is
    * exactly the duplication the op collapses.
    */
  def dedupStoreRecords(captures: DataFrame, uriCol: String = "url",
                        dateCol: String = "capture_date",
                        payloadCol: String = "payload",
                        digestCol: String = "digest"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(digestCol).orderBy(dateCol, uriCol)
    val ranked = captures.withColumn("__rk", row_number().over(w))
    val originals = ranked.filter(col("__rk") === 1)
      .select(col(digestCol), col(uriCol).as("__orig_uri"))
    def head(tpe: String): Column = concat(
      lit("WARC/1.0\r\nWARC-Type: " + tpe + "\r\nWARC-Target-URI: "),
      col(uriCol), lit("\r\nWARC-Date: "), col(dateCol),
      lit("\r\nWARC-Payload-Digest: "), col(digestCol))
    val response = concat(head("response"),
      lit("\r\nContent-Length: "),
      length(col(payloadCol)).cast("string"),
      lit("\r\n\r\n"), col(payloadCol), lit("\r\n\r\n"))
    val revisit = concat(head("revisit"),
      lit("\r\nWARC-Refers-To-Target-URI: "), col("__orig_uri"),
      lit("\r\nContent-Length: 0\r\n\r\n\r\n\r\n"))
    ranked.join(originals, Seq(digestCol))
      .withColumn("record",
        when(col("__rk") === 1, response).otherwise(revisit))
      .withColumn("is_revisit", col("__rk") > 1)
      .drop("__rk", "__orig_uri")
  }

  /** CDX(J) index records for a WARC store (r20, VERDICT r19 #5 — the
    * artifact that makes the [[dedupStoreRecords]] store SEEKABLE, and
    * the fourth leg of the Common Crawl artifact family after
    * WARC/WAT/WET): one index line per record,
    *
    * {{{ <urlkey> <timestamp14> <json> }}}
    *
    * — the pywb/OpenWayback CDXJ convention: `urlkey` is the SURT key
    * ([[graft.ops.UrlOps.surtKey]] — host-reversed so one site's
    * captures sort contiguously), `timestamp14` is the WARC-Date's
    * digits (`yyyyMMddHHmmss`), and the JSON object carries `url`,
    * `digest`, `mime`, `status`, `offset`, `length`, `filename` — the
    * fields a replay/refetch consumer needs to seek straight to one
    * record without scanning the file.
    *
    * Input: one row per record BEFORE file concatenation —
    * `(fileCol, ordCols…, recordCol, uriCol, dateCol, digestCol)` —
    * with `ordCols` the exact sort the caller concatenates by, so the
    * computed offsets address the assembled file. `offset`/`length`
    * are CHARACTER positions in the latin1 view (= byte offsets into
    * an uncompressed store — the module's byte-faithful convention;
    * indexing `.warc.gz` member offsets would need the compressed
    * framing, a documented bound). `filename` is
    * `<fileCol>.warc`.
    *
    * Output: input keys + `urlkey`, `cdxj_ts`, `offset`, `rec_length`,
    * `cdxj` (the full line).
    *
    * Scale shape: ONE fileCol-keyed shuffle serves the offset prefix
    * sum (records-per-file-sized windows — the same key the store
    * grouping itself shuffles by); everything else is a narrow map.
    */
  def cdxjRecords(records: DataFrame, fileCol: String,
                  ordCols: Seq[String], recordCol: String = "record",
                  uriCol: String = "url", dateCol: String = "capture_date",
                  digestCol: String = "digest",
                  mime: Column = lit("text/html"),
                  status: Column = lit(200L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(fileCol).orderBy(ordCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPos = records
      .withColumn("rec_length", length(col(recordCol)).cast(LongType))
      .withColumn("offset",
        coalesce(sum(col("rec_length")).over(w), lit(0L)))
    withPos
      .withColumn("urlkey", UrlOps.surtKey(col(uriCol)))
      .withColumn("cdxj_ts",
        substring(regexp_replace(col(dateCol), "[^0-9]", ""), 1, 14))
      .withColumn("cdxj", concat_ws(" ",
        col("urlkey"), col("cdxj_ts"),
        to_json(struct(
          col(uriCol).as("url"), col(digestCol).as("digest"),
          mime.as("mime"), status.cast(LongType).as("status"),
          col("offset"), col("rec_length").as("length"),
          concat(col(fileCol).cast("string"), lit(".warc"))
            .as("filename")))))
  }

  /** Parse CDXJ lines ([[cdxjRecords]]' output format) back to typed
    * columns — the consumer direction: `urlkey`, `cdxj_ts`, and the
    * JSON block's `url/digest/mime/status/offset/rec_length/filename`.
    * A malformed line yields NULL fields (from_json's rule), never a
    * dead stage. Narrow map — no shuffle.
    */
  def parseCdxj(lines: DataFrame, lineCol: String): DataFrame = {
    val schema = "url STRING, digest STRING, mime STRING, " +
      "status BIGINT, offset BIGINT, length BIGINT, filename STRING"
    lines
      .withColumn("urlkey",
        nullif(regexp_extract(col(lineCol), "^(\\S+) ", 1), lit("")))
      .withColumn("cdxj_ts",
        nullif(regexp_extract(col(lineCol), "^\\S+ (\\S+) ", 1), lit("")))
      .withColumn("__m", from_json(
        regexp_extract(col(lineCol), "^\\S+ \\S+ (.*)$", 1),
        org.apache.spark.sql.types.StructType.fromDDL(schema)))
      .withColumn("url", col("__m.url"))
      .withColumn("digest", col("__m.digest"))
      .withColumn("mime", col("__m.mime"))
      .withColumn("status", col("__m.status"))
      .withColumn("offset", col("__m.offset"))
      .withColumn("rec_length", col("__m.length"))
      .withColumn("filename", col("__m.filename"))
      .drop("__m")
  }

  /** Resolve `revisit` records to the capture they duplicate — WARC
    * 1.1 §6.7.2: a crawler that re-fetches a URL and finds the payload
    * unchanged (or finds the SAME payload at a different URL) writes a
    * body-less revisit record carrying the payload's digest instead of
    * re-storing the content. Resolution is by CONTENT identity (the
    * digest), not by trusting `WARC-Refers-To-Target-URI` — the header
    * rides through as `refers_to` for auditing, but a revisit whose
    * digest matches a different capture resolves to that capture.
    *
    * Input: [[parseRecords]] rows. Output: one row per digest-carrying
    * revisit — `(target_uri, warc_date, payload_digest, refers_to,
    * original_uri, original_date)`, where the original is the EARLIEST
    * `response` sharing the digest (ties on date break by URI — both
    * deterministic); a revisit whose digest matches no stored response
    * keeps NULL originals (a dangling revisit is a store-consistency
    * finding, not a dropped row).
    *
    * Scale shape: one digest-keyed top-1 window over the responses
    * (WindowGroupLimit — no full sort materializes; a viral payload's
    * digest group is exactly the duplication the op exists to expose)
    * + one digest equi-join. No other shuffle.
    */
  def resolveRevisits(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val originals = records
      .filter(col("warc_type") === "response" &&
        col("payload_digest").isNotNull)
      .withColumn("__rk", row_number().over(
        Window.partitionBy("payload_digest")
          .orderBy("warc_date", "target_uri")))
      .filter(col("__rk") === 1)
      .select(col("payload_digest"),
        col("target_uri").as("original_uri"),
        col("warc_date").as("original_date"))
    records
      .filter(col("warc_type") === "revisit" &&
        col("payload_digest").isNotNull)
      .select("target_uri", "warc_date", "payload_digest", "refers_to")
      .join(originals, Seq("payload_digest"), "left")
  }
}
