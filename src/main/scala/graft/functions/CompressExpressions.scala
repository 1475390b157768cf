package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The contract every kernel of this package shares, written once for
  * both arities ([[UnaryKernel]], [[BinaryKernel]]):
  *
  *  - one algorithm: the companion's static `compute`, which both
  *    `nullSafeEval` and the generated code call — no hand-written Java
  *    copy of the algorithm exists to drift from it;
  *  - type check: each child is its `inputTypes` entry (nested
  *    nullability ignored) or `NullType` — a literal NULL argument is a
  *    null row (the standard Spark convention); any other type fails at
  *    analysis, naming the function, instead of passing and dying
  *    mid-job in an anonymous ClassCastException after the Janino
  *    fallback;
  *  - codegen: ONE `nullSafeCodeGen` call to `compute` (by default
  *    reached through the case class's static forwarder), so the stage
  *    stays inside whole-stage codegen;
  *  - `nullOnBadInput`: compute() returns null on malformed input (the
  *    100 TB rule — corruption surfaces as a filterable NULL row, never a
  *    dead stage), so the result is nullable and codegen re-checks the
  *    returned value;
  *  - a `NullType` child's generated value is Object-typed, which Janino
  *    rejects where compute() expects its input type — the result is a
  *    constant null.
  */
private[functions] trait Kernel extends Expression {
  protected def inputTypes: Seq[DataType]
  protected def nullOnBadInput: Boolean = false

  /** The arity's `nullSafeCodeGen` over the compute call; `assign` turns
    * the call's Java source into the statements that set `ev`.
    */
  protected def computeCode(ctx: CodegenContext, ev: ExprCode,
                            assign: String => String): ExprCode

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    if (got.zip(inputTypes).forall { case (t, want) =>
          t == NullType || DataTypeUtils.equalsIgnoreNullability(t, want) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${typeList(inputTypes)}, got ${typeList(got)}")
  }

  private def typeList(ts: Seq[DataType]): String = ts match {
    case Seq(t) => t.simpleString
    case _      => ts.map(_.simpleString).mkString("(", ", ", ")")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (children.exists(_.dataType == NullType))
      ev.copy(code = code"""
        |boolean ${ev.isNull} = true;
        |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        """.stripMargin)
    else computeCode(ctx, ev, call =>
      if (nullOnBadInput) s"""
        |${ev.value} = $call;
        |${ev.isNull} = (${ev.value} == null);
        """.stripMargin
      else s"${ev.value} = $call;")
}

/** [[Kernel]] over one child of type `inputType`. */
private[functions] trait UnaryKernel extends UnaryExpression with Kernel {
  protected def inputType: DataType
  override protected def inputTypes: Seq[DataType] = Seq(inputType)
  override def nullable: Boolean = nullOnBadInput || child.nullable

  /** Java source of the static compute call on the child's value; runs
    * once, before the child's code is generated, so a reference object
    * it registers on `ctx` keeps its slot.
    */
  protected def computeCall(ctx: CodegenContext): String => String =
    c => s"${getClass.getName}.compute($c)"

  override protected def computeCode(ctx: CodegenContext, ev: ExprCode,
                                     assign: String => String): ExprCode = {
    val call = computeCall(ctx)
    nullSafeCodeGen(ctx, ev, c => assign(call(c)))
  }
}

/** [[Kernel]] over two children; `computeCall` as in [[UnaryKernel]]. */
private[functions] trait BinaryKernel extends BinaryExpression with Kernel {
  override def nullable: Boolean = nullOnBadInput || left.nullable || right.nullable

  protected def computeCall(ctx: CodegenContext): (String, String) => String =
    (l, r) => s"${getClass.getName}.compute($l, $r)"

  override protected def computeCode(ctx: CodegenContext, ev: ExprCode,
                                     assign: String => String): ExprCode = {
    val call = computeCall(ctx)
    nullSafeCodeGen(ctx, ev, (l, r) => assign(call(l, r)))
  }
}

/** The LATIN1-VIEW byte⇄string conversions every compression kernel in
  * this file shares (the x147 convention, made kernel-level in r17 —
  * ADVICE r16): a string carrying raw bytes holds each byte as the
  * char with the same codepoint (0x00–0xFF), so char offsets ARE byte
  * offsets and every downstream `length`/`substr`/delimiter regex in
  * [[graft.ops.WarcOps]]/[[graft.ops.HttpOps]] operates on exact byte
  * positions while staying in string expressions. A char above 0xFF is
  * not a byte view — encoders return NULL for it (loud, filterable)
  * rather than silently substituting '?' the way
  * `String.getBytes(ISO_8859_1)` would.
  */
private[graft] object Latin1View {
  /** bytes → view string (1:1, total). */
  def toView(bytes: Array[Byte], off: Int, len: Int): String = {
    val cs = new Array[Char](len)
    var i = 0
    while (i < len) { cs(i) = (bytes(off + i) & 0xFF).toChar; i += 1 }
    new String(cs)
  }
  def toView(bytes: Array[Byte]): String = toView(bytes, 0, bytes.length)

  /** view string → bytes; null when a char is outside the byte range
    * (the input was never a byte view).
    */
  def toBytes(view: String): Array[Byte] = {
    val out = new Array[Byte](view.length)
    var i = 0
    while (i < view.length) {
      val c = view.charAt(i)
      if (c > 0xFF) return null
      out(i) = c.toByte
      i += 1
    }
    out
  }
}

/** DEFLATE-compressed byte length of a string — the kernel behind the
  * compression-ratio quality signal (Gopher §A.1.1 uses exactly this:
  * highly compressible text is boilerplate/repetition, incompressible text
  * is noise). One Deflater per eval, fixed level for reproducibility
  * within a JVM; zlib output can differ across zlib builds, so this signal
  * is spec-gated (no cross-engine oracle) by design.
  */
case class DeflateLen(child: Expression) extends UnaryKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "deflate_len"
  override protected def inputType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    DeflateLen.compute(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}

/** gzip-compress a LATIN1-VIEW string's bytes into one gzip member —
  * the producer side of the `.warc.gz` tier (fixtures, tests, and
  * sinks that ship gzip members). The input is read as a byte view
  * (char i = byte i — the [[Latin1View]] convention, so the member is
  * the exact bytes the view carries); a char above 0xFF is not a byte
  * view and yields NULL (r17 — r16 encoded UTF-8 bytes, which broke
  * view⇄byte identity for non-ASCII content, ADVICE r16). Pure JDK
  * (`GZIPOutputStream` — NOT jar-gated like Delta/Iceberg);
  * deterministic within a JDK (MTIME=0, fixed flags); every consumer
  * round-trips through [[GunzipToString]] rather than comparing raw
  * members across JVMs.
  */
case class GzipBytes(child: Expression) extends UnaryKernel {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gzip_bytes"
  override protected def inputType: DataType = StringType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    GzipBytes.compute(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): GzipBytes =
    copy(child = newChild)
}

object GzipBytes {
  def compute(s: UTF8String): Array[Byte] = {
    val raw = Latin1View.toBytes(s.toString)
    if (raw == null) return null
    val bos = new java.io.ByteArrayOutputStream(256)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw)
    gz.close()
    bos.toByteArray
  }
}

/** zlib-compress a LATIN1-VIEW string's bytes (RFC 1950 — the HTTP
  * `deflate` content coding) — the producer side of the x150
  * Content-Encoding tier, [[GzipBytes]]'s sibling. Same view contract:
  * a char above 0xFF → NULL. Fixed BEST_COMPRESSION level for
  * within-JDK determinism; consumers round-trip through
  * [[InflateToString]].
  */
case class DeflateBytes(child: Expression) extends UnaryKernel {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "deflate_bytes"
  override protected def inputType: DataType = StringType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    DeflateBytes.compute(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): DeflateBytes =
    copy(child = newChild)
}

object DeflateBytes {
  def compute(s: UTF8String): Array[Byte] = {
    val raw = Latin1View.toBytes(s.toString)
    if (raw == null) return null
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.BEST_COMPRESSION)
    try {
      d.setInput(raw)
      d.finish()
      val bos = new java.io.ByteArrayOutputStream(
        math.max(64, raw.length / 2))
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val n = d.deflate(buf)
        bos.write(buf, 0, n)
      }
      bos.toByteArray
    } finally d.end()
  }
}

/** Decompress a gzip STREAM — including the concatenated-member form a
  * real `.warc.gz` ships (one gzip member per WARC record; the JDK's
  * `GZIPInputStream` reads successive members transparently) — to its
  * LATIN1-VIEW string: each decompressed byte becomes the char with
  * the same codepoint, so the result obeys the byte-faithful
  * convention every WARC/HTTP consumer assumes — `length` equals byte
  * count, `Content-Length` slices are exact, and a UTF-8 body recovers
  * through [[graft.ops.HttpOps.decodeBody]] (r17 — r16 reinterpreted
  * the raw bytes as UTF-8, which broke all three for non-ASCII
  * content; ADVICE r16).
  *
  * Malformed input decodes to NULL rather than failing the job: at
  * 100 TB a corrupt member must surface as a filterable NULL row (the
  * WarcOps `length_ok` self-diagnosis class), not kill the stage. The
  * same contract bounds MEMORY: output beyond
  * [[GunzipToString.MaxDecompressedBytes]] (256 MiB — far above any
  * sane single WARC record or HTTP body, far below the 2 GiB JVM
  * array limit a multi-GB decompression would hit as an uncatchable
  * OutOfMemoryError) returns NULL instead of letting allocation kill
  * the executor (ADVICE r16). Whole ~1 GB `.warc.gz` SEGMENTS (3–5 GB
  * decompressed) do not fit one cell by design — ingest them with
  * [[graft.ops.WarcOps.readWarcGzRecords]], which streams the
  * decompression and emits per-record rows.
  */
case class GunzipToString(child: Expression) extends UnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "gunzip_to_string"
  override protected def inputType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    GunzipToString.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): GunzipToString =
    copy(child = newChild)
}

object GunzipToString {
  /** Decompressed-size cap per cell; past it the cell is NULL (see the
    * expression scaladoc). Shared with [[InflateToString]].
    */
  val MaxDecompressedBytes: Int = 256 << 20

  private def drain(in: java.io.InputStream): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(8192)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      bos.write(buf, 0, n)
      if (bos.size() > MaxDecompressedBytes) return null
      n = in.read(buf)
    }
    bos.toByteArray
  }

  /** The decompress core of every `*_to_string` kernel: opens the
    * stream, drains it under [[MaxDecompressedBytes]] and closes it on
    * EVERY path (a throwing read must not leave an inflater's native
    * memory to the GC). NULL past the cap or when opening, reading or
    * closing throws an IOException — or, for the native-backed codecs
    * (`unchecked`), any RuntimeException.
    */
  private[functions] def decompressed(open: => java.io.InputStream,
                                      unchecked: Boolean): Array[Byte] =
    try {
      val in = open
      try drain(in) finally in.close()
    } catch {
      case _: java.io.IOException => null
      case _: RuntimeException if unchecked => null
    }

  /** The latin1-view string of decompressed bytes; NULL stays NULL. */
  private[functions] def view(out: Array[Byte]): UTF8String =
    if (out == null) null
    else UTF8String.fromString(Latin1View.toView(out))

  def compute(bytes: Array[Byte]): UTF8String =
    view(decompressed(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes)), unchecked = false))
}

/** Decompress a DEFLATE body (the HTTP `deflate` content coding) to
  * its latin1-view string — [[GunzipToString]]'s sibling for the x150
  * Content-Encoding tier. RFC 9110 §8.4.1.2 defines `deflate` as the
  * zlib format (RFC 1950); a well-documented class of real servers
  * ships RAW deflate streams (RFC 1951, no zlib wrapper) under the
  * same token, so a failed zlib parse retries nowrap before giving up
  * — both arms deterministic, NULL only when neither format parses.
  * Same never-throw + [[GunzipToString.MaxDecompressedBytes]] cap
  * contract ([[GunzipToString.decompressed]]).
  */
case class InflateToString(child: Expression) extends UnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "inflate_to_string"
  override protected def inputType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    InflateToString.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): InflateToString =
    copy(child = newChild)
}

object InflateToString {
  /** zlib inflate of `bytes[off, off+len)` with the raw-deflate retry
    * under the shared size cap — NULL when neither format parses (an
    * empty slice is not a valid stream in either). Also the stream
    * decoder of [[PdfToText]].
    */
  private[functions] def inflate(bytes: Array[Byte], off: Int,
                                 len: Int): Array[Byte] = {
    // an InflaterInputStream given its own Inflater does not end it on
    // close(); this one does, so the native stream is freed on every path
    def arm(nowrap: Boolean): Array[Byte] =
      GunzipToString.decompressed(new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(bytes, off, len),
          new java.util.zip.Inflater(nowrap)) {
        override def close(): Unit = try super.close() finally inf.end()
      }, unchecked = false)
    if (len <= 0) return null
    val zlib = arm(nowrap = false)
    if (zlib != null) zlib else arm(nowrap = true)
  }

  def compute(bytes: Array[Byte]): UTF8String =
    GunzipToString.view(inflate(bytes, 0, bytes.length))
}

object DeflateLen {
  // one native zlib stream per executor THREAD, reset between rows —
  // allocating and end()ing a Deflater per row put a native malloc/free
  // pair on the per-document hot path. Determinism is unaffected: output
  // depends on the fixed level, not the instance. Daemon threads drop the
  // native handle with the JVM; Deflater also frees it on finalization.
  private val local = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
  }

  def compute(s: UTF8String): Long = {
    val in = s.getBytes
    val d = local.get()
    d.reset()
    d.setInput(in)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

/** Decompress a ZSTD body (the HTTP `zstd` content coding, RFC 8878)
  * to its latin1-view string — JAR-GATED (the W3/W4 discipline,
  * VERDICT r17 #7): the kernel probes the classpath for zstd-jni
  * (`com.github.luben.zstd.ZstdInputStream` — Spark ships it for its
  * own shuffle/parquet compression, so on any real Spark cluster the
  * probe succeeds) and decodes for real when present; without the jar
  * every cell is NULL — the same auditable routing miss the coding
  * produced before the gate existed, never a classpath crash. The
  * probe holds NO hard reference: the class loads only inside
  * [[ZstdToString.Impl]], which is touched only after `Class.forName`
  * succeeded. Same never-throw + [[GunzipToString.MaxDecompressedBytes]]
  * cap contract as the gzip/deflate kernels
  * ([[GunzipToString.decompressed]]).
  */
case class ZstdToString(child: Expression) extends UnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "zstd_to_string"
  override protected def inputType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ZstdToString.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): ZstdToString =
    copy(child = newChild)
}

object ZstdToString {
  /** true iff zstd-jni is on the classpath (cached once per JVM). */
  lazy val available: Boolean =
    try { Class.forName("com.github.luben.zstd.ZstdInputStream"); true }
    catch { case _: Throwable => false }

  // the ONLY code holding a hard reference to the zstd classes — never
  // touched when `available` is false, so a jar-less classpath never
  // links it
  private object Impl {
    def open(bytes: Array[Byte]): java.io.InputStream =
      new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(bytes))
  }

  def compute(bytes: Array[Byte]): UTF8String =
    if (!available || bytes.length == 0) null
    else GunzipToString.view(
      GunzipToString.decompressed(Impl.open(bytes), unchecked = true))
}

/** zstd-compress a LATIN1-VIEW string's bytes (RFC 8878) — the
  * producer side of the `zstd` content coding, [[GzipBytes]]'s
  * jar-gated sibling (fixtures and tests that ship zstd members).
  * Same view contract (a char above 0xFF → NULL); fixed level 3 for
  * within-JVM determinism — consumers round-trip through
  * [[ZstdToString]] rather than comparing raw frames across zstd
  * builds. NULL when zstd-jni is absent (the [[ZstdToString]] gate).
  */
case class ZstdBytes(child: Expression) extends UnaryKernel {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "zstd_bytes"
  override protected def inputType: DataType = StringType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ZstdBytes.compute(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): ZstdBytes =
    copy(child = newChild)
}

object ZstdBytes {
  private object Impl {
    def encode(raw: Array[Byte]): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(raw, 3)
  }

  def compute(s: UTF8String): Array[Byte] = {
    if (!ZstdToString.available) return null
    val raw = Latin1View.toBytes(s.toString)
    if (raw == null) return null
    // zstd-jni surfaces native failures as unchecked ZstdException —
    // the never-throw contract turns any of them into a NULL row
    try Impl.encode(raw)
    catch { case _: RuntimeException => null }
  }
}

/** Decompress a BROTLI body (the HTTP `br` content coding, RFC 7932)
  * to its latin1-view string — the [[ZstdToString]] sibling, gated on
  * commons-compress's brotli bridge AND the Google `org.brotli:dec`
  * jar it delegates to (`BrotliUtils.isBrotliCompressionAvailable` —
  * commons-compress itself rides the Spark classpath, the dec jar
  * usually does not, so in this sandbox the gate reports unavailable
  * and every cell is the auditable NULL; drop the one jar in and the
  * SAME code decodes for real). Never-throw + size-cap contract as
  * above.
  */
case class BrotliToString(child: Expression) extends UnaryKernel {
  override def dataType: DataType = StringType
  override def prettyName: String = "brotli_to_string"
  override protected def inputType: DataType = BinaryType
  override protected def nullOnBadInput: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    BrotliToString.compute(input.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): BrotliToString =
    copy(child = newChild)
}

object BrotliToString {
  /** true iff commons-compress AND the org.brotli dec jar are present
    * (cached once per JVM).
    */
  lazy val available: Boolean =
    try {
      Class.forName(
        "org.apache.commons.compress.compressors.brotli.BrotliUtils")
      Impl.probe()
    } catch { case _: Throwable => false }

  private object Impl {
    def probe(): Boolean =
      org.apache.commons.compress.compressors.brotli.BrotliUtils
        .isBrotliCompressionAvailable
    def open(bytes: Array[Byte]): java.io.InputStream =
      new org.apache.commons.compress.compressors.brotli
        .BrotliCompressorInputStream(
          new java.io.ByteArrayInputStream(bytes))
  }

  def compute(bytes: Array[Byte]): UTF8String =
    if (!available || bytes.length == 0) null
    else GunzipToString.view(
      GunzipToString.decompressed(Impl.open(bytes), unchecked = true))
}
