package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Decode a LATIN1-VIEW body (char i = byte i — the [[Latin1View]]
  * convention) with an arbitrary `java.nio.charset` charset, named per
  * row — the kernel that closes the legacy multi-byte charset gap
  * (shift_jis, euc-jp, gbk/gb18030, big5, euc-kr: several percent of
  * the real Japanese/Chinese/Korean web still self-declares these, and
  * routing them to NULL DROPS the page before the C4 tier; VERDICT r17
  * #1). Spark's built-in `decode` stops at the latin1/UTF-8/UTF-16
  * families, so this extends the repo's never-throw Catalyst-kernel
  * convention (the [[GunzipToString]] contract class) over the full
  * JDK charset registry.
  *
  * Label semantics: the charset name is lowercased/trimmed, then
  * resolved through the WHATWG Encoding Standard's label table where
  * the WHATWG decoder is a SUPERSET of the same-named JDK charset —
  * the web rule, not the IANA rule: pages labeled `shift_jis` use the
  * windows-31j extensions (NEC/IBM rows), `gb2312` means GBK, `big5`
  * includes the HKSCS plane, `euc-kr` means the UHC/windows-949
  * superset. A strict JDK `Shift_JIS`/`EUC-KR` decode would REPORT on
  * exactly the extension bytes real pages carry and drop them — the
  * WHATWG mapping is what browsers (and Common Crawl's own charset
  * detection) actually decode with. Unmapped labels fall through to
  * `Charset.forName` (koi8-r, windows-1251, iso-8859-2, tis-620, …
  * decode for free).
  *
  * Never-throw contract (the 100 TB rule — corruption is a filterable
  * NULL row, never a dead stage):
  *
  *  - a view char above 0xFF (not a byte view) → NULL;
  *  - an unknown/unsupported/illegal charset name → NULL (the honest
  *    routing miss, auditable by grouping on the charset column);
  *  - malformed or unmappable byte sequences → NULL (strict REPORT
  *    decode — a page whose bytes contradict its declared charset is
  *    mislabeled, and mojibake poisoning the corpus is worse than the
  *    row's absence; the lenient-U+FFFD arm for utf-8 stays in
  *    [[graft.ops.HttpOps.decodeBody]], where WHATWG mandates it).
  *
  * No cross-engine oracle is possible (DuckDB cannot decode these
  * either) — the declared x33 spec-gate class: correctness rides on
  * real byte goldens per charset in the spec tier.
  */
case class DecodeCharset(left: Expression, right: Expression)
    extends BinaryKernel {
  override protected def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override protected def nullOnBadInput: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "decode_charset"

  override protected def nullSafeEval(view: Any, name: Any): Any =
    DecodeCharset.compute(view.asInstanceOf[UTF8String],
      name.asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecodeCharset =
    copy(left = newLeft, right = newRight)
}

object DecodeCharset {
  /** WHATWG Encoding Standard labels whose web decoder is the named
    * JDK SUPERSET charset, not the strict IANA one (see the expression
    * scaladoc). Keys are lowercase; lookup misses fall through to
    * `Charset.forName` on the raw label.
    */
  private[functions] val WhatwgLabels: Map[String, String] = Map(
    // Shift_JIS labels → windows-31j (MS932: NEC/IBM extension rows)
    "shift_jis" -> "windows-31j", "shift-jis" -> "windows-31j",
    "sjis" -> "windows-31j", "x-sjis" -> "windows-31j",
    "ms_kanji" -> "windows-31j", "csshiftjis" -> "windows-31j",
    "windows-31j" -> "windows-31j", "ms932" -> "windows-31j",
    // EUC-JP labels (JDK EUC-JP matches the WHATWG table)
    "euc-jp" -> "EUC-JP", "x-euc-jp" -> "EUC-JP",
    "cseucpkdfmtjapanese" -> "EUC-JP",
    // gb2312-family labels → GBK (WHATWG folds the whole family)
    "gbk" -> "GBK", "gb2312" -> "GBK", "gb_2312" -> "GBK",
    "gb_2312-80" -> "GBK", "csgb2312" -> "GBK", "x-gbk" -> "GBK",
    "chinese" -> "GBK", "csiso58gb231280" -> "GBK", "iso-ir-58" -> "GBK",
    "gb18030" -> "GB18030",
    // big5 labels → Big5-HKSCS (WHATWG big5 includes the HKSCS plane)
    "big5" -> "Big5-HKSCS", "big5-hkscs" -> "Big5-HKSCS",
    "cn-big5" -> "Big5-HKSCS", "csbig5" -> "Big5-HKSCS",
    "x-x-big5" -> "Big5-HKSCS",
    // EUC-KR labels → windows-949 (UHC: the WHATWG euc-kr decoder)
    "euc-kr" -> "x-windows-949", "cseuckr" -> "x-windows-949",
    "korean" -> "x-windows-949", "ks_c_5601-1987" -> "x-windows-949",
    "ks_c_5601-1989" -> "x-windows-949", "ksc_5601" -> "x-windows-949",
    "ksc5601" -> "x-windows-949", "iso-ir-149" -> "x-windows-949",
    "csksc56011987" -> "x-windows-949", "windows-949" -> "x-windows-949")

  // Charset instances are immutable and thread-safe (decoders are not —
  // one newDecoder per eval); memoize the label resolution so the hot
  // path is one ConcurrentHashMap read. `None` memoizes a bad label.
  // BOUNDED (r19): labels come from untrusted page headers/meta, and a
  // corpus can carry unbounded distinct garbage labels — past the cap
  // new labels resolve uncached (the JVM's own Charset lookup cache
  // still serves the supported ones) instead of growing executor
  // memory for the JVM's lifetime. The cap is far above the ~40 labels
  // a real crawl actually declares, so the hot path never degrades.
  private val MaxCacheEntries = 4096
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[
      String, Option[java.nio.charset.Charset]]()

  private def resolve(label: String): Option[java.nio.charset.Charset] = {
    val name = WhatwgLabels.getOrElse(label, label)
    try {
      if (java.nio.charset.Charset.isSupported(name))
        Some(java.nio.charset.Charset.forName(name))
      else None
    } catch {
      // illegal charset NAME (forName throws on e.g. spaces) — the
      // never-throw contract turns it into the NULL routing miss
      case _: IllegalArgumentException => None
    }
  }

  private def charsetFor(label: String): java.nio.charset.Charset = {
    val hit = cache.get(label)
    if (hit != null) return hit.orNull
    val resolved = resolve(label)
    // RESOLVED labels always cache (r20, ADVICE r19): their key space
    // is the JDK registry's finite alias set (+ the WHATWG table), so
    // they cannot grow unboundedly — and a garbage flood that fills
    // the cap must not leave every legitimate NEW label paying the
    // throw-and-catch Charset lookup per row for the JVM's lifetime.
    // Only UNRESOLVABLE labels (unbounded untrusted garbage — the
    // class the cap exists for) count against the cap. size() is
    // approximate under concurrency — acceptable (overshoot is
    // bounded by the thread count, not the corpus).
    if (resolved.isDefined || cache.size < MaxCacheEntries)
      cache.putIfAbsent(label, resolved)
    resolved.orNull
  }

  def compute(view: UTF8String, charset: UTF8String): UTF8String = {
    val raw = Latin1View.toBytes(view.toString)
    if (raw == null) return null
    val cs = charsetFor(
      charset.toString.trim.toLowerCase(java.util.Locale.ROOT))
    if (cs == null) return null
    try {
      val dec = cs.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      UTF8String.fromString(
        dec.decode(java.nio.ByteBuffer.wrap(raw)).toString)
    } catch {
      case _: java.nio.charset.CharacterCodingException => null
    }
  }
}
