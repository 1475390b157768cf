package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** URL canonicalization and registered-domain extraction: the URL-level
  * stage of web-corpus curation (RefinedWeb's first filter tier — Penedo
  * et al. 2023 §3.1 runs URL dedup + domain filters BEFORE fetching text;
  * CCNet and C4 both key dedup and provenance on normalized URLs).
  *
  * No reference analog (engine capability, like the rest of the
  * first-mile tier).
  *
  * Everything is column-expression composition (regexp_extract /
  * higher-order `filter` / array_sort — zero UDFs), so canonicalization
  * is a narrow map that fuses into the scan; the dedup consumers
  * downstream shuffle once on the canonical string.
  *
  * Canonical form (each rule deliberate and documented — this is the
  * curation tier, not a browser's URL parser):
  *
  *  - scheme and host lowercase; userinfo (`user@`) dropped;
  *  - host: trailing dot dropped, then a leading `www.` label dropped;
  *  - default ports dropped (`:80` for http, `:443` for https); other
  *    ports kept;
  *  - path: duplicate slashes collapsed, trailing slash dropped (so `/`
  *    alone canonicalizes to the empty path);
  *  - query: parameters split on `&`; empties and tracking parameters
  *    dropped (names starting `utm_`, plus the [[UrlOps.TrackingParams]]
  *    exact set — case-sensitive, as the trackers themselves are);
  *    survivors sorted bytewise and rejoined (parameter ORDER never
  *    distinguishes two URLs);
  *  - fragment dropped.
  *
  * Non-absolute input (no `scheme://`) canonicalizes to NULL — a crawl
  * frontier only ever holds absolute URLs, and NULL lets callers filter
  * malformed rows explicitly instead of receiving a half-normalized
  * string. Percent-encoding is preserved as-is (decoding would need the
  * full RFC 3986 reserved-set rules to stay injective).
  */
object UrlOps {

  /** Exact-name tracking parameters dropped by [[canonicalizeUrl]] (the
    * `utm_` prefix family is dropped by prefix, separately). ONE list:
    * the kernel expression owns it; this alias serves the DuckDB
    * mirror interpolation and the column reference form.
    */
  val TrackingParams: Seq[String] =
    graft.functions.CanonicalizeUrl.TrackingParams.toSeq

  /** Multi-label public suffixes recognized by [[registeredDomain]] — a
    * built-in subset of the Mozilla Public Suffix List's most common
    * ccTLD second-level registries (the full PSL is data, refreshed from
    * publicsuffix.org in a deployment; the algorithm is what's under
    * test — longest-known-suffix + 1 label).
    */
  val MultiLabelSuffixes: Seq[String] =
    graft.functions.RegisteredDomainOf.MultiLabelSuffixes.toSeq

  private def nonEmpty(c: Column): Column = nullif(c, lit(""))

  /** The scheme of an absolute URL (lowercased), NULL when the input has
    * no `scheme://`.
    */
  def scheme(url: Column): Column =
    lower(nonEmpty(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)))

  /** The canonical host: authority minus userinfo and port, lowercased,
    * trailing dot then leading `www.` dropped. NULL for non-absolute
    * input.
    */
  def host(url: Column): Column = {
    val authority =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val afterUser = regexp_extract(authority, "([^@]*)$", 1)
    val bare = regexp_extract(afterUser, "^([^:]*)", 1)
    nonEmpty(regexp_replace(regexp_replace(lower(bare), "\\.$", ""),
      "^www\\.", ""))
  }

  /** eTLD+1 under a multi-label suffix set (default: the built-in
    * subset): the last two labels, or the last three when the last two
    * are a known multi-label public suffix. A host with no dot
    * (localhost, an intranet name) is its own registered domain. NULL
    * input → NULL.
    */
  def registeredDomain(hostCol: Column,
                       suffixes: Seq[String] = MultiLabelSuffixes): Column = {
    val last2 = regexp_extract(hostCol, "([^.]+\\.[^.]+)$", 1)
    val last3 = regexp_extract(hostCol, "([^.]+\\.[^.]+\\.[^.]+)$", 1)
    when(hostCol.isNull, lit(null))
      .when(last2 === "", hostCol)
      .when(array_contains(lit(suffixes.toArray), last2) &&
        last3 =!= "", last3)
      .otherwise(last2)
  }

  /** eTLD+1 straight from a URL — the fused
    * `registeredDomain(host(url))` composition as ONE kernel expression
    * ([[graft.functions.RegisteredDomainOf]]; the [[canonicalizeUrl]]
    * plan-size rationale). Use this form in query plans; the column
    * composition remains the reference, equivalence-specced.
    */
  def domainOf(url: Column): Column =
    Bridge.column(graft.functions.RegisteredDomainOf(Bridge.expression(url)))

  /** [[domainOf]] under a LOADED multi-label suffix set — how a
    * deployment ships the real ~9k-rule Public Suffix List without a
    * source change (pair with [[loadPsl]]).
    */
  def domainOf(url: Column, suffixes: Seq[String]): Column =
    Bridge.column(graft.functions.RegisteredDomainOf(
      Bridge.expression(url), suffixes))

  /** Load a Public Suffix List file (publicsuffix.org format) into the
    * suffix set [[domainOf]]/[[registeredDomain]] consult: `//`
    * comments and blank lines dropped, entries lowercased and
    * whitespace-trimmed, and only MULTI-label rules kept (single-label
    * TLDs are the algorithm's implicit default — last2 already wins).
    * Wildcard (`*.`) and exception (`!`) rules are a documented
    * unsupported subset of the rule grammar and are SKIPPED (the
    * longest-known-suffix+1 frame cannot express them; ~98% of the
    * real list is plain rules). Driver-side read — the loaded set is
    * plan state (the codebook class), shipped to executors with the
    * expression.
    */
  def loadPsl(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      .asScala.iterator
      .map(l => l.replaceFirst("//.*$", "").trim
        .toLowerCase(java.util.Locale.ROOT))
      .filter(l => l.nonEmpty && !l.startsWith("*") && !l.startsWith("!") &&
        l.contains('.'))
      .distinct.toSeq
  }

  /** Resolve a link reference against its page's ABSOLUTE base URL —
    * the RFC 3986 §5 merge at the fidelity a crawl frontier needs
    * (feed the result to [[canonicalizeUrl]]; dot-segment removal
    * beyond the canonicalizer's slash collapse is not performed):
    *
    *  - absolute reference (`scheme://...`) → itself;
    *  - protocol-relative (`//host/...`) → base scheme + `:` + ref;
    *  - root-relative (`/path`) → base origin (scheme://authority) +
    *    ref;
    *  - query-only (`?page=2` — the common pagination form) → base
    *    origin + the FULL base path + ref (RFC 3986 §5.3 keeps the
    *    whole base path for query-only references; r15 sent these
    *    through the relative-path arm, dropping the base's last
    *    segment — ADVICE r15);
    *  - fragment-only (`#...`) or empty → the base itself (fragments
    *    never reach the wire);
    *  - anything else (a relative path) → base origin + base path's
    *    directory + `/` + ref.
    *
    * NULL when the base is not absolute (a frontier resolves against
    * fetched pages, whose URLs are absolute by construction — NULL
    * keeps a malformed provenance row loud instead of emitting a
    * half-joined string).
    */
  def resolveUrl(base: Column, ref: Column): Column = {
    val sch = scheme(base)
    val origin =
      regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val basePath =
      regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    // directory of the base path: drop the last segment ("/a/b" -> "/a",
    // "/a/" -> "/a", "" -> "")
    val baseDir = regexp_replace(basePath, "/[^/]*$", "")
    when(sch.isNull, lit(null).cast("string"))
      .when(ref.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), ref)
      .when(ref.startsWith("//"), concat(sch, lit(":"), ref))
      .when(ref.startsWith("/"), concat(origin, ref))
      .when(ref.startsWith("?"), concat(origin, basePath, ref))
      .when(ref === "" || ref.startsWith("#"), base)
      .otherwise(concat(origin, baseDir, lit("/"),
        regexp_replace(ref, "#.*$", "")))
  }

  /** The base URL a page's references ACTUALLY resolve against: the
    * `<base href>` value ([[HtmlOps.baseHref]]) resolved against the
    * page URL when present (the href itself may be absolute,
    * root-relative, or path-relative — HTML5 §4.2.3 resolves it
    * against the document's own URL), the page URL otherwise.
    */
  def effectiveBase(pageUrl: Column, baseHref: Column): Column =
    when(baseHref.isNull, pageUrl)
      .otherwise(resolveUrl(pageUrl, baseHref))

  /** Full canonicalization per the object contract. NULL for
    * non-absolute input.
    *
    * Implemented as ONE native Catalyst expression
    * ([[graft.functions.CanonicalizeUrl]]): the column-composition
    * form below references its input ~15 times, so composing it over
    * a non-trivial tree (resolveUrl) or letting predicate pushdown
    * substitute it into a filter MULTIPLIES the whole subtree — the
    * x137 plan reached a 3,244-regexp-node Filter over the exploded
    * link stream. The kernel is one node: composition and pushdown
    * copy one static call. [[canonicalizeUrlColumns]] keeps the
    * reference semantics; UrlOpsSpec pins bit-equivalence.
    */
  def canonicalizeUrl(url: Column): Column =
    Bridge.column(graft.functions.CanonicalizeUrl(Bridge.expression(url)))

  /** SURT urlkey (Sort-friendly URI Reordering Transform — the key
    * column of CDX(J) web-archive indexes; r20, VERDICT r19 #5): the
    * [[canonicalizeUrl]] canonical form with the host's labels
    * REVERSED and comma-joined, `)` closing the authority, then the
    * lowercased path?query — `https://www.Example.com/A/b?q=1` →
    * `com,example)/a/b?q=1`. Reversal makes one host's (and one
    * domain's) captures lexicographically contiguous, which is the
    * whole point of the key: a sorted CDX file is range-scannable by
    * site. A canonical root URL has an empty path → `)/` (the pywb
    * convention). Non-default ports keep `:port` on the last label.
    * NULL for non-absolute input. Fidelity bound (documented): the
    * scheme is dropped (http/https captures of one page share a key —
    * the standard id-style urlkey), and the `www.`-strip comes from
    * [[host]]'s canonical form.
    */
  def surtKey(url: Column): Column = {
    val canon = canonicalizeUrl(url)
    val h = host(canon)
    val port = nonEmpty(regexp_extract(canon,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]*:([0-9]+)", 1))
    val tail = lower(regexp_extract(canon,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1))
    when(h.isNull, lit(null))
      .otherwise(concat(
        array_join(reverse(split(h, "\\.")), ","),
        when(port.isNotNull, concat(lit(":"), port)).otherwise(lit("")),
        lit(")"),
        when(tail === "", lit("/")).otherwise(tail)))
  }

  /** The canonicalization REFERENCE as column composition — the
    * documentation of record for the rule set, and the equivalence
    * oracle for the kernel ([[canonicalizeUrl]]). Not used in query
    * plans (see the kernel's scaladoc for why).
    */
  private[graft] def canonicalizeUrlColumns(url: Column): Column = {
    val sch = scheme(url)
    val h = host(url)
    val authority =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val port = nonEmpty(
      regexp_extract(regexp_extract(authority, "([^@]*)$", 1),
        ":([0-9]+)$", 1))
    val keepPort = port.isNotNull &&
      !((sch === "http" && port === "80") ||
        (sch === "https" && port === "443"))
    val portPart = when(keepPort, concat(lit(":"), port)).otherwise(lit(""))
    val rawPath =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = regexp_replace(regexp_replace(rawPath, "/{2,}", "/"),
      "/$", "")
    val rawQuery = regexp_extract(url, "^[^#]*?\\?([^#]*)", 1)
    val kept = filter(split(rawQuery, "&"), p =>
      p =!= "" && !p.rlike("^utm_") &&
        !regexp_extract(p, "^([^=]*)", 1)
          .isin(TrackingParams.map(x => x: Any): _*))
    val query = array_join(array_sort(kept), "&")
    val queryPart =
      when(query =!= "", concat(lit("?"), query)).otherwise(lit(""))
    when(sch.isNull || h.isNull, lit(null))
      .otherwise(concat(sch, lit("://"), h, portPart, path, queryPart))
  }
}
