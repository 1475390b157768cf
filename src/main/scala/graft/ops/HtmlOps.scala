package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** HTML → training-text extraction: the FIRST-MILE stage a web-scale
  * corpus runs before any curation operator sees "clean text" — tag and
  * script/style/comment stripping, entity decoding, then C4's line-level
  * retention rules (Raffel et al. 2020, "Exploring the Limits of Transfer
  * Learning with a Unified Text-to-Text Transformer", §2.2).
  *
  * No reference analog (engine capability, like the rest of the curation
  * suite — the reference at /root/reference starts at decoded rows).
  *
  * Everything is column-expression composition (regexp_replace / replace /
  * split — all codegen'd; zero UDFs), so extraction rides whole-stage
  * codegen and scales as a narrow map over the corpus: no shuffle until
  * the optional cross-corpus line dedup, which shuffles (line_hash) — one
  * 8-byte key per KEPT line, not the raw HTML.
  *
  * Fidelity bounds (documented, deliberate — this is the C4 heuristic
  * tier, not a browser): attribute values containing a literal '>' break
  * the tag regex; CDATA is not special-cased; entity decoding covers the
  * [[graft.functions.DecodeHtmlEntities]] surface — the 6 core named
  * entities plus `&#NNN;`/`&#xHH;` numeric references over printable
  * ASCII and the common-punctuation set (leading-zero and uppercase-hex
  * forms stay literal; see the kernel's scaladoc). Each bound matches
  * what a regex-level extractor (the C4 paper's own tier) can see.
  */
object HtmlOps {

  /** Tags whose CLOSE (or self-close, for `<br>`) ends a text line —
    * the block-level subset an extractor maps to newlines (incl. table
    * cells, so adjacent cell text never concatenates into one word);
    * everything else strips to nothing (inline tags must not split
    * words). Close tags take only trailing whitespace (`\s*>`), and the
    * `<br>` arms require `/`, `>`, or whitespace right after the name —
    * RE2 (the oracle's engine) has no lookahead, and a bare `[^>]*`
    * suffix made `</progress>` match the `p` arm and `<brand>` match
    * `<br` (prefix-capture bugs, r15 review).
    */
  private val lineBreakTagRe =
    "(?i)</(?:p|div|li|h[1-6]|tr|td|th|table|ul|ol|blockquote|pre)\\s*>" +
      "|(?i)<br\\s*/?>|(?i)<br\\s[^>]*>"

  /** Raw HTML → plain text with line structure: script/style blocks and
    * comments removed WITH their content (a style sheet leaking `{...}`
    * into text would then trip C4's page-level brace rule on every page),
    * block-closing tags become newlines, remaining tags strip to nothing,
    * then entities decode in ONE pass (named + numeric references —
    * [[graft.functions.DecodeHtmlEntities]], which replaced the r15
    * 7-entity replace-chain). Pure column expression — no shuffle, no
    * UDF.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script[^>]*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style[^>]*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val broke = regexp_replace(noComment, lineBreakTagRe, "\n")
    val noTags = regexp_replace(broke, "<[^>]*>", "")
    Bridge.column(graft.functions.DecodeHtmlEntities(Bridge.expression(noTags)))
  }

  /** C4 §2.2 line retention over extracted HTML: per input doc, the
    * surviving (line_no, line) rows after
    *
    *  - whitespace normalization (collapse runs, trim);
    *  - the TERMINAL-PUNCTUATION rule (line must end in `.`, `!`, `?`
    *    or a closing double quote);
    *  - the MIN-WORDS rule (`minWords`, C4's 3);
    *  - the "javascript" rule (any line mentioning javascript is
    *    boilerplate "enable JS" chrome, case-insensitive);
    *  - optional cross-corpus LINE DEDUP (`dedupLines`): boilerplate
    *    lines repeated across pages (nav, footer, legal) keep only their
    *    first occurrence in (docId, line_no) order — C4 §2.2's dedup
    *    applied at line granularity. The dedup shuffles the kept lines
    *    once, partitioned BY THE LINE TEXT; at 100 TB the hot keys are
    *    exactly the boilerplate lines this exists to kill, and each
    *    bucket collapses to one survivor in the same window pass.
    *
    * line_no is the position in the EXTRACTED line list (post tag-strip,
    * pre filtering), so survivors keep a stable address into their page.
    */
  def c4KeptLines(docs: DataFrame, idCol: String, htmlCol: String,
                  minWords: Int = 3, dedupLines: Boolean = true): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    val lines = keptLineStage(docs, idCol, Nil, htmlCol, C4Terminals,
      lit(minWords))
    if (!dedupLines) lines
    else {
      val w = Window.partitionBy(col("line"))
        .orderBy(col(idCol).asc, col("line_no").asc)
      lines.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).drop("__rk")
    }
  }

  /** SHIPPED per-language C4 line-rule profile rows (r20, VERDICT r19
    * #4) — `(lang, term_chars, min_line_words, min_line_chars)`, the
    * [[c4KeptLinesByLang]] `profiles` schema, covering the scripts the
    * r19 router labels whose sentence punctuation the English defaults
    * silently eat:
    *
    *  - ja/zh — 。！？ terminals plus the CJK close quotes; space-free,
    *    so the word rule drops to 1 and a 3-char floor substitutes;
    *  - el — the Greek question mark IS the semicolon (U+037E, typed
    *    as ASCII `;` on real pages — both accepted) and the ano teleia
    *    `·` serves as the colon/semicolon terminal;
    *  - he — standard terminals plus the sof pasuq `׃`;
    *  - hi — the danda `।` and double danda `॥` end Devanagari
    *    sentences (ASCII `.` also circulates);
    *  - ar — the Arabic question mark `؟` and the Urdu-script full
    *    stop `۔` alongside the ASCII terminals.
    *
    * Space-delimited scripts keep C4's 3-word floor. Korean uses the
    * ASCII terminals (the English defaults are already correct); Thai
    * writes without sentence-final punctuation at all, so a terminal-
    * char rule is the wrong instrument there — a th row is deliberately
    * absent rather than wrong. ONE definition, interpolated verbatim
    * into the x177 oracle mirror.
    */
  val c4LineProfiles: Seq[(String, Seq[String], Long, Long)] = Seq(
    ("ja", Seq("。", "！", "？", "」", "."), 1L, 3L),
    ("zh", Seq("。", "！", "？", "”", "."), 1L, 3L),
    ("el", Seq(".", "!", ";", ";", "·", "\""), 3L, 1L),
    ("he", Seq(".", "!", "?", "\"", "׃"), 3L, 1L),
    ("hi", Seq("।", "॥", ".", "!", "?"), 3L, 1L),
    ("ar", Seq(".", "!", "؟", "۔", "\""), 3L, 1L))

  /** LANGUAGE-AWARE C4 line retention (the CCNet discipline, VERDICT
    * r17 #2): the [[c4KeptLines]] rules with the language-sensitive
    * parameters read from a per-language `profiles` table joined on the
    * page's `langCol` — C4's line rules are English-tuned (terminal
    * `.!?"`, ≥3 space-split words), and running them unparameterized
    * silently drops every space-free CJK page (a Japanese sentence
    * ends in `。` and space-splits to ONE "word") and most lines of
    * any language with different sentence punctuation.
    *
    * `profiles` columns (NULLable — missing values fall back to the C4
    * English defaults):
    *
    *  - `lang` — join key;
    *  - `term_chars` (array of single-char strings) — accepted LAST
    *    chars (default `. ! ? "`; a ja/zh profile adds `。 ！ ？ 」`);
    *  - `min_line_words` (default 3) — space-split word floor (a CJK
    *    profile sets 1: whitespace is the wrong unit);
    *  - `min_line_chars` (default 1) — character floor, the CJK
    *    substitute for the word rule.
    *
    * The "javascript" boilerplate rule stays global (the string is
    * language-independent chrome). A page whose language has no
    * profile row gets exactly [[c4KeptLines]]' English decisions: both
    * ops run the one [[keptLineStage]], whose English terminal set is
    * the no-profile default here.
    * No cross-page line dedup here — compose with [[c4KeptLines]]'
    * dedup window or [[domainCleanPages]] downstream if needed.
    *
    * Scale shape: `profiles` is language-count-sized → BROADCAST; the
    * explode and every rule stay narrow — one fused scan stage, the
    * [[keptLineStage]] shape (plan-gated in the query tier).
    *
    * Output: `(idCol, langCol, carry…, line_no, line)` survivors —
    * `carry` columns (a provenance key like the page's source format)
    * ride the narrow map, the [[keptLineStage]] convention, so a
    * caller never needs a corpus-sized re-join to recover them.
    */
  def c4KeptLinesByLang(docs: DataFrame, idCol: String, htmlCol: String,
                        profiles: DataFrame,
                        langCol: String = "lang",
                        carry: Seq[String] = Nil): DataFrame = {
    val pcols = Seq("term_chars", "min_line_words", "min_line_chars")
    keptLineStage(
        docs.join(TextOps.profileByLang(profiles, langCol, pcols),
          Seq(langCol), "left"),
        idCol, (langCol +: carry) ++ pcols.map(c => s"__p_$c"), htmlCol,
        coalesce(col("__p_term_chars"), C4Terminals),
        coalesce(col("__p_min_line_words"), lit(3L)),
        Some(coalesce(col("__p_min_line_chars"), lit(1L))))
      .select((Seq(idCol, langCol) ++ carry ++ Seq("line_no", "line"))
        .map(col): _*)
  }

  /** C4's English terminal set: a kept line's LAST character is one of
    * `. ! ? "`. A set test on the last character, not a `[.!?"]$`
    * regex: java.util.regex's `$` also matches before a final U+0085,
    * U+2028 or U+2029, which neither whitespace collapsing nor `trim`
    * removes.
    */
  private val C4Terminals: Column = array(Seq(".", "!", "?", "\"").map(lit): _*)

  /** The line stage of [[c4KeptLines]], [[c4KeptLinesByLang]] and
    * [[domainCleanPages]]: extract → split → normalize → the line rules,
    * with carried columns (a provenance key like the page's domain, or a
    * profile's values) riding along the narrow map. ONE definition of
    * the line rules: the last character is in `termChars`, at least
    * `minWords` space-split words, at least `minChars` characters when
    * given, and no "javascript" mention.
    */
  private def keptLineStage(docs: DataFrame, idCol: String,
                            carry: Seq[String], htmlCol: String,
                            termChars: Column, minWords: Column,
                            minChars: Option[Column] = None): DataFrame = {
    val keys = col(idCol) +: carry.map(col)
    val rules = array_contains(termChars, substring(col("line"), -1, 1)) &&
      size(split(col("line"), " ")) >= minWords
    docs
      .select(keys :+ posexplode(split(htmlToText(col(htmlCol)), "\n"))
        .as(Seq("line_no", "__raw")): _*)
      .select(keys ++ Seq(col("line_no").cast(LongType).as("line_no"),
        trim(regexp_replace(col("__raw"), "\\s+", " ")).as("line")): _*)
      .filter(minChars.fold(rules)(c => rules && length(col("line")) >= c) &&
        !lower(col("line")).contains("javascript"))
  }

  /** The shared page tier of [[c4Pages]] and [[domainCleanPages]]:
    * reassemble each page from its surviving lines (line order) and
    * apply the page rules — ≥ `minLines` lines, no curly brace, no
    * "lorem ipsum". ONE definition.
    */
  private def pageStage(lines: DataFrame, idCol: String,
                        minLines: Int): DataFrame = {
    require(minLines >= 1, s"minLines must be >= 1, got $minLines")
    lines
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        concat_ws("\n", array_sort(collect_list(
          struct(col("line_no"), col("line")))).getField("line")).as("text"))
      .filter(col("n_lines") >= minLines &&
        !col("text").contains("{") && !col("text").contains("}") &&
        !lower(col("text")).contains("lorem ipsum"))
  }

  /** Per-DOMAIN boilerplate-line removal, then the C4 page tier: a
    * line appearing on at least `minPages` DISTINCT pages of the same
    * domain is site chrome (footers, legal banners, cookie notices —
    * sentences that PASS every line rule on every page) and is dropped
    * from ALL of them — the frequency-based removal published
    * pipelines run at site granularity (CCNet §3.1 dedups paragraphs
    * by hash across shards; RefinedWeb §3.1's line-wise corrections;
    * C4's three-sentence policy is the cross-corpus cousin —
    * [[c4KeptLines]]' dedupLines keeps ONE copy, this keeps NONE,
    * because a site-repeated line is boilerplate everywhere, including
    * its first page). Input must carry the page's domain in
    * `domainCol` ([[UrlOps.domainOf]] upstream).
    *
    * Returns the [[c4Pages]] shape: `(idCol, n_lines, text)` for pages
    * surviving the page rules after removal.
    *
    * Scale shape: ONE (domain, line)-keyed shuffle serves both the
    * census (countDistinct page per line — a two-stage combinable
    * aggregate) and the anti-join (same key, co-partitioned); the
    * census output holds only lines crossing `minPages` — the
    * boilerplate set, tiny by construction. Then one id-keyed shuffle
    * reassembles pages. The hot (domain, line) keys are exactly the
    * boilerplate lines this exists to kill, and each collapses to one
    * census row.
    */
  def domainCleanPages(docs: DataFrame, idCol: String, htmlCol: String,
                       domainCol: String, minPages: Int = 3,
                       minWords: Int = 3, minLines: Int = 5): DataFrame = {
    require(minPages >= 2, s"minPages must be >= 2, got $minPages")
    val lines = keptLineStage(docs, idCol, Seq(domainCol), htmlCol,
      C4Terminals, lit(minWords))
    val census = lines
      .groupBy(col(domainCol), col("line"))
      .agg(countDistinct(col(idCol)).as("__n_pages"))
      .filter(col("__n_pages") >= minPages)
      .select(col(domainCol), col("line"))
    pageStage(lines.join(census, Seq(domainCol, "line"), "left_anti"),
      idCol, minLines)
  }

  /** The document's `<base href>` value — HTML's base-URL override: when
    * present, EVERY relative reference on the page resolves against it,
    * not the page URL (HTML5 §4.2.3; only the FIRST base element with an
    * href counts, which is exactly what the first regexp match gives).
    * Trimmed; NULL when absent or empty. Compose with
    * [[UrlOps.effectiveBase]] before [[UrlOps.resolveUrl]].
    */
  def baseHref(html: Column): Column =
    nullif(trim(regexp_extract(html,
      "(?is)<base\\s(?:[^>]*?\\s)?href\\s*=\\s*\"([^\"]*)\"", 1)), lit(""))

  /** The `content` list of the page's robots META tag (`<meta
    * name="robots" content="...">` — the per-page indexing-directive
    * channel every search/corpus pipeline honors alongside robots.txt;
    * RFC 9309 §2.3.1 points to it, Google/Bing document the token
    * set). Both attribute orders are matched (name-first and
    * content-first — real pages emit both); WITHIN each order the
    * first match wins (the [[baseHref]] convention), and when a page
    * carries robots metas in BOTH attribute orders the name-first
    * form is preferred — a documented tie rule for a degenerate page,
    * not a fidelity claim. NULL when the page has no robots meta. The name value match is case-insensitive
    * (`NAME="ROBOTS"` counts); a meta with a DIFFERENT name whose
    * content merely contains the word "noindex" does NOT count — the
    * name is part of the pattern, not a post-filter.
    */
  def metaRobotsContent(html: Column): Column =
    nullif(eitherOrder(html, "meta", "name", "robots", "content"), lit(""))

  /** `attr`'s value in the first `<tag key="value">`, either attribute
    * order (key-first preferred); "" when neither matches.
    */
  private def eitherOrder(html: Column, tag: String, key: String,
                          value: String, attr: String): Column = {
    val kv = s"$key\\s*=\\s*\"$value\""
    val av = s"$attr\\s*=\\s*\"([^\"]*)\""
    val open = s"(?is)<$tag\\s(?:[^>]*?\\s)?"
    val gap = "\\s(?:[^>]*?\\s)?"
    coalesce(
      nullif(regexp_extract(html, open + kv + gap + av, 1), lit("")),
      nullif(regexp_extract(html, open + av + gap + kv, 1), lit("")))
  }

  /** Whether `listStr`'s `sep`-separated token list contains `token`
    * after per-token trim + lowercase — the robots-meta / rel-attribute
    * token test (`noindex, nofollow` and `ugc nofollow` both hit their
    * tokens; `noopener` does NOT contain `nofollow` — token equality,
    * never substring).
    */
  private def hasToken(listStr: Column, sep: String, token: String): Column =
    array_contains(transform(split(listStr, sep), t => lower(trim(t))),
      token)

  /** Page-level noindex: the robots meta declares `noindex` (or `none`,
    * which means noindex + nofollow). false when no robots meta — the
    * indexable default.
    */
  def metaNoindex(html: Column): Column = robotsDirective(html, "noindex")

  /** Page-level nofollow: the robots meta declares `nofollow` or
    * `none` — EVERY link on the page is then excluded from the link
    * graph (the page-level form of the per-anchor `rel="nofollow"`,
    * [[extractAnchorRels]]). false when no robots meta.
    */
  def metaNofollow(html: Column): Column = robotsDirective(html, "nofollow")

  /** The robots meta declares `token` or `none`; false without one. */
  private def robotsDirective(html: Column, token: String): Column = {
    val c = metaRobotsContent(html)
    when(c.isNull, lit(false))
      .otherwise(hasToken(c, ",", token) || hasToken(c, ",", "none"))
  }

  /** The page's declared canonical URL (`<link rel="canonical"
    * href="...">` — RFC 6596; the publisher's own statement of which
    * URL variant is the page of record, the signal URL-level dedup
    * clusters on BEYOND syntactic canonicalization: `?page=2`, `/amp`,
    * and `m.`-host variants all declare the same canonical). Both
    * attribute orders matched; first match wins; NULL when absent or
    * empty. The href may itself be relative — resolve against the
    * page's effective base ([[UrlOps.effectiveBase]] +
    * [[UrlOps.resolveUrl]]) before use.
    */
  def canonicalHref(html: Column): Column =
    nullif(trim(eitherOrder(html, "link", "rel", "canonical", "href")),
      lit(""))

  /** The charset the PAGE declares, sniffed from the latin1-view bytes
    * (meta tags are ASCII, so the view reads them exactly) — the
    * WHATWG fallback when the HTTP Content-Type carries no `charset=`
    * parameter (most real servers omit it; the bytes then self-declare
    * via `<meta charset="utf-8">` or the legacy `<meta
    * http-equiv="Content-Type" content="text/html; charset=...">`).
    * ONE pattern covers both forms: the legacy form's `; charset=`
    * inside the content attribute satisfies the same
    * whitespace-then-`charset=` shape. Lowercased; NULL when the page
    * declares nothing. Compose as `coalesce(headerCharset,
    * metaCharset(view))` — the HTTP header WINS when present (WHATWG
    * §13.2.3.2 precedence). Fidelity bound (regex tier): a non-meta
    * attribute value containing ` charset=` would also match.
    */
  def metaCharset(html: Column): Column =
    nullif(lower(regexp_extract(html,
      "(?is)<meta\\s(?:[^>]*?\\s)?charset\\s*=\\s*\"?([A-Za-z0-9._-]+)",
      1)), lit(""))

  /** The page's `<title>` text — first match, inner whitespace
    * collapsed, trimmed; NULL when absent or empty. The
    * soft-404/quality tier's cheapest signal.
    */
  def title(html: Column): Column =
    nullif(trim(regexp_replace(regexp_extract(html,
      "(?is)<title[^>]*>(.*?)</title\\s*>", 1), "\\s+", " ")), lit(""))

  /** All `href` targets of `<a>` tags, in document order — the link
    * tier of the first mile: a crawl discovers its frontier from
    * exactly these, and a corpus's link graph (in-degree as a quality
    * prior, anchor provenance) starts here. Double-quoted hrefs only
    * (the dominant form; single-quoted/bare attributes are a documented
    * fidelity bound of the regex tier, like the `>`-in-attribute bound
    * above). Empty hrefs are dropped. Pure codegen'd column expression —
    * resolve against the page URL with [[UrlOps.resolveUrl]], then
    * canonicalize.
    */
  def extractLinks(html: Column): Column =
    filter(
      transform(
        regexp_extract_all(html,
          // href must FOLLOW whitespace (directly after `<a`, or after a
          // prior attribute): a bare `[^>]*?href` would also match the
          // suffix of `data-href="..."` and emit a false link (\b cannot
          // help — `-` is already a word boundary)
          lit(anchorHrefRe), lit(1)),
        r => trim(r)),
      r => r =!= "")

  /** The href of an `<a>` open tag — ONE pattern for the three link ops. */
  private val anchorHrefRe = "(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*\"([^\"]*)\""

  /** A complete `<a href="...">...</a>` element — ONE pattern, shared
    * by [[extractAnchors]] and the [[blockScores]] link-density sum.
    */
  private val anchorElemRe =
    "(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*\"[^\"]*\"[^>]*>.*?</a\\s*>"

  /** `<a>` elements with BOTH their href target and their anchor TEXT —
    * the link-description signal (anchor text is how the web labels a
    * target page; WebText-style corpora and link-graph quality priors
    * both consume it). Returns array<struct<href, atext>>: href as
    * [[extractLinks]] extracts it (double-quoted, trimmed), atext with
    * inner tags stripped to spaces and whitespace collapsed. Elements
    * whose href is empty are dropped. An unclosed `<a>` swallows text
    * up to the NEXT `</a>` (lazy match) — the same regex-tier fidelity
    * bound class as the rest of this object. Pure codegen'd column
    * expression.
    */
  def extractAnchors(html: Column): Column = {
    val elem = regexp_extract_all(html, lit(anchorElemRe), lit(0))
    filter(
      transform(elem, e => struct(
        trim(regexp_extract(e, anchorHrefRe, 1)).as("href"),
        trim(regexp_replace(regexp_replace(
          regexp_extract(e, "(?is)^<a[^>]*>(.*)</a\\s*>$", 1),
          "<[^>]*>", " "), "\\s+", " ")).as("atext"))),
      e => e.getField("href") =!= "")
  }

  /** `<a>` elements with their href AND their follow/nofollow status —
    * the edge-admission signal of the link-graph tier:
    * `rel="nofollow"` (and its `ugc`/`sponsored`-era token-list forms,
    * e.g. `rel="ugc nofollow"`) tells crawlers the link conveys no
    * endorsement, so ranking graphs (PageRank and kin) drop the edge
    * while extraction keeps the text. Returns array<struct<href,
    * nofollow>>: href as [[extractLinks]] extracts it; nofollow = the
    * open tag's `rel` attribute token list (whitespace-separated, per
    * the HTML spec) contains the `nofollow` TOKEN — `rel="noopener"`
    * does not count (token equality, never substring). The rel is read
    * from the element's OPEN tag only. Empty-href elements dropped;
    * pure codegen'd column expression.
    */
  def extractAnchorRels(html: Column): Column = {
    val elem = regexp_extract_all(html, lit(anchorElemRe), lit(0))
    filter(
      transform(elem, e => {
        val open = regexp_extract(e, "(?is)^(<a[^>]*>)", 1)
        struct(
          trim(regexp_extract(open, anchorHrefRe, 1)).as("href"),
          hasToken(regexp_extract(open,
            "(?is)\\srel\\s*=\\s*\"([^\"]*)\"", 1), "\\s+", "nofollow")
            .as("nofollow"))
      }),
      e => e.getField("href") =!= "")
  }

  /** Per-BLOCK text-vs-link density scores — the block tier published
    * pipelines run BEFORE line rules (RefinedWeb §3.1 via trafilatura;
    * boilerpipe's densitometric classifier): navigation, sidebars, and
    * footers are made of links, so a block whose characters are mostly
    * anchor text is chrome even when its sentences would pass every
    * line-level rule. Blocks are the [[c4KeptLines]] line units (the
    * same block-close split, after script/style/comment removal);
    * per block:
    *
    *  - `block_text`   — tags stripped, whitespace collapsed, trimmed
    *    (NO entity decode — that happens once, in the line tier);
    *  - `text_chars`   — its length (empty blocks produce no row);
    *  - `anchor_chars` — summed lengths of the block's `<a
    *    href>`-element inner texts (same cleanup), the
    *    [[anchorElemRe]] surface;
    *  - `link_density_bp = anchor_chars · 10000 div max(text_chars,1)`
    *    (integral basis points — the cross-engine convention);
    *  - `is_content`   — at least `minChars` chars AND density at most
    *    `maxLinkBp` (defaults 25 / 3333: boilerpipe's ~1/3 link-density
    *    boundary, a floor that keeps "Home | About"-style fragments
    *    out even when unlinked).
    *
    * Pure narrow map after the explode — no shuffle; zero UDFs.
    */
  def blockScores(docs: DataFrame, idCol: String, htmlCol: String,
                  minChars: Int = 25, maxLinkBp: Long = 3333): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    require(maxLinkBp >= 0 && maxLinkBp <= 10000,
      s"maxLinkBp must be in [0, 10000], got $maxLinkBp")
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<script\\b[^>]*>.*?</script[^>]*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style[^>]*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val broke = regexp_replace(noComment, lineBreakTagRe, "\n")
    val anchorLens = transform(
      regexp_extract_all(col("__raw"), lit(anchorElemRe), lit(0)),
      e => length(trim(regexp_replace(regexp_replace(
        regexp_extract(e, "(?is)^<a[^>]*>(.*)</a\\s*>$", 1),
        "<[^>]*>", " "), "\\s+", " "))).cast(LongType))
    docs
      .select(col(idCol), posexplode(split(broke, "\n"))
        .as(Seq("block_no", "__raw")))
      .withColumn("block_text",
        trim(regexp_replace(regexp_replace(col("__raw"), "<[^>]*>", ""),
          "\\s+", " ")))
      .withColumn("text_chars", length(col("block_text")).cast(LongType))
      .filter(col("text_chars") > 0)
      .withColumn("anchor_chars",
        aggregate(anchorLens, lit(0L), (a, x) => a + x))
      .drop("__raw")
      .withColumn("block_no", col("block_no").cast(LongType))
      .withColumn("link_density_bp",
        expr("anchor_chars * 10000 div greatest(text_chars, 1L)"))
      .withColumn("is_content", col("text_chars") >= minChars &&
        col("link_density_bp") <= maxLinkBp)
  }

  /** Main-content extraction: the best RUN of consecutive content
    * blocks ([[blockScores]]) per page, reassembled in block order —
    * trafilatura-class "keep the main block, drop the chrome" without
    * leaving the zero-UDF regex/window tier. Runs are maximal
    * consecutive `is_content` stretches over the page's non-empty
    * blocks; the run with the most total text chars wins (ties break
    * to the EARLIEST run — deterministic). A page with no content
    * block produces no row (all-chrome pages have no main content —
    * a finding, not a default). Returns `(idCol, main_html)`; feed to
    * [[c4Pages]] for the line/page rules (the x151 composition).
    *
    * Scale shape: ONE id-keyed shuffle serves the run window, the
    * per-run rollup, and the reassembly (same partitioning); the
    * best-run pick is a WindowGroupLimit-class top-1, never a
    * self-join on the corpus.
    */
  def mainContent(docs: DataFrame, idCol: String, htmlCol: String,
                  minChars: Int = 25, maxLinkBp: Long = 3333): DataFrame = {
    val wOrd = Window.partitionBy(idCol).orderBy("block_no")
    val runs = blockScores(docs, idCol, htmlCol, minChars, maxLinkBp)
      .withColumn("__run",
        sum(when(col("is_content"), 0L).otherwise(1L)).over(wOrd))
      .filter(col("is_content"))
    val best = runs.groupBy(col(idCol), col("__run"))
      .agg(sum("text_chars").as("__chars"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(idCol)
          .orderBy(col("__chars").desc, col("__run").asc)))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("__run"))
    runs.join(best, Seq(idCol, "__run"), "left_semi")
      .groupBy(col(idCol))
      .agg(concat_ws("\n", array_sort(collect_list(
          struct(col("block_no"), col("block_text"))))
        .getField("block_text")).as("main_html"))
  }

  /** Page-level C4 rules over the kept lines: reassemble each page from
    * its surviving lines and keep only pages that
    *
    *  - retained at least `minLines` lines (C4 drops pages with fewer
    *    than 5 sentences; line granularity here);
    *  - contain no curly brace (code/templating leak — script/style are
    *    already stripped, so a brace in TEXT is the page's own);
    *  - do not mention "lorem ipsum" (case-insensitive).
    *
    * Returns (idCol, n_lines, text) for surviving pages, text = kept
    * lines joined by `\n` in line order. One combinable aggregation.
    */
  def c4Pages(docs: DataFrame, idCol: String, htmlCol: String,
              minWords: Int = 3, minLines: Int = 5,
              dedupLines: Boolean = true): DataFrame =
    pageStage(c4KeptLines(docs, idCol, htmlCol, minWords, dedupLines),
      idCol, minLines)
}
