package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** HTML extraction + C4 line rules (Raffel et al. 2020 §2.2): tag
  * stripping, script/style/comment content removal, entity decoding
  * order, each line-retention rule at its edge, and the language-aware
  * line rules of `c4KeptLinesByLang`.
  */
class HtmlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def extract(html: String): String =
    Seq(html).toDF("h").select(HtmlOps.htmlToText(col("h")).as("t"))
      .head().getString(0)

  private def kept(rows: (Long, String)*): Seq[(Long, Long, String)] =
    HtmlOps.c4KeptLines(rows.toDF("id", "html"), "id", "html")
      .orderBy("id", "line_no")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  test("script/style/comment content is removed, not just the tags") {
    val t = extract(
      "<style>p { color: red; }</style>before " +
        "<script>if (a < b) { alert(\"x\"); }</script>after" +
        "<!-- secret <p>tagged</p> -->done")
    assert(!t.contains("color") && !t.contains("alert") &&
      !t.contains("secret") && !t.contains("{"))
    assert(t.contains("before") && t.contains("after") && t.contains("done"))
  }

  test("nested and inline tags strip without splitting words") {
    // inline <b> inside a word must not introduce a space; block closes
    // become newlines even when nested
    assert(extract("bol<b>d</b> text") == "bold text")
    val t = extract("<div><p>one.</p><p>two.</p></div>")
    assert(t.split("\n").map(_.trim).filter(_.nonEmpty).toSeq ==
      Seq("one.", "two."))
  }

  test("close-tag matching is exact: </progress> and <brand> are not line " +
      "breaks, table cells are") {
    // prefix-capture regression (r15 review): '</progress>' must not
    // match the 'p' arm, '<brand>' must not match '<br' — the sentence
    // must survive as ONE line (inline strip, no injected newline)
    val one = extract("<p>See the <progress></progress> bar details here.</p>")
    assert(one.split("\n").count(_.trim.nonEmpty) == 1, one)
    assert(extract("our <brand>x</brand> name") == "our x name")
    // adjacent cells must not concatenate into one word
    val cells = extract("<table><tr><td>Price</td><td>10 USD.</td></tr></table>")
    assert(!cells.contains("Price10"), cells)
    assert(cells.split("\n").map(_.trim).filter(_.nonEmpty).toSeq ==
      Seq("Price", "10 USD."))
    // br forms: bare, self-closed, spaced, attributed
    assert(extract("a<br>b<br/>c<br />d<br class=\"x\">e")
      .split("\n").toSeq == Seq("a", "b", "c", "d", "e"))
  }

  test("entities decode once, &amp; last (no double decode)") {
    assert(extract("a &lt;tag&gt; &quot;q&quot; &#39;s&apos; b") ==
      "a <tag> \"q\" 's' b")
    // &amp;lt; is the ESCAPED text "&lt;" — decoding &amp; first would
    // turn it into a live < and re-decode
    assert(extract("x &amp;lt; y") == "x &lt; y")
    assert(extract("a&nbsp;b") == "a b")
  }

  test("numeric character references: decimal, hex, punct range, bounds") {
    // printable-ASCII decimal and lowercase-hex forms
    assert(extract("It&#39;s &#46; and &#x21; here") == "It's . and ! here")
    // common punctuation beyond ASCII; 160 normalizes to a plain space
    assert(extract("a&#8212;b &#8217;q&#8217; c&#160;d &#x2122;") ==
      "a—b ’q’ c d ™")
    // documented literal bounds: leading zero, uppercase hex / X,
    // out-of-range codepoint, missing semicolon
    assert(extract("&#039; &#x2A; &#X27; &#1500; &#38") ==
      "&#039; &#x2A; &#X27; &#1500; &#38")
    // non-recursive: a decoded '&' never starts a second decode
    assert(extract("x &#38;lt; y") == "x &lt; y")
    assert(extract("x &#x26;amp; y") == "x &amp; y")
  }

  test("terminal punctuation rule: ., !, ?, closing quote pass; bare text drops") {
    val r = kept(
      1L -> ("<p>this line ends well.</p><p>this line ends not</p>" +
        "<p>exclaimed line stands here!</p><p>question line stands here?</p>" +
        "<p>quoted line ends \"here.\"</p>" +
        // the last character is a line separator that neither the
        // whitespace collapse nor trim removes: not a terminal
        "<p>next line ends after.\u0085</p><p>line sep ends after.\u2028</p>" +
        "<p>para sep ends after.\u2029</p>"))
    assert(r.map(_._3) == Seq("this line ends well.",
      "exclaimed line stands here!", "question line stands here?",
      "quoted line ends \"here.\""))
  }

  test("min-words rule: exactly 3 words pass, 2 words drop") {
    val r = kept(1L -> "<p>three words here.</p><p>two words.</p>")
    assert(r.map(_._3) == Seq("three words here."))
  }

  test("javascript rule is case-insensitive") {
    val r = kept(1L -> ("<p>Please enable JavaScript to continue.</p>" +
      "<p>plain honest content line.</p>"))
    assert(r.map(_._3) == Seq("plain honest content line."))
  }

  test("line dedup keeps the first (doc, position) occurrence only") {
    val r = kept(
      2L -> "<p>unique to doc two.</p><p>shared footer line here.</p>",
      1L -> "<p>unique to doc one.</p><p>shared footer line here.</p>")
    // the footer survives once, at doc 1 (lowest id), its own line_no
    assert(r == Seq(
      (1L, 0L, "unique to doc one."),
      (1L, 1L, "shared footer line here."),
      (2L, 0L, "unique to doc two.")))
    // dedupLines = false keeps both
    val all = HtmlOps.c4KeptLines(
        Seq(2L -> "<p>shared footer line here.</p>",
          1L -> "<p>shared footer line here.</p>").toDF("id", "html"),
        "id", "html", dedupLines = false)
      .collect()
    assert(all.length == 2)
  }

  test("whitespace collapses before the word count and line_no is stable") {
    // tags stripped mid-line leave double spaces; the 3-word count must
    // see collapsed words. line_no addresses the extracted line list, so
    // a dropped line still advances the counter.
    val r = kept(1L ->
      "<p>dropped</p><p>kept   <i>words</i>   here.</p>")
    assert(r == Seq((1L, 1L, "kept words here.")))
  }

  test("extractLinks: double-quoted hrefs in order, case-insensitive " +
      "tag/attr, trims, drops empties; single-quoted/bare/no-href are " +
      "the documented bound") {
    val html = "<a href=\"/a\">x</a><A HREF=\" /B \">y</A>" +
      "<a class=\"z\" href=\"c/d\">w</a><a href=\"\">e</a>" +
      "<a href='sq'>s</a><a href=bare>b</a><a name=\"n\">n</a>" +
      "<a data-href=\"/fake\">not a link</a>"
    val links = Seq(html).toDF("h")
      .select(HtmlOps.extractLinks(col("h")).as("l"))
      .as[Seq[String]].head()
    assert(links == Seq("/a", "/B", "c/d"))
  }

  test("extractAnchors: href + inner-tag-stripped text per element; " +
      "empty-href and href-less elements drop; case-insensitive close") {
    val html = "<a href=\"/a\"><b>Bold</b> link</a>" +
      "<A HREF=\"/b\">CAPS</A>" +
      "<a href=\"/c\">  spaced   text </a>" +
      "<a href=\"\">empty</a><a name=\"n\">no href</a>" +
      "<a data-href=\"/fake\">fake</a>"
    val anchors = Seq(html).toDF("h")
      .select(explode(HtmlOps.extractAnchors(col("h"))).as("a"))
      .select("a.href", "a.atext")
      .as[(String, String)].collect().toSeq
    assert(anchors == Seq(("/a", "Bold link"), ("/b", "CAPS"),
      ("/c", "spaced text")))
  }

  test("c4Pages applies page-level rules on reassembled kept lines") {
    val good = (1 to 6).map(i => s"<p>good content line number $i.</p>").mkString
    val pages = HtmlOps.c4Pages(
      Seq(1L -> good,
        2L -> "<p>only two good lines here.</p><p>not enough lines survive.</p>",
        3L -> (good.replace("number", "alt") +
          "<p>this page mentions lorem ipsum sadly.</p>"),
        4L -> (good.replace("number", "brace") + "<p>code leak { inline }.</p>"))
        .toDF("id", "html"),
      "id", "html")
    val surviving = pages.select("id").as[Long].collect().toSet
    assert(surviving == Set(1L))
    val row = pages.filter(col("id") === 1L).head()
    assert(row.getAs[Long]("n_lines") == 6L)
    assert(row.getAs[String]("text").split("\n").length == 6)
  }

  // a chrome-heavy page whose nav/footer sentences PASS every C4 line
  // rule — the class the block-density tier exists for
  private val chromePage =
    "<html><body>" +
      "<div><a href=\"/home\">Home is where you always start today.</a> " +
      "<a href=\"/about\">About all the things we publish here.</a></div>" +
      (1 to 6).map(i => s"<p>real article sentence number $i stands alone.</p>")
        .mkString +
      "<div><a href=\"/legal\">Legal notices and privacy policy here.</a></div>" +
      "<p>Subscribe to our newsletter for more updates soon.</p>" +
      "</body></html>"

  test("blockScores: link-bar blocks score near-10000 bp and are not " +
      "content; article blocks score 0; a small inline link stays " +
      "under the density bound") {
    val inline = "<p>See the complete and current <a href=\"/r\">guide" +
      "</a> for all the details published today.</p>"
    val scores = HtmlOps.blockScores(
        Seq(1L -> (chromePage.replace("</body></html>",
          inline + "</body></html>"))).toDF("id", "html"), "id", "html")
      .orderBy("block_no")
      .select("block_text", "link_density_bp", "is_content")
      .as[(String, Long, Boolean)].collect().toSeq
    assert(scores.head._2 > 9000 && !scores.head._3)       // nav bar
    assert(scores(1)._2 == 0 && scores(1)._3)              // article
    val inl = scores.find(_._1.startsWith("See the complete")).get
    assert(inl._2 > 0 && inl._2 <= 3333 && inl._3)         // inline link
  }

  test("mainContent keeps the best run only: chrome and the trailing " +
      "content island drop; the x128-tier c4Pages on the SAME page " +
      "keeps the chrome sentences (the gap the block tier closes)") {
    val docs = Seq(1L -> chromePage).toDF("id", "html")
    val main = HtmlOps.mainContent(docs, "id", "html")
      .head().getAs[String]("main_html")
    assert(main.split("\n").length == 6) // the 6 article sentences
    assert(!main.contains("Home is where") && !main.contains("Legal"))
    assert(!main.contains("Subscribe")) // island run of 1 loses
    // the line tier ALONE keeps the chrome (every rule passes) — the
    // documented x128 behavior on chrome-heavy pages
    val x128Text = HtmlOps.c4Pages(docs, "id", "html")
      .head().getAs[String]("text")
    assert(x128Text.contains("Home is where you always start today."))
    assert(x128Text.contains("Subscribe to our newsletter"))
    // composed: block tier then line tier = only the article
    val composed = HtmlOps.c4Pages(
      HtmlOps.mainContent(docs, "id", "html"), "id", "main_html")
      .head()
    assert(composed.getAs[Long]("n_lines") == 6L)
    assert(!composed.getAs[String]("text").contains("Home is where"))
  }

  test("mainContent: an all-chrome page yields no row (a finding, not " +
      "an empty default); ties break to the earliest run") {
    val allChrome = "<html><body><div><a href=\"/a\">Only linked " +
      "navigation sentences live on this page.</a></div></body></html>"
    assert(HtmlOps.mainContent(
      Seq(1L -> allChrome).toDF("id", "html"), "id", "html").isEmpty)
    // two runs of identical total chars, separated by a chrome block:
    // the EARLIER run wins deterministically
    val line = "<p>twelve equal chars here now okay fine.</p>"
    val twoRuns = "<html><body>" + line.replace("now", "one") +
      "<div><a href=\"/x\">A linked navigation sentence sits here.</a></div>" +
      line.replace("now", "two") + "</body></html>"
    val got = HtmlOps.mainContent(
      Seq(1L -> twoRuns).toDF("id", "html"), "id", "html")
      .head().getAs[String]("main_html")
    assert(got.contains("one") && !got.contains("two"))
  }

  test("c4KeptLinesByLang: ja profile keeps 。-terminated space-free " +
      "sentences the English rules drop; en fallback unchanged") {
    val enHtml = "<html><body><p>this line has enough words to pass.</p>" +
      "<p>too short.</p></body></html>"
    val jaHtml = "<html><body><p>これは日本語の文です。</p>" +
      "<p>はい。</p><p>あ。</p><p>これはテストです</p></body></html>"
    val docs = Seq((1L, "en", enHtml), (2L, "ja", jaHtml))
      .toDF("doc_id", "lang", "html")
    val prof = Seq(("ja", Seq("。", "！", "？", "」"), 1L, 3L))
      .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
    val got = HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html", prof)
      .orderBy("doc_id", "line_no")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(got == Seq(
      (1L, "this line has enough words to pass."),
      (2L, "これは日本語の文です。"),
      (2L, "はい。"))) // あ。 fails min_line_chars; no-。 line fails term
    // English rules alone keep ZERO ja lines — the planted difference
    val engOnly = HtmlOps.c4KeptLines(
        docs.filter(col("lang") === "ja"), "doc_id", "html",
        dedupLines = false)
      .count()
    assert(engOnly == 0L)
  }

  test("c4KeptLinesByLang: the javascript rule stays global across " +
      "profiles") {
    val docs = Seq((1L, "ja",
      "<html><body><p>javascriptを有効にしてください。</p></body></html>"))
      .toDF("doc_id", "lang", "html")
    val prof = Seq(("ja", Seq("。"), 1L, 3L))
      .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
    assert(HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html", prof)
      .count() == 0L)
  }

  test("c4KeptLinesByLang: a DUPLICATE profile row is collapsed — " +
      "lines never multiply") {
    val docs = Seq((1L, "ja",
      "<html><body><p>これは日本語の文です。</p></body></html>"))
      .toDF("doc_id", "lang", "html")
    val prof = Seq(
      ("ja", Seq("。"), 1L, 3L),
      ("ja", Seq("。"), 1L, 3L)) // exact duplicate
      .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
    val got = HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html", prof)
      .collect()
    assert(got.length == 1, "duplicate profile row multiplied line rows")
  }

  test("c4KeptLinesByLang: carry columns ride the narrow map (the " +
      "provenance contract the capstone's src cohort uses)") {
    val docs = Seq(
      (0L, "en", "pdf", "<p>this line has enough words to pass.</p>"))
      .toDF("doc_id", "lang", "src", "html")
    val prof = Seq(("ja", Seq("。"), 1L, 3L))
      .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
    val got = HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html", prof,
      carry = Seq("src"))
    assert(got.columns.toSeq ==
      Seq("doc_id", "lang", "src", "line_no", "line"))
    assert(got.select("src").as[String].head() == "pdf")
  }

  test("c4KeptLinesByLang with no profile row keeps exactly " +
      "c4KeptLines' lines (dedupLines = false)") {
    val html = "<p>this line ends well.</p><p>this line ends not</p>" +
      "<p>quoted line ends \"here.\"</p><p>two words.</p>" +
      "<p>Please enable JavaScript to continue.</p>" +
      "<p>kept   <i>words</i>   here.</p><p>shared footer line here.</p>" +
      "<p>next line ends after.\u0085</p><p>line sep ends after.\u2028</p>" +
      "<p>para sep ends after.\u2029</p><p>これは日本語の文です。</p>"
    val docs = Seq((1L, "en", html), (2L, null, html),
        (3L, "fr", "<p>shared footer line here.</p>"))
      .toDF("doc_id", "lang", "html")
    val prof = Seq(("ja", Seq("。"), 1L, 3L))
      .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
    def lines(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
      df.select("doc_id", "line_no", "line").orderBy("doc_id", "line_no")
        .as[(Long, Long, String)].collect().toSeq
    val english = lines(HtmlOps.c4KeptLines(docs, "doc_id", "html",
      dedupLines = false))
    assert(english.map(_._3).distinct == Seq("this line ends well.",
      "quoted line ends \"here.\"", "kept words here.",
      "shared footer line here."))
    assert(lines(HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html", prof)) ==
      english)
  }
}
