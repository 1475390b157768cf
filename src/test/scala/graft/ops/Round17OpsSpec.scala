package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-17 wave 1: the indexing-signals / crawl-hygiene tier —
  * meta-robots directives, rel-aware anchors, canonical link element,
  * meta-charset sniffing, per-domain boilerplate-line removal,
  * crawler-trap templates, and conditional-revalidation planning.
  */
class Round17OpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(html: String, c: org.apache.spark.sql.Column): Any =
    Seq(html).toDF("h").select(c.as("v")).collect()(0).get(0)

  test("metaRobots: both attribute orders, case-insensitive name, " +
      "none token, and name selectivity") {
    def flags(html: String): (Boolean, Boolean) = {
      val r = Seq(html).toDF("h").select(
        HtmlOps.metaNoindex(col("h")).as("ni"),
        HtmlOps.metaNofollow(col("h")).as("nf")).collect()(0)
      (r.getBoolean(0), r.getBoolean(1))
    }
    // no robots meta at all -> indexable default
    assert(flags("<html><head></head><body>x</body></html>") ==
      (false, false))
    // name-first
    assert(flags("<meta name=\"robots\" content=\"noindex\">") ==
      (true, false))
    // content-first order
    assert(flags("<meta content=\"nofollow\" name=\"robots\">") ==
      (false, true))
    // comma list, spaces
    assert(flags("<meta name=\"robots\" content=\"noindex, nofollow\">") ==
      (true, true))
    // NONE (uppercase) means both; NAME= uppercase too
    assert(flags("<meta NAME=\"ROBOTS\" content=\"NONE\">") ==
      (true, true))
    // explicit allow
    assert(flags("<meta name=\"robots\" content=\"index, follow\">") ==
      (false, false))
    // a DIFFERENT meta whose content contains the word must not count
    assert(flags("<meta name=\"description\" " +
      "content=\"how to noindex a page\">") == (false, false))
    // token equality, not substring: 'noindex-x' is not 'noindex'
    assert(flags("<meta name=\"robots\" content=\"noindex-x\">") ==
      (false, false))
    // extra attributes between name and content
    assert(flags("<meta name=\"robots\" id=\"m1\" " +
      "content=\"noindex\">") == (true, false))
  }

  test("extractAnchorRels: nofollow is a TOKEN of the open tag's rel " +
      "list; noopener does not count; the single-quote bound holds") {
    val html =
      "<a href=\"/a\">follow</a>" +
        "<a href=\"/b\" rel=\"nofollow\">nf</a>" +
        "<a rel=\"ugc nofollow\" href=\"/c\">list</a>" +
        "<a href=\"/d\" rel=\"noopener noreferrer\">np</a>" +
        "<a href=\"/e\" rel=\"NoFollow\">case</a>" +
        "<a href='/sq' rel=\"nofollow\">single-quote bound</a>" +
        "<a name=\"x\">no href</a>"
    val rows = Seq(html).toDF("h")
      .select(explode(HtmlOps.extractAnchorRels(col("h"))).as("a"))
      .select(col("a.href"), col("a.nofollow"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(rows == Seq(("/a", false), ("/b", true), ("/c", true),
      ("/d", false), ("/e", true)))
  }

  test("canonicalHref: both orders, first match wins, absent -> NULL") {
    assert(one("<link rel=\"canonical\" href=\"https://e.com/x\">",
      HtmlOps.canonicalHref(col("h"))) == "https://e.com/x")
    assert(one("<link href=\"/y\" rel=\"canonical\">",
      HtmlOps.canonicalHref(col("h"))) == "/y")
    assert(one("<link rel=\"stylesheet\" href=\"/s.css\">" +
      "<link rel=\"canonical\" href=\"/first\">" +
      "<link rel=\"canonical\" href=\"/second\">",
      HtmlOps.canonicalHref(col("h"))) == "/first")
    assert(one("<html><head></head></html>",
      HtmlOps.canonicalHref(col("h"))) == null)
  }

  test("metaCharset: modern and legacy http-equiv forms, lowercased, " +
      "absent -> NULL") {
    assert(one("<meta charset=\"UTF-8\">",
      HtmlOps.metaCharset(col("h"))) == "utf-8")
    assert(one("<meta charset=windows-1252>",
      HtmlOps.metaCharset(col("h"))) == "windows-1252")
    assert(one("<meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=ISO-8859-1\">",
      HtmlOps.metaCharset(col("h"))) == "iso-8859-1")
    assert(one("<html><head><title>t</title></head></html>",
      HtmlOps.metaCharset(col("h"))) == null)
  }

  test("domainCleanPages: a line on >= minPages pages of ONE domain " +
      "drops EVERYWHERE (including its first page); the same line " +
      "under minPages on another domain survives") {
    val footer = "All rights reserved by the site owner today."
    def page(unique: String) =
      s"<html><body><p>$unique one two three four.</p>" +
        s"<p>Second $unique sentence keeps the page above minimum lines.</p>" +
        s"<p>Third $unique sentence exists to pass the page rule set.</p>" +
        s"<p>Fourth $unique sentence exists to pass the page rule set?</p>" +
        s"<p>Fifth $unique sentence exists to pass the page rule set!</p>" +
        s"<p>$footer</p></body></html>"
    val docs = Seq(
      (1L, "a.com", page("Alpha")), (2L, "a.com", page("Beta")),
      (3L, "a.com", page("Gamma")),
      (10L, "b.com", page("Delta")), (11L, "b.com", page("Epsilon")))
      .toDF("doc_id", "dom", "html")
    val out = HtmlOps.domainCleanPages(docs, "doc_id", "html", "dom",
      minPages = 3).orderBy("doc_id").collect()
    assert(out.length == 5)
    // domain a: footer on 3 pages -> dropped from ALL THREE
    val aTexts = out.filter(_.getLong(0) < 10).map(_.getString(2))
    assert(aTexts.forall(!_.contains(footer)),
      "site-repeated footer must drop from every page, first included")
    assert(out.filter(_.getLong(0) < 10).forall(_.getLong(1) == 5L))
    // domain b: only 2 pages carry it -> under minPages, kept on both
    val bTexts = out.filter(_.getLong(0) >= 10).map(_.getString(2))
    assert(bTexts.forall(_.contains(footer)),
      "the census is PER DOMAIN: two pages on b.com stay under minPages")
    // a page that falls below minLines after removal disappears
    val thin = Seq(
      (1L, "c.com", s"<html><body><p>$footer</p>" +
        "<p>Only one other sentence lives on this page today.</p>" +
        "</body></html>"),
      (2L, "c.com", s"<html><body><p>$footer</p></body></html>"))
      .toDF("doc_id", "dom", "html")
    assert(HtmlOps.domainCleanPages(thin, "doc_id", "html", "dom",
      minPages = 2, minLines = 2).count() == 0L)
  }

  test("trapTemplates: a calendar-style template minting many URLs " +
      "over one payload flags; a same-size article space does not; " +
      "query parameter NAMES template (values stripped, sorted)") {
    val cal = (1 to 25).map(i =>
      (f"https://t.com/cal/2020/${i}%02d", "same"))
    val art = (1 to 25).map(i =>
      (s"https://t.com/art/$i", s"digest_$i"))
    val sess = (1 to 24).map(i =>
      (s"https://t.com/list?sid=$i&b=1", if (i % 12 == 0) "p2" else "p1"))
    val small = Seq(("https://t.com/only/1", "x"),
      ("https://t.com/only/2", "x"))
    val urls = (cal ++ art ++ sess ++ small).toDF("url", "digest")
    val out = CrawlOps.trapTemplates(urls, minUrls = 20L,
      maxDistinctBp = 2000L)
      .orderBy("template").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(out == Seq(
      ("/art/{n}", 25L, 25L, 10000L, false),
      ("/cal/{n}/{n}", 25L, 1L, 400L, true),
      ("/list?b&sid", 24L, 2L, 833L, true),
      ("/only/{n}", 2L, 1L, 5000L, false)))
  }

  test("revalidationPlan: the LATEST capture's validators pick the " +
      "mode (etag beats last-modified; neither -> unconditional)") {
    val caps = Seq(
      // etag on latest -> if-none-match
      ("https://e.com/a", "2020-01-01", "d1", "W/\"v1\"", null),
      ("https://e.com/a", "2020-01-10", "d2", "W/\"v2\"",
        "Mon, 06 Jan 2020 00:00:00 GMT"),
      // only last-modified -> if-modified-since
      ("https://e.com/b", "2020-01-01", "d3", null,
        "Wed, 01 Jan 2020 00:00:00 GMT"),
      // older capture HAD an etag; the latest has neither -> unconditional
      ("https://e.com/c", "2020-01-01", "d4", "W/\"old\"", null),
      ("https://e.com/c", "2020-01-10", "d5", null, null))
      .toDF("url", "capture_date", "digest", "etag", "last_modified")
    val out = CrawlOps.revalidationPlan(caps, "2020-02-01")
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(
      ("https://e.com/a", "if-none-match", "W/\"v2\""),
      ("https://e.com/b", "if-modified-since",
        "Wed, 01 Jan 2020 00:00:00 GMT"),
      ("https://e.com/c", "unconditional", null)))
    // priority rides along from recrawlPriority over the same history
    val pri = CrawlOps.revalidationPlan(caps, "2020-02-01")
      .filter(col("url") === "https://e.com/a")
      .select("priority").collect()(0).getLong(0)
    // a: 1 change over 9 days span, 22 days stale:
    // 22 * (1*10000 div 9) = 22 * 1111
    assert(pri == 22L * 1111L)
  }

  test("sniffMediaType + effectiveMediaType: signatures override a " +
      "lying declaration; the < heuristic only rescues sniffable " +
      "declarations") {
    def sniff(body: String): Any =
      one(body, HttpOps.sniffMediaType(col("h")))
    assert(sniff("%PDF-1.7 x") == "application/pdf")
    assert(sniff("\u0089PNG\r\n\u001a\nrest") == "image/png")
    assert(sniff("\u00ff\u00d8\u00ffjpeg") == "image/jpeg")
    assert(sniff("GIF89a...") == "image/gif")
    assert(sniff("RIFF1234WAVEdata") == "audio/wav")
    assert(sniff("RIFF1234WEBPdata") == "image/webp")
    assert(sniff("\u001f\u008bgz") == "application/gzip")
    assert(sniff("PK\u0003\u0004zip") == "application/zip")
    assert(sniff("  \n<!DOCTYPE html>") == "text/html")
    assert(sniff("plain text here") == null)
    def eff(d: String, s: String): Any = {
      val dc = if (d == null) lit(null).cast("string") else lit(d)
      val sc = if (s == null) lit(null).cast("string") else lit(s)
      one("x", HttpOps.effectiveMediaType(dc, sc))
    }
    // binary signature overrides any declaration
    assert(eff("text/html", "application/pdf") == "application/pdf")
    // the weak < heuristic does NOT overrule an explicit text type
    assert(eff("text/plain", "text/html") == "text/plain")
    // octet-stream and absent declarations are sniffable
    assert(eff("application/octet-stream", "text/html") == "text/html")
    assert(eff(null, "text/html") == "text/html")
    // nothing sniffed -> declaration stands
    assert(eff("text/css", null) == "text/css")
    assert(eff(null, null) == null)
  }

  test("title: first match, whitespace collapsed, absent -> NULL") {
    assert(one("<html><head><title>  A   Title \n here </title></head>",
      HtmlOps.title(col("h"))) == "A Title here")
    assert(one("<TITLE lang=\"en\">Caps</TITLE>",
      HtmlOps.title(col("h"))) == "Caps")
    assert(one("<html><body>x</body></html>",
      HtmlOps.title(col("h"))) == null)
  }

  test("soft404Flags: probe-digest beats title-pattern; a clean page " +
      "stays clean; a domain without a probe still title-flags") {
    val pages = Seq(
      ("https://a.com/1", "a.com", "d_err", "<title>Welcome Home</title>"),
      ("https://a.com/2", "a.com", "d_ok",
        "<title>Page Not Found</title>"),
      ("https://a.com/3", "a.com", "d_x", "<title>Article 3</title>"),
      ("https://b.com/1", "b.com", "d_y",
        "<title>Error 404 - oops</title>"))
      .toDF("url", "reg_domain", "digest", "html")
    val probes = Seq(("a.com", "d_err")).toDF("reg_domain", "probe_digest")
    val out = CrawlOps.soft404Flags(pages, probes)
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getBoolean(2), r.getString(3))).toSeq
    assert(out == Seq(
      ("https://a.com/1", true, "probe-digest"),
      ("https://a.com/2", true, "title-pattern"),
      ("https://a.com/3", false, null),
      ("https://b.com/1", true, "title-pattern")))
  }

  test("conversionRecord: WET write -> parseRecords -> utf-8 decode " +
      "round-trips non-latin1 text with a true BYTE Content-Length") {
    val text = "The café menu €5 — ready."
    val pages = Seq((1L, text)).toDF("doc_id", "text")
    val wet = pages.select(lit(0L).as("file_id"),
      WarcOps.conversionRecord(lit("https://e.com/1"),
        lit("2020-02-01T00:00:00Z"), col("text")).as("content"))
    val back = WarcOps.parseRecords(wet, "file_id", "content")
      .select(col("warc_type"), col("refers_to"), col("content_length"),
        col("length_ok"),
        HttpOps.decodeBody(col("payload"), lit("utf-8")).as("text"))
      .collect()(0)
    assert(back.getString(0) == "conversion")
    assert(back.getString(1) == "https://e.com/1")
    // é = 2 UTF-8 bytes, € = 3, — = 3: byte count, not char count
    assert(back.getLong(2) ==
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
    assert(back.getLong(2) > text.length)
    assert(back.getBoolean(3), "length_ok must hold on the round trip")
    assert(back.getString(4) == text)
  }

  test("dedupStoreRecords: the first capture per digest writes a " +
      "response, refetches write revisits pointing at it; " +
      "resolveRevisits inverts the store") {
    val caps = Seq(
      ("https://e.com/a", "2020-01-01", "Payload P.", ""),
      ("https://e.com/a", "2020-01-08", "Payload P.", ""),
      // same payload at a DIFFERENT url — still a revisit of /a
      ("https://e.com/b", "2020-01-09", "Payload P.", ""),
      ("https://e.com/c", "2020-01-02", "Other Q.", ""))
      .toDF("url", "capture_date", "payload", "unused")
      .withColumn("digest", md5(col("payload"))).drop("unused")
    val recs = WarcOps.dedupStoreRecords(caps)
    val byKey = recs.collect().map(r => (r.getString(1), r.getString(2))
      -> (r.getString(4), r.getBoolean(5))).toMap
    assert(byKey(("https://e.com/a", "2020-01-01"))._2 == false)
    assert(byKey(("https://e.com/a", "2020-01-08"))._2 == true)
    assert(byKey(("https://e.com/b", "2020-01-09"))._2 == true)
    assert(byKey(("https://e.com/c", "2020-01-02"))._2 == false)
    val revisitRec = byKey(("https://e.com/b", "2020-01-09"))._1
    assert(revisitRec.contains("WARC-Type: revisit"))
    assert(revisitRec.contains(
      "WARC-Refers-To-Target-URI: https://e.com/a"))
    assert(revisitRec.contains("Content-Length: 0"))
    // the store round-trips: parse + resolve finds the original
    val files = recs.select(lit(0L).as("file_id"), col("record"))
      .groupBy("file_id")
      .agg(concat_ws("", collect_list(col("record"))).as("content"))
    val resolved = WarcOps.resolveRevisits(
      WarcOps.parseRecords(files, "file_id", "content"))
      .orderBy("target_uri").collect()
      .map(r => (r.getString(1), r.getString(4))).toSeq
    assert(resolved == Seq(
      ("https://e.com/a", "https://e.com/a"),
      ("https://e.com/b", "https://e.com/a")))
  }

  test("bomCharset + decodeBody utf-16: the BOM identifies the " +
      "charset from the view bytes and the decode round-trips with " +
      "the U+FEFF stripped") {
    import java.nio.charset.StandardCharsets
    val text = "Le café €5."
    def viewOf(bytes: Array[Byte]): String =
      new String(bytes, StandardCharsets.ISO_8859_1)
    val utf8 = viewOf("ï»¿".getBytes(
      StandardCharsets.ISO_8859_1)) + viewOf(
      text.getBytes(StandardCharsets.UTF_8))
    val le = "ÿþ" + viewOf(
      text.getBytes(StandardCharsets.UTF_16LE))
    val be = "þÿ" + viewOf(
      text.getBytes(StandardCharsets.UTF_16BE))
    val rows = Seq(("u8", utf8), ("le", le), ("be", be),
      ("none", "plain view"))
      .toDF("k", "v")
      .select(col("k"), HttpOps.bomCharset(col("v")).as("cs"),
        HttpOps.stripBom(HttpOps.decodeBody(col("v"),
          HttpOps.bomCharset(col("v")))).as("t"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2))).toMap
    assert(rows("u8") == ("utf-8", text))
    assert(rows("le") == ("utf-16le", text))
    assert(rows("be") == ("utf-16be", text))
    assert(rows("none")._1 == null)
    // no BOM -> NULL charset -> decodeBody's latin1 default (identity)
    assert(rows("none")._2 == "plain view")
  }
}
