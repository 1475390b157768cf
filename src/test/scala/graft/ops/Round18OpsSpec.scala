package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-18 wave 1: WAT records, the per-host crawl politeness cap,
  * sitemap revalidation, the jar-gated zstd/brotli content codings and
  * script precedence. The per-language Gopher profiles are in
  * [[TextOpsSpec]].
  */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  test("watRecord: WAT write -> parseRecords -> utf-8 decode -> " +
      "from_json round-trips links/title/headers with a true BYTE " +
      "Content-Length") {
    val title = "Page 1 — News" // em dash: 3 UTF-8 bytes
    val pages = Seq((1L, title, Seq("https://e.com/n", "/root/x"),
        Map("content-type" -> "text/html", "status" -> "200")))
      .toDF("doc_id", "title", "links", "headers")
    val wat = pages.select(lit(0L).as("file_id"),
      WarcOps.watRecord(lit("https://e.com/1"),
        lit("2020-03-01T00:00:00Z"),
        to_json(struct(col("title"), col("links"), col("headers"))))
        .as("content"))
    val back = WarcOps.parseRecords(wat, "file_id", "content")
      .withColumn("j", HttpOps.decodeBody(col("payload"), lit("utf-8")))
      .withColumn("m", expr("from_json(j, 'title STRING, " +
        "links ARRAY<STRING>, headers MAP<STRING,STRING>')"))
      .select(col("warc_type"), col("refers_to"), col("content_length"),
        col("length_ok"), col("j"), col("m.title"), col("m.links"),
        element_at(col("m.headers"), "status").as("st"))
      .collect()(0)
    assert(back.getString(0) == "metadata")
    assert(back.getString(1) == "https://e.com/1")
    val json = back.getString(4)
    // Content-Length is the JSON's BYTE count (em dash = 3 bytes)
    assert(back.getLong(2) ==
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
    assert(back.getLong(2) > json.length)
    assert(back.getBoolean(3), "length_ok must hold on the round trip")
    assert(back.getString(5) == title)
    assert(back.getSeq[String](6) == Seq("https://e.com/n", "/root/x"))
    assert(back.getString(7) == "200")
  }

  test("crawlFrontierIterate: the politeness cap is per HOST — two " +
      "hosts on one registered domain schedule independently") {
    def hub(host: String): (String, String) =
      (s"https://$host/hub", "<html><body>" +
        (0 to 5).map(k => s"""<a href="/a/$k">l</a>""").mkString +
        "</body></html>")
    val pages = Seq(hub("blog.example.com"), hub("shop.example.com"))
      .toDF("canon_url", "html")
    val seeds = pages.select("canon_url")
    val rules = RobotsOps.parseRules(
      Seq(("unrelated.example", "User-agent: *\nDisallow: /private\n"))
        .toDF("reg_domain", "robots_txt"), "graftbot")
    val out = CrawlOps.crawlFrontierIterate(pages, seeds, rules,
      maxHops = 2)
    val byHost = out.groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 6 candidates per host, cap 4 per HOST -> 4 + 4, one domain
    assert(byHost == Map("blog.example.com" -> 4L,
      "shop.example.com" -> 4L))
    assert(out.select("reg_domain").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("example.com"))
  }

  test("revalidationPlan: a sitemap lastmod NEWER than the last " +
      "capture upgrades the mode to unconditional (even over an ETag)" +
      " and boosts the priority by 10000") {
    val caps = Seq(
      ("https://e.com/a", "2020-01-01", "d1", "W/\"v1\"", null),
      ("https://e.com/a", "2020-01-10", "d2", "W/\"v2\"", null),
      ("https://e.com/b", "2020-01-01", "d3", "W/\"v3\"", null),
      ("https://e.com/b", "2020-01-10", "d4", "W/\"v4\"", null))
      .toDF("url", "capture_date", "digest", "etag", "last_modified")
    // a: declared newer than its last capture; b: declared OLDER
    val sm = Seq(("https://e.com/a", "2020-01-20"),
        ("https://e.com/b", "2020-01-05"))
      .toDF("url", "lastmod")
    val out = CrawlOps.revalidationPlan(caps, "2020-02-01",
        sitemapLastmod = sm)
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getLong(6))).toSeq
    // both: 1 change / 9-day span, 22 days stale -> base 22 * 1111
    assert(out == Seq(
      ("https://e.com/a", "unconditional", null, true,
        22L * 1111L + 10000L),
      ("https://e.com/b", "if-none-match", "W/\"v4\"", false,
        22L * 1111L)))
  }

  test("zstd content coding: the jar-gated kernel decodes for real " +
      "when zstd-jni is present (it ships with Spark); malformed and " +
      "empty input NULL, never throw") {
    import graft.functions.ZstdToString
    // Spark's own classpath carries zstd-jni — the gate must be OPEN
    assert(ZstdToString.available,
      "zstd-jni missing from a Spark classpath?")
    val text = "zstd body — prêt"
    val view = new String(text.getBytes("UTF-8"), "ISO-8859-1")
    val raw = view.toCharArray.map(_.toByte)
    val comp = com.github.luben.zstd.Zstd.compress(raw)
    val got = ZstdToString.compute(comp)
    assert(got != null && got.toString == view)
    assert(ZstdToString.compute("garbage".getBytes("ISO-8859-1")) == null)
    assert(ZstdToString.compute(Array.emptyByteArray) == null)
    // and through the HTTP content-coding routing
    val compView = comp.map(b => (b & 0xFF).toChar).mkString
    val out = Seq(compView).toDF("b")
      .select(HttpOps.decodeContentCoding(col("b"), lit("zstd")).as("o"))
      .head().getString(0)
    assert(out == view)
  }

  test("brotli content coding: the gate reports the classpath truth; " +
      "garbage is a NULL row on either side of the gate, never a throw") {
    import graft.functions.BrotliToString
    val bogus = "not brotli at all".getBytes("ISO-8859-1")
    // whichever side of the gate this classpath is on, the contract
    // is the same observable: garbage -> NULL, no exception
    assert(BrotliToString.compute(bogus) == null)
    if (!BrotliToString.available) {
      // without org.brotli:dec the routing stays the auditable NULL
      // miss the coding produced before the gate existed
      val out = Seq("anything").toDF("b")
        .select(HttpOps.decodeContentCoding(col("b"), lit("br")).as("o"))
        .head().getString(0)
      assert(out == null)
    }
  }

  test("scriptLangId: script precedence — kana beats kanji, hangul " +
      "beats han, han-only is zh, latin is und; langIdRouted falls " +
      "through to the trigram tier") {
    val docs = Seq(
      (0L, "漢字だけでなくかなもある。"), // kanji + hiragana -> ja
      (1L, "한자漢字도 섞인 한국어."),        // hangul + han -> ko
      (2L, "纯中文文本。"),                  // han only -> zh
      (3L, "ตัวอย่างข้อความ"),               // thai -> th
      (4L, "the study of the river and the land."), // latin -> und/en
      (5L, ""))                              // empty -> und
      .toDF("doc_id", "text")
    val got = TextOps.langIdRouted(docs).orderBy("doc_id")
      .select("script_lang", "pred_lang").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("ja", "ja"), ("ko", "ko"), ("zh", "zh"),
      ("th", "th"), ("und", "en"), ("und", "und")))
    // the counts are codepoint-exact
    val r0 = TextOps.scriptLangId(docs).filter(col("doc_id") === 0).head()
    assert(r0.getAs[Long]("n_han") == 2L)   // 漢字
    assert(r0.getAs[Long]("n_hira") == 10L) // だけでなくかなもある
  }
}
