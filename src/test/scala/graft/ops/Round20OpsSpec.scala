package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-20 units: the SURT urlkey, the CDXJ index write → parse →
  * seek loop, and the shipped non-latin C4 line profiles.
  */
class Round20OpsSpec extends SparkSpec {
  import spark.implicits._

  test("surtKey: host labels reverse, www/tracking/default-port strip, " +
      "path+query lowercase; root gets )/ ; ports survive; " +
      "non-absolute input is NULL") {
    val urls = Seq(
      (0L, "https://www.Example.com/A/b?q=1&utm_source=x"),
      (1L, "http://example.com:80/"),
      (2L, "http://shop.example.co.uk:8080/Sale"),
      (3L, "not a url")).toDF("doc_id", "url")
    val got = urls.select(UrlOps.surtKey(col("url"))).as[String]
      .collect().toSeq
    assert(got == Seq("com,example)/a/b?q=1", "com,example)/",
      "uk,co,example,shop:8080)/sale", null))
  }

  test("cdxjRecords: window offsets address the assembled file and the " +
      "line parses back field-for-field (write → parse round trip)") {
    val recs = Seq(
      (0L, 0L, "WARC/1.0\r\nA\r\n\r\nbody one\r\n\r\n",
        "https://example.com/a", "2020-03-01T00:00:00Z", "d1"),
      (0L, 1L, "WARC/1.0\r\nB\r\n\r\nsecond body\r\n\r\n",
        "https://example.com/b", "2020-03-02T12:34:56Z", "d2"))
      .toDF("file_id", "ord", "record", "url", "capture_date", "digest")
    val idx = WarcOps.cdxjRecords(recs, "file_id", Seq("ord"),
      dateCol = "capture_date").orderBy("ord")
    val rows = idx.select("urlkey", "cdxj_ts", "offset", "rec_length")
      .collect()
    assert(rows(0).getString(0) == "com,example)/a")
    assert(rows(0).getString(1) == "20200301000000")
    assert(rows(0).getLong(2) == 0L)
    assert(rows(1).getLong(2) == rows(0).getLong(3)) // offset = prev len
    val back = WarcOps.parseCdxj(idx.select("ord", "cdxj"), "cdxj")
      .orderBy("ord")
      .select("urlkey", "cdxj_ts", "url", "digest", "mime", "status",
        "offset", "rec_length", "filename")
      .collect()
    assert(back(1).getString(0) == "com,example)/b")
    assert(back(1).getString(1) == "20200302123456")
    assert(back(1).getString(2) == "https://example.com/b")
    assert(back(1).getString(3) == "d2")
    assert(back(1).getString(4) == "text/html")
    assert(back(1).getLong(5) == 200L)
    assert(back(1).getLong(6) == rows(0).getLong(3))
    assert(back(1).getString(8) == "0.warc")
  }

  test("property: random-payload store → index → SEEK recovers every " +
      "response payload byte-for-byte (30 docs, seeded)") {
    val rnd = new scala.util.Random(22)
    val pool = ('a' to 'z').mkString + ('0' to '9').mkString + " .,"
    val caps = (0 until 30).flatMap { i =>
      val p0 = Seq.fill(1 + rnd.nextInt(80))(
        pool(rnd.nextInt(pool.length))).mkString
      // even docs: second capture unchanged (a revisit); odd: changed
      val p1 = if (i % 2 == 0) p0
        else Seq.fill(1 + rnd.nextInt(80))(
          pool(rnd.nextInt(pool.length))).mkString
      Seq((i.toLong, 0L, s"https://ex.com/d/$i", "2020-01-01", p0),
        (i.toLong, 1L, s"https://ex.com/d/$i", "2020-01-02", p1))
    }.toDF("doc_id", "k", "url", "capture_date", "payload")
      .withColumn("digest", md5(col("payload")))
    val recs = WarcOps.dedupStoreRecords(caps)
      .withColumn("file_id", expr("doc_id div 8"))
    val idx = WarcOps.cdxjRecords(recs, "file_id", Seq("doc_id", "k"))
    val files = recs.groupBy("file_id")
      .agg(concat_ws("", array_sort(collect_list(
          struct(col("doc_id"), col("k"), col("record"))))
        .getField("record")).as("content"))
    val sliced = WarcOps.parseCdxj(
        idx.select(col("file_id"), col("doc_id"), col("k"), col("cdxj")),
        "cdxj")
      .join(files, Seq("file_id"))
      .select((col("doc_id") * 2 + col("k")).as("rid"),
        col("content").substr(col("offset").cast("int") + lit(1),
          col("rec_length").cast("int")).as("slice"))
    val reparsed = WarcOps.parseRecords(sliced, "rid", "slice")
    assert(reparsed.count() == 60L) // exactly one record per seek
    assert(reparsed.filter(!col("length_ok")).count() == 0L)
    val joined = reparsed
      .select((col("rid") / 2).cast("long").as("doc_id"),
        (col("rid") % 2).as("k"), col("warc_type"), col("payload"))
      .join(caps.withColumnRenamed("payload", "want"),
        Seq("doc_id", "k"))
    assert(joined.filter(col("warc_type") === "response" &&
      col("payload") =!= col("want")).count() == 0L)
    // even docs' second capture must be a body-less revisit
    assert(joined.filter(col("doc_id") % 2 === 0 && col("k") === 1)
      .filter(col("warc_type") =!= "revisit").count() == 0L)
  }

  test("parseCdxj: a malformed line degrades to NULL fields, never a " +
      "dead stage") {
    val got = WarcOps.parseCdxj(
      Seq((0L, "garbage-without-spaces")).toDF("id", "line"), "line")
      .select("urlkey", "url").head()
    assert(got.isNullAt(0) && got.isNullAt(1))
  }

  test("c4LineProfiles: danda/sof-pasuq/Greek-;/Arabic-? lines survive " +
      "with the shipped profiles and die under the English defaults") {
    val docs = Seq(
      (0L, "hi", "<p>यह एक नया वाक्य है जो जाँच के लिए लिखा गया है।</p>"),
      (1L, "he", "<p>זהו משפט חדש של המערכת לבדיקת האיכות של התוכן׃</p>"),
      (2L, "el", "<p>πού είναι το κείμενο για τον έλεγχο της ποιότητας;</p>"),
      (3L, "ar", "<p>هل هذا النص الجديد مفيد للتحقق من الجودة؟</p>"))
      .toDF("doc_id", "lang", "html")
    val prof = HtmlOps.c4LineProfiles
      .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
    val withProf = HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html", prof)
    assert(withProf.count() == 4L)
    val noProf = HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html",
      prof.filter(lit(false)))
    assert(noProf.count() == 0L)
  }
}
