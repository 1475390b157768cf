package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.ops.{BpeOps, ClassifyOps, CrawlOps, DedupOps, DsirOps, GraphOps, HtmlOps, HttpOps, JoinOps, LmOps, RobotsOps, SampleOps, SitemapOps, StatOps, TextOps, TimeOps, UrlOps, VectorOps, WarcOps}
import graft.sources.Tables

/** Training-data-pipeline extension operators (BASELINE.json north star),
  * wired over the `documents` / `embeddings` fixtures with exact DuckDB
  * oracles. Determinism rests on the TextOps cross-engine contract:
  * md5-derived hashes, left-fold double sums, floor-based basis points.
  *
  * Thresholds were calibrated on the fixtures (sf0.01): word-3gram Jaccard
  * near-dups at 0.99 vs 0.025 background → threshold 0.5; simhash planted
  * pairs at hamming ≤3 vs median 19; max embedding cosine 0.51 vs p99 0.29
  * → near-dup threshold 0.45.
  */
object ExtensionQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The documents/embeddings fixtures arrive as ONE small parquet file —
    * a single scan task — while at production scale the same corpus arrives
    * in thousands of partitions. Spread the raw rows round-robin so the
    * per-row kernels (md5 shingles, minhashes, regex chains, vector dots)
    * use every core: without this the whole first stage of each dedup/text
    * query serializes through one task. The shuffle moves only the tiny
    * fixture (a few MB); on a real multi-file corpus it is unnecessary and
    * a caller would drop it.
    */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Guard: only pay the shuffle when the input is actually under-split
    // (the single-file fixture case). A production corpus already arriving
    // in >= p/2 files passes through untouched, so callers copying these
    // query definitions don't inherit a gratuitous repartition.
    // inputFiles (a catalog listing) instead of rdd.getNumPartitions: the
    // rdd probe materialized the physical RDD lineage on the driver per
    // query invocation just to read a count. File COUNT is a conservative
    // stand-in for partition count (a file can split into several
    // partitions, never fewer), so the repartition fires at most as often
    // as before; a non-file plan (inputFiles empty) passes through
    // untouched — every spread() call site reads a parquet fixture.
    // max(..., 2): on a <= 3-core session p/2 rounds to <= 1 and a
    // single-file fixture would never repartition — serializing the
    // regex/shingle stage through one task, the exact thing this exists
    // to prevent
    val nFiles = df.inputFiles.length
    if (nFiles > 0 && nFiles < math.max(p / 2, 2)) df.repartition(p) else df
  }

  /** Respread an ASSEMBLED container table (one row per synthesized
    * .warc/.warc.gz file) across the session's cores before its decode
    * chain (r20, guide §2.5's unsplittable-gzip remedy). The
    * groupBy(file_id) that builds these files moves only a few MB, so
    * AQE's byte-based coalescing narrows the post-shuffle stage to 1-2
    * partitions — and the whole downstream kernel cascade
    * (gunzip → WARC split → HTTP envelope → charset/PDF → html→text)
    * plus every localCheckpoint inherits that width, serializing the
    * compute-heavy decode on 1-2 of the session's cores (measured on
    * x176 at sf0.1: the four decode/router stages ran 1-2 tasks each —
    * ~5.4 s of a 13.6 s run on a 32-core session). Decompression
    * fan-out is exactly the cost AQE's byte model cannot see; one cheap
    * round-robin exchange of file-count-sized rows right after assembly
    * restores compute-proportional width at any scale
    * (defaultParallelism), and values are untouched — every downstream
    * stage is keyed or per-row.
    */
  private def respread(files: DataFrame): DataFrame =
    files.repartition(
      files.sparkSession.sparkContext.defaultParallelism)

  /** A Catalyst expression builder (a kernel with no Column API, e.g.
    * [[graft.functions.GzipBytes]]) applied to a Column.
    */
  private def bridge1(mk: Expression => Expression, c: Column): Column =
    Bridge.column(mk(Bridge.expression(c)))

  /** Brute-force ANN ground truth: x25's cosine top-5 for the 20 query
    * vectors, without its output order — the set every recall gate
    * (x61, x63, x91, x112, x126) grades against.
    */
  private def annTruth(s: SparkSession, dir: String): DataFrame = {
    val e = spread(t(s, dir, "embeddings"))
    VectorOps.bruteForceTopK(e.filter(col("vec_id") < 20), e, "vec_id",
      "embedding", 5)
  }

  /** The x63 trained codebook (kmeansCentroidsExact, k=32, 2 Lloyd
    * rounds) — deterministic in (dir), k×dim driver floats.
    */
  private def trainedCodebook(s: SparkSession, dir: String): Array[Array[Float]] =
    VectorOps.kmeansCentroidsExact(spread(t(s, dir, "embeddings")),
      "vec_id", "embedding", k = 32, iters = 2)

  /** Learned BPE merge list (8 rules) for the documents fixture — the
    * tokenizer model, deterministic in (dir); the x70 (train) and x71
    * (tokenize) gates each train it.
    */
  private val BpeMergeCount = 8
  private def bpeMergesOf(s: SparkSession, dir: String): Seq[BpeOps.Merge] =
    BpeOps.trainMerges(spread(t(s, dir, "documents")), BpeMergeCount)._1

  /** Int8 quantization scale for the embeddings fixture — index metadata
    * like the codebook (127/max|component|, one corpus aggregate).
    */
  private def sqScaleOf(s: SparkSession, dir: String): Double =
    VectorOps.sqScale(t(s, dir, "embeddings"), "embedding")

  /** TRAINED PQ codebooks (per-subspace kmeansCentroidsExact, 2 Lloyd
    * rounds — [[VectorOps.pqTrainedCodebooks]]) for the x126 gate —
    * index metadata like the seed codebooks, deterministic in (dir); a
    * production pipeline trains them once per corpus and persists them
    * via ModelIO.savePqCodebooks.
    */
  private def pqTrainedCodebooksOf(s: SparkSession, dir: String,
                                   ksub: Int): Array[Array[Array[Float]]] =
    VectorOps.pqTrainedCodebooks(spread(t(s, dir, "embeddings")),
      "vec_id", "embedding", m = 4, ksub = ksub, iters = 2)

  /** The x66 serving plan (IVF-SQ8 over the given trained codebook),
    * without its output order — x66 and x63's `ivf_q8` arm share it, and
    * x63 passes the codebook its `ivf_trained` arm already trained.
    */
  private def annQuantized(s: SparkSession, dir: String,
                           codebook: Seq[Array[Float]]): DataFrame = {
    val e = spread(t(s, dir, "embeddings"))
    VectorOps.ivfTopKQuantizedWithCentroids(e.filter(col("vec_id") < 20),
      e, "vec_id", "embedding", 5, codebook, sqScaleOf(s, dir), nProbe = 4)
  }

  /** The x149 capture history: three weekly captures `k` per doc URL;
    * `version` changes every capture on `doc_id % 3 == 0`, once (at the
    * third) on `== 1`, never on `== 2`. Columns (doc_id, k, url,
    * capture_date, version).
    */
  private def captureHistory(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("k"))
      .withColumn("url", docUrl)
      .withColumn("capture_date", concat(lit("2020-01-"),
        lpad((lit(1) + col("doc_id") % 9 + col("k") * 7)
          .cast("string"), 2, "0")))
      .withColumn("version",
        when(col("doc_id") % 3 === 0, col("k"))
          .when(col("doc_id") % 3 === 1,
            when(col("k") >= 2, lit(1)).otherwise(lit(0)))
          .otherwise(lit(0)))

  /** [[captureHistory]] with each capture's payload text and its md5
    * `digest` — the x165/x167/x178 dedup-store input.
    */
  private def storeCaptures(d: DataFrame): DataFrame =
    captureHistory(d)
      .withColumn("payload", concat(lit("Body v"),
        col("version").cast("string"), lit(" of doc "),
        col("doc_id").cast("string"), lit(".")))
      .withColumn("digest", md5(col("payload")))

  /** The columns of a `TextOps.gopherFilterByLang` profile table. */
  private val GopherProfileCols = Seq("lang", "stop_words", "min_stop_hits",
    "min_words", "max_words", "min_word_len_centi", "max_word_len_centi",
    "min_alpha_bp")

  /** The x168/x174 Gopher funnel over labelled docs `(doc_id, text,
    * lang)`: docs and tokens per lang, raw, under the English-only
    * config and under the per-language `profiles`.
    */
  private def gopherFunnel(lang: DataFrame, profiles: DataFrame): DataFrame = {
    val eng = TextOps.gopherFilter(lang, "text", minWords = 10L)
      .filter(col("keep"))
    val aware = TextOps.gopherFilterByLang(lang, profiles)
      .filter(col("keep"))
    StatOps.funnelReportBy(
        Seq("raw" -> lang, "english_cfg" -> eng, "lang_aware" -> aware),
        size(split(col("text"), " ")), "lang")
      .orderBy("stage_idx", "lang")
  }

  /** The capstone fixture texts (x176) — the x168/x172 paragraphs for
    * en/fr (already verified to win their trigram routes with margin),
    * a long-enough ja paragraph that the CJK share stays dominant over
    * the page's latin ref/boilerplate lines, and the shared boilerplate
    * line the C4 javascript rule must eat. ONE definition each,
    * interpolated verbatim into the oracle.
    */
  private def capEnPara = langEnText
  private def capFrPara = langFrText
  private def capFrStops = langFrStops
  private val capJaPara = "これは日本語で書かれた長い記事でありたくさんの" +
    "文字と内容を含んでいますまた本文はとても豊富で読みやすいです。"
  private val capJsLine = "please enable javascript to continue now."

  /** The latin1 VIEW of a string's windows-31j (WHATWG shift_jis)
    * bytes — computed once at plan-definition time on the driver, so
    * the fixture ships REAL legacy-charset bytes without an in-plan
    * encoder (Spark's `encode` stops at the UTF families).
    */
  private def sjisView(s: String): String =
    new String(s.getBytes("windows-31j"), "ISO-8859-1")

  /** The latin1 VIEW of a text's UTF-16BE bytes WITH the FE FF BOM —
    * the ISO 32000-1 §7.9.2.2 text-string encoding the x175 UTF-16BE
    * arm plants (driver-side constant, like [[sjisView]]). The x175
    * fixture texts are chosen with no 0x28/0x29/0x5C/0x0A/0x0D bytes
    * in their UTF-16BE form, so the literal-string escapes never fire.
    */
  private def u16beView(s: String): String =
    new String(("\uFEFF" + s).getBytes("UTF-16BE"), "ISO-8859-1")

  /** The same BOM + UTF-16BE bytes as uppercase hex digits — the PDF
    * hex-string (`<…>`) form of [[u16beView]].
    */
  private def u16beHex(s: String): String =
    ("\uFEFF" + s).getBytes("UTF-16BE")
      .map(b => f"${b & 0xFF}%02X").mkString

  /** The x175 arm-4 fixture texts — ONE definition each, mirrored
    * verbatim into the oracle's recomputed targets.
    */
  private val pdfJaHeadline = "見出し: 日本語のページです。"
  private val pdfJaSecond = "第二行です。"

  /** The x177 per-script C4 fixtures (r20, VERDICT r19 #4, the x169
    * pattern): per script, one sentence ending in the script's OWN
    * terminal character — which the English defaults silently eat —
    * and one ending in the ASCII period both rule sets keep; plus the
    * global too-short and javascript lines every arm must drop. ONE
    * definition each, interpolated into the oracle.
    */
  private def scriptArmHtml(qLine: String, okLine: String): String =
    "<html><body><p>" + qLine + "</p><p>" + okLine + "</p>" +
      "<p>too short.</p>" +
      "<p>please enable javascript to continue now.</p></body></html>"
  private val c4ElHtml = scriptArmHtml(
    "πού είναι το νέο κείμενο για τον έλεγχο της ποιότητας;",
    "αυτό είναι ένα καλό κείμενο για όλους.")
  private val c4HeHtml = scriptArmHtml(
    "זהו משפט חדש של המערכת לבדיקת האיכות של התוכן׃",
    "זהו טקסט טוב לבדיקה של הכל.")
  private val c4HiHtml = scriptArmHtml(
    "यह एक नया वाक्य है जो जाँच के लिए लिखा गया है।",
    "यह एक अच्छा वाक्य है.")
  private val c4ArHtml = scriptArmHtml(
    "هل هذا النص الجديد مفيد للتحقق من الجودة؟",
    "هذا نص جيد للاختبار.")

  /** [[graft.ops.HtmlOps.c4LineProfiles]] as DuckDB VALUES rows — the
    * ONE shipped profile definition, interpolated so the mirror cannot
    * drift from the engine's table.
    */
  private def c4ProfileRowsSql: String = graft.ops.HtmlOps.c4LineProfiles
    .map { case (l, tc, mw, mc) =>
      s"('$l', [${tc.map(c => "'" + c + "'").mkString(",")}], $mw, $mc)"
    }.mkString(", ")

  /** The x168/x169 language fixtures — ONE definition each, mirrored
    * verbatim in the oracle SQL (interpolated, so they cannot drift).
    * Texts are hand-built so the x18 trigram profiles label them
    * correctly and the Gopher signal arithmetic is hand-checkable.
    */
  private val langEnText = "the quick study of the river and the stone " +
    "that people have kept with care over time."
  private val langFrText = "le temps et la vie de la mer ont été un " +
    "moment prudent dans le coin du monde."
  private val langDeText = "der weg und die zeit durch den wald sind " +
    "ein stück von dem leben geworden und bleiben."
  private val langJaText = "日本語のテキストです。ひらがなとカタカナも漢字も入っています。"
  private val langKoText = "한국어 텍스트입니다. 웹 페이지의 내용입니다."
  private val langZhText = "中文网页的正文内容，包含许多汉字。"
  private val langThText = "ข้อความภาษาไทยสำหรับการทดสอบ"

  /** The r19 router fixtures (x172 mixed arm, x173, x174): one planted
    * text per routed language, hand-built so its own profile strictly
    * beats every other profile IN ITS SCRIPT GROUP (ties lose to the
    * lexicographically-larger lang, so strict wins are required), and
    * the mixed-script arm — the x168 en text quoting one kana phrase,
    * whose CJK share (5 of ~90 non-space codepoints ≈ 550 bp) sits far
    * under ScriptShareBp so the router must keep it `en`.
    */
  private val langEnMixedText = "the quick study of the river and the " +
    "stone that people said ありがとう one day have kept with care over time."
  private val langItText = "il lavoro di questa organizzazione che si " +
    "trova nella villa era una grande visione per il territorio."
  private val langPtText = "uma grande parte de tudo para o futuro da " +
    "cidade foi um processo de organização para todos os grupos."
  private val langNlText = "het werk van een aantal mensen in het " +
    "gebouw was een goede zaak voor de wijk en de maatschappij."
  private val langPlText = "nie ma czasu na nie i na pytanie o tego " +
    "rodzaju sprawy przy pracy gdzie wszystko jest teraz inne."
  private val langRuText = "это новое сообщение на русском языке не " +
    "только для проверки работы но и для оценки качества на сайте."
  private val langUkText = "це нове повідомлення українською мовою і " +
    "багато інших текстів що існують для перевірки якості роботи."
  private val langArText = "هذا النص الجديد في الموقع من أجل الاختبار " +
    "والتحقق من جودة المحتوى في كل مكان."
  private val langFaText = "این متن جدید برای آزمایش است که می تواند " +
    "کیفیت های مختلف را در همه جا نشان دهد."
  private val langElText = "αυτό είναι ένα νέο κείμενο για τον έλεγχο " +
    "και την αξιολόγηση της ποιότητας του περιεχομένου."
  private val langHeText = "זהו טקסט חדש של המערכת שבו יש את כל המילים " +
    "הדרושות לבדיקה של האיכות ושל התוכן."
  private val langHiText = "यह एक नया पाठ है जो सभी के लिए हिंदी में लिखा " +
    "गया है और इसका उपयोग जाँच के लिए होता है।"
  private val langFrStops =
    Seq("le", "la", "les", "de", "du", "des", "et", "un", "une", "en")
  private val langDeStops =
    Seq("der", "die", "und", "das", "von", "mit", "den", "dem", "ein", "zu")
  private val langRuStops =
    Seq("и", "в", "на", "не", "для", "но", "это", "что", "как", "по")
  private val langArStops =
    Seq("في", "من", "على", "هذا", "أن", "إلى", "كل", "عن", "مع", "أو")
  private val langElStops =
    Seq("και", "το", "της", "για", "τον", "την", "είναι", "με", "να", "του")
  private val langHeStops =
    Seq("של", "את", "על", "עם", "כל", "זה", "גם", "או", "אם", "יש")
  private val langHiStops =
    Seq("है", "के", "में", "से", "और", "यह", "का", "की", "को", "पर")
  private val langEnHtml = "<html><body>" +
    "<p>this line has enough words to pass.</p>" +
    "<p>too short.</p>" +
    "<p>enable javascript to continue please now.</p>" +
    "</body></html>"
  private val langJaHtml = "<html><body>" +
    "<p>これは日本語の文です。</p>" +
    "<p>はい。</p>" +
    "<p>あ。</p>" +
    "<p>これはテストです</p>" +
    "</body></html>"

  /** The planted-HTML synthesis shared by x127 and x128 — ONE definition
    * (the refreshSnapshot rule): head with style (braces) and script
    * (angle brackets, quotes), heading, paragraph breaks carved at
    * ' window ' word boundaries, entity-encoded chrome — named AND
    * numeric references (decimal, hex, punct-range, plus a
    * leading-zero and an out-of-range ref that must STAY literal, the
    * r16 DecodeHtmlEntities bounds) — a javascript banner, a
    * cross-page legal footer, and a comment hiding tagged content.
    * Mirrored verbatim by [[htmlSynthSql]].
    */
  private def htmlFixture: Column = concat(
    lit("<html><head><title>t</title><style>body { margin: 0; }</style>"),
    lit("<script>var x = \"a < b && c > d\";</script></head><body><h1>Doc "),
    col("doc_id").cast("string"), lit("</h1><p>"),
    replace(col("text"), lit(" window "), lit(".</p><p>")),
    lit(".</p><div>Research &amp; development data here&#46;</div>"),
    lit("<p>Please enable JavaScript to view comments here.</p>"),
    lit("<p>Teams&#8217; data &#8212; all rights reserved&#44; " +
      "terms &amp; conditions apply&#x2e;</p>"),
    lit("<p>Raw refs &#039; and &#1500; must stay literal here.</p>"),
    lit("<!-- hidden <p>Not real content.</p> --></body></html>"))

  /** The chrome-heavy page synthesis for x151 — ONE definition,
    * mirrored verbatim by the x151 oracle's `h` CTE: two link-bar divs
    * (header nav + sidebar) whose sentences pass the C4 LINE rules but
    * are ~100% anchor text, the article body (the htmlFixture
    * paragraph carving) plus one LOW-density inline link, a link
    * footer, and a trailing single-block content island that must lose
    * the best-run contest.
    */
  private def mainContentFixture: Column = concat(
    lit("<html><head><style>nav { margin: 0; }</style></head><body>" +
      "<div><a href=\"/home\">Home is where you always start browsing " +
      "today.</a> <a href=\"/about\">About the team behind everything " +
      "we publish here.</a></div>" +
      "<div><a href=\"/feed\">Read another interesting article right " +
      "now.</a> <a href=\"/news\">Follow our popular newsletter for " +
      "updates here.</a></div><p>"),
    replace(col("text"), lit(" window "), lit(".</p><p>")),
    lit(".</p><p>See the complete and current <a href=\"/ref\">" +
      "reference guide</a> for all further details about entry "),
    col("doc_id").cast("string"),
    lit(" today.</p>" +
      "<div><a href=\"/contact\">Contact our support department for " +
      "more information.</a> <a href=\"/legal\">Legal notices and " +
      "privacy policy all live here.</a></div>" +
      "<p>Subscribe to our monthly newsletter for curated updates soon "),
    col("doc_id").cast("string"),
    lit(".</p></body></html>"))

  /** One synthesized WARC record (version line, headers, blank line,
    * payload, record terminator) — shared by every WARC fixture.
    */
  private def warcRecordSynth(tpe: String, uri: Column, date: Column,
                              payload: Column,
                              extra: Column = lit("")): Column =
    concat(lit("WARC/1.0\r\nWARC-Type: " + tpe + "\r\n"),
      when(uri.isNotNull,
        concat(lit("WARC-Target-URI: "), uri, lit("\r\n")))
        .otherwise(lit("")),
      lit("WARC-Date: "), date, lit("\r\n"), extra,
      lit("Content-Length: "), length(payload).cast("string"),
      lit("\r\n\r\n"), payload, lit("\r\n\r\n"))

  /** The per-doc columns the fixtures share: files of 8 docs
    * (`doc_id / 8`), the doc's URL (the WARC Target-URI) and its
    * `2020-01-DD` WARC date.
    */
  private def warcFileId: Column =
    (col("doc_id") / 8).cast(LongType).as("file_id")
  private def docUrl: Column =
    concat(lit("https://example.com/doc/"), col("doc_id").cast("string"))
  private def warcDate: Column = concat(lit("2020-01-"),
    lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
    lit("T00:00:00Z"))

  /** The doc id back out of a parsed record's [[docUrl]] `target_uri`. */
  private def uriDocId: Column = nullif(regexp_extract(col("target_uri"),
    "/doc/([0-9]+)$", 1), lit("")).cast(LongType).as("doc_id")

  /** One warcinfo record per file of `base` (fixed payload, no
    * Target-URI) at `ord_doc = -1`, so it sorts first in its file;
    * `sortCols` fill any sort columns between `ord_doc` and `r`.
    */
  private def warcInfoRecords(base: DataFrame, sortCols: Column*): DataFrame =
    base.select(col("file_id")).distinct()
      .select(Seq(col("file_id"), lit(-1L).as("ord_doc")) ++ sortCols :+
        warcRecordSynth("warcinfo", lit(null).cast("string"),
          lit("2020-01-01T00:00:00Z"),
          lit("software: graft-synth/1.0")).as("r"): _*)

  /** Assemble records `(file_id, <sortKeys>, r)` into files: each file's
    * `r` concatenated in `sortKeys` order. Returns `(file_id, content)`.
    */
  private def warcFiles(recs: DataFrame, sortKeys: String*): DataFrame =
    respread(recs.groupBy("file_id")
      .agg(concat_ws("", array_sort(collect_list(
          struct((sortKeys :+ "r").map(col): _*))).getField("r"))
        .as("content")))

  /** The HTTP-in-WARC file shape: per file a warcinfo record, then one
    * response record per doc whose payload is the HTTP message `http`
    * (an expression over `cols`, selected beside `doc_id`/`file_id`).
    * Plain-text files `(file_id, content)`; with `gz`, every record is
    * its own gzip member, concatenated in record order: `(file_id, gz)`.
    */
  private def warcHttpFiles(d: DataFrame, cols: Seq[Column], http: Column,
                            gz: Boolean = false,
                            date: Column = warcDate): DataFrame = {
    val base = d.select(col("doc_id") +: warcFileId +: cols: _*)
    val resp = base.withColumn("__http", http)
      .select(col("file_id"), col("doc_id").as("ord_doc"),
        warcRecordSynth("response", docUrl, date, col("__http")).as("r"))
    val recs = warcInfoRecords(base).unionByName(resp)
    if (!gz) warcFiles(recs, "ord_doc")
    else respread(recs
      .select(col("file_id"), col("ord_doc"),
        WarcOps.gzipMember(col("r")).as("g"))
      .groupBy("file_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("ord_doc"), col("g"))))
          .getField("g"),
        lit(Array.emptyByteArray),
        (acc, x) => concat(acc, x)).as("gz")))
  }

  /** The C4 pages of the 200 text/html responses among WARC `pages`
    * that pass every `keep` test, the page html being `html` over the
    * parsed HTTP envelope — the x139 family's route.
    */
  private def c4ResponsePages(pages: DataFrame, html: Column,
                              keep: Column*): DataFrame = {
    val routed = HttpOps.parseResponses(pages, "payload")
      .filter((Seq(col("status_code") === 200,
        col("content_type") === "text/html") ++ keep).reduce(_ && _))
      .select(uriDocId, html.as("html"))
    HtmlOps.c4Pages(routed, "doc_id", "html")
      .select("doc_id", "n_lines", "text")
      .orderBy("doc_id")
  }

  /** WARC-file synthesis over the x127 HTML pages — ONE definition
    * shared by x129 and x130, mirrored verbatim by [[warcSynthCtesSql]]:
    * files of 8 docs (`doc_id / 8`), one warcinfo record per file
    * (fixed payload, no Target-URI), a request record for every
    * `doc_id % 3 == 0` doc, and a response record per doc whose payload
    * is the [[htmlFixture]] page; records concatenated in
    * (ord_doc, kind) order. Returns `(file_id, content)`.
    */
  private def warcFixture(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), warcFileId, htmlFixture.as("html"))
    val req = base.filter(col("doc_id") % 3 === 0)
      .select(col("file_id"), col("doc_id").as("ord_doc"),
        lit(0).as("sub"),
        warcRecordSynth("request", docUrl, warcDate,
          concat(lit("GET /doc/"), col("doc_id").cast("string"),
            lit(" HTTP/1.1"))).as("r"))
    val resp = base.select(col("file_id"), col("doc_id").as("ord_doc"),
      lit(1).as("sub"),
      warcRecordSynth("response", docUrl, warcDate, col("html")).as("r"))
    warcFiles(warcInfoRecords(base, lit(0).as("sub"))
      .unionByName(req).unionByName(resp), "ord_doc", "sub")
  }

  /** The `.warc.gz`+HTTP synthesis for x139 — the BYTE/HTTP-faithful
    * tier a real Common Crawl file ships: each doc's x127 HTML page
    * wrapped in an HTTP/1.1 200 message (status line, Content-Type
    * with charset, Content-Length, blank line, body), that message as
    * a WARC response record's payload, EACH record gzipped into its
    * own member ([[graft.ops.WarcOps.gzipMember]] — per-record members
    * are what make `.warc.gz` seekable), members concatenated per file
    * (the `doc_id / 8` warcFixture grouping) in record order, plus a
    * gzipped warcinfo member per file. Returns `(file_id, gz)`.
    * Deliberately NOT SQL-mirrored — DuckDB cannot gunzip; the x139
    * oracle is the independently-recomputed x128 target (see the
    * query comment).
    */
  private def warcGzHttpFixture(d: DataFrame): DataFrame = {
    // the accent-line page (the x147 synthesis), shipped as REAL UTF-8
    // bytes: the record carries the latin1 VIEW of those bytes, so the
    // gzip member, the WARC/HTTP lengths, and the charset decode are
    // all exercised on non-ASCII content (ADVICE r16)
    val httpMsg = concat(
      lit("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n" +
        "Content-Length: "), length(col("html")).cast("string"),
      lit("\r\n\r\n"), col("html"))
    warcHttpFiles(d,
      Seq(decode(encode(accentPage, "UTF-8"), "ISO-8859-1").as("html")),
      httpMsg, gz = true)
  }

  /** The chunked-HTTP synthesis for x144: each doc's x127 page split at
    * a fixed 64-character boundary into two chunks (the htmlFixture
    * chrome guarantees length > 64), sizes as Spark's uppercase hex of
    * the OCTET length (chunk sizes are byte counts), a chunk extension
    * on the first chunk and a trailer field after the terminal chunk
    * (both must be dropped by the decoder), wrapped in a 200 response
    * with `Transfer-Encoding: chunked` (and NO Content-Length — RFC
    * 9112 §6.2 forbids both), framed as plain-text WARC records per
    * the warcFixture grouping. Returns `(file_id, content)`.
    * Deliberately NOT SQL-mirrored — the x144 oracle is the
    * independently-recomputed x128 target (the x139 convention).
    */
  private def warcChunkedHttpFixture(d: DataFrame): DataFrame = {
    // chunk sizes count view chars (= original bytes, the r17
    // DechunkBody convention; this ASCII fixture's chars ARE its bytes)
    val c1 = substring(col("html"), 1, 64)
    val c2 = substring(col("html"), 65, Int.MaxValue - 64)
    val chunked = concat(
      hex(length(c1)), lit(";p=graft\r\n"), c1, lit("\r\n"),
      hex(length(c2)), lit("\r\n"), c2,
      lit("\r\n0\r\nX-Graft-Trailer: t\r\n\r\n"))
    val httpMsg = concat(
      lit("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n"), chunked)
    warcHttpFiles(d, Seq(htmlFixture.as("html")), httpMsg)
  }

  /** The revisit synthesis for x146 — docs grouped by 3: head stores
    * the group payload as a `response`, the next doc stores the SAME
    * payload at its own URL (duplicate content, also a response), the
    * third is a body-less `revisit` carrying the group digest
    * (`md5:<hex>` — md5 is the portable digest both engines compute
    * identically; real crawls use sha1:BASE32) and a Refers-To header
    * naming the head. Returns `(file_id, content)`; mirrored verbatim
    * by the x146 oracle CTEs.
    */
  private def warcRevisitFixture(d: DataFrame): DataFrame = {
    val grp = col("doc_id") - (col("doc_id") % 3)
    val base = d.select(col("doc_id"), warcFileId,
      concat(lit("snapshot of group "), grp.cast("string"),
        lit(" stable content")).as("pay"),
      grp.as("grp"))
    val digest = concat(lit("WARC-Payload-Digest: md5:"), md5(col("pay")),
      lit("\r\n"))
    val refers = concat(lit("WARC-Refers-To-Target-URI: "),
      lit("https://example.com/doc/"), col("grp").cast("string"),
      lit("\r\n"))
    val rec = when(col("doc_id") % 3 < 2,
        warcRecordSynth("response", docUrl, warcDate, col("pay"), digest))
      .otherwise(
        warcRecordSynth("revisit", docUrl, warcDate, lit(""),
          concat(digest, refers)))
    warcFiles(base.select(col("file_id"), col("doc_id").as("ord_doc"),
      rec.as("r")), "ord_doc")
  }

  /** The accented-page line appended for x147/x139 — ONE definition,
    * quoted verbatim by the oracles' `h2` CTEs.
    */
  private val AccentLineHead = "<p>Le résumé du café "
  private val AccentLineTail = " est prêt.</p></body></html>"

  /** The windows-1252 page line for the x147 cp1252 arm — smart
    * quotes, an em dash, an ellipsis, a curly apostrophe (all in
    * cp1252's 0x80–0x9F range, where it DIFFERS from latin1) plus
    * latin1-range accents (identical in both charsets). ONE
    * definition, quoted verbatim by the oracle.
    */
  private val Cp1252LineHead =
    "<p>Smart “quotes” — the café’s menu "
  private val Cp1252LineTail =
    " is prêt… ready.</p></body></html>"

  /** [[htmlFixture]] with `head <doc_id> tail` as its closing line. */
  private def htmlFixtureWithLine(head: String, tail: String): Column =
    regexp_replace(htmlFixture, lit("</body></html>$"),
      concat(lit(head), col("doc_id").cast("string"), lit(tail)))

  /** The accented page of x139/x147/x150 and their successors. */
  private def accentPage: Column =
    htmlFixtureWithLine(AccentLineHead, AccentLineTail)

  /** The charset synthesis for x147, three arms on `doc_id % 3`, each
    * shipping in the LATIN1-VIEW convention:
    *
    *  - arm 0: the accented page as REAL UTF-8 bytes (the view shows
    *    mojibake until [[graft.ops.HttpOps.decodeBody]] reinterprets);
    *  - arm 1: the same page as latin1 bytes (view == text);
    *  - arm 2 (r17, VERDICT r16 #2): a page with cp1252-only
    *    punctuation (curly quotes, em dash, ellipsis) as REAL
    *    windows-1252 bytes — its 0x80–0x9F view chars differ from the
    *    text in exactly the 27 codepoints decodeBody's translate arm
    *    maps ([[graft.ops.HttpOps.Cp1252ViewChars]], the ONE table
    *    shared with the decoder).
    *
    * HTTP Content-Length is the exact BYTE count (the view's char
    * count — the whole point of the convention). Returns
    * `(file_id, content)`; oracle = independent recompute (DuckDB
    * does not transcode).
    */
  private def warcCharsetFixture(d: DataFrame): DataFrame = {
    val arm = col("doc_id") % 3
    val html = when(arm === 2,
        htmlFixtureWithLine(Cp1252LineHead, Cp1252LineTail))
      .otherwise(accentPage)
    val cs = when(arm === 0, lit("utf-8"))
      .when(arm === 1, lit("iso-8859-1"))
      .otherwise(lit("windows-1252"))
    val view = when(arm === 0,
        decode(encode(col("html"), "UTF-8"), "ISO-8859-1"))
      .when(arm === 1, col("html"))
      // cp1252 ENCODE as a translate: the 27 special chars map to
      // their byte-view selves; latin1-range chars are their own bytes
      .otherwise(translate(col("html"),
        HttpOps.Cp1252Chars, HttpOps.Cp1252ViewChars))
    val httpMsg = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="), cs,
      lit("\r\nContent-Length: "), length(view).cast("string"),
      lit("\r\n\r\n"), view)
    warcHttpFiles(d, Seq(html.as("html")), httpMsg)
  }

  /** The Content-Encoding synthesis for x150: the accent page's REAL
    * UTF-8 bytes, content-coded three ways on `doc_id % 3` — 0 → gzip
    * ([[graft.functions.GzipBytes]] over the UTF-8 view), 1 →
    * zlib-deflate ([[graft.functions.DeflateBytes]]), 2 → zstd
    * ([[graft.functions.ZstdBytes]], live because zstd-jni rides the
    * Spark classpath) — with the coded
    * bytes as the body's latin1 view, `Content-Encoding` declared, and
    * `Content-Length` = the coded BYTE count (the view's char count).
    * Plain-text WARC framing (the warcCharsetFixture shape). Returns
    * `(file_id, content)`; oracle = independent recompute (DuckDB
    * cannot gunzip).
    */
  private def warcContentEncodingFixture(d: DataFrame): DataFrame = {
    val utf8View = decode(encode(accentPage, "UTF-8"), "ISO-8859-1")
    // r18: a third arm ships REAL zstd frames — zstd-jni rides every
    // Spark classpath, so the jar-gated kernels are live here
    val coded = when(col("doc_id") % 3 === 0,
        bridge1(graft.functions.GzipBytes(_), utf8View))
      .when(col("doc_id") % 3 === 1,
        bridge1(graft.functions.DeflateBytes(_), utf8View))
      .otherwise(bridge1(graft.functions.ZstdBytes(_), utf8View))
    val httpMsg = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        "Content-Encoding: "), col("ce"),
      lit("\r\nContent-Length: "), length(col("body_view")).cast("string"),
      lit("\r\n\r\n"), col("body_view"))
    warcHttpFiles(d, Seq(decode(coded, "ISO-8859-1").as("body_view"),
      when(col("doc_id") % 3 === 0, lit("gzip"))
        .when(col("doc_id") % 3 === 1, lit("deflate"))
        .otherwise(lit("zstd"))
        .as("ce")), httpMsg)
  }

  /** The robots-META synthesis for x153 — seven arms on `doc_id % 7`
    * (see the query comment), mirrored verbatim by the x153 oracle.
    */
  private def metaRobotsFixture: Column = {
    val arm = col("doc_id") % 7
    concat(
      lit("<html><head><title>t</title>"),
      when(arm === 0,
          lit("<meta name=\"viewport\" content=\"noindex trap\">"))
        .when(arm === 1, lit("<meta name=\"robots\" content=\"noindex\">"))
        .when(arm === 2, lit("<meta content=\"nofollow\" name=\"robots\">"))
        .when(arm === 3,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(arm === 4, lit("<meta NAME=\"ROBOTS\" content=\"NONE\">"))
        .when(arm === 5,
          lit("<meta name=\"robots\" content=\"index, follow\">"))
        .otherwise(lit("<meta name=\"robots\" content=\"noindex-x\">")),
      lit("</head><body><p>Doc "), col("doc_id").cast("string"),
      lit(" body text here.</p></body></html>"))
  }

  /** The page URL for the x154 nofollow fixture. */
  private def nofollowBase: Column = {
    val m = (col("doc_id") % 5).cast("string")
    concat(lit("https://s"), m, lit(".example-"), m, lit(".com/p/"),
      col("doc_id").cast("string"))
  }

  /** The anchor-rel synthesis for x154 — four anchors per page (plain
    * cross-site, rel="nofollow" cross-site, rel="ugc nofollow"
    * root-relative, rel="noopener noreferrer" root-relative) plus a
    * meta-nofollow head on every 7th page. Mirrored verbatim by the
    * x154 oracle.
    */
  private def nofollowLinkFixture: Column = {
    val id = col("doc_id")
    val idS = id.cast("string")
    val n1 = ((id + 1) % 5).cast("string")
    val nextSite = concat(lit("https://s"), n1, lit(".example-"), n1,
      lit(".com"))
    concat(
      lit("<html><head>"),
      when(id % 7 === 0,
          lit("<meta name=\"robots\" content=\"nofollow\">"))
        .otherwise(lit("")),
      lit("</head><body>"),
      lit("<a href=\""), nextSite, lit("/f/"), idS, lit("\">plain</a>"),
      lit("<a href=\""), nextSite, lit("/nf/"), idS,
      lit("\" rel=\"nofollow\">nf</a>"),
      lit("<a rel=\"ugc nofollow\" href=\"/ugc/"), idS, lit("\">ugc</a>"),
      lit("<a href=\"/ok/"), idS,
      lit("\" rel=\"noopener noreferrer\">ok</a>"),
      lit("</body></html>"))
  }

  /** The per-doc-unique-paragraphs + planted-boilerplate synthesis for
    * x157: two footer sentences keyed by the page's domain (repeat on
    * every page of the domain → dropped), one promo line keyed by
    * (doc_id div 10, doc_id % 5) — exactly TWO same-domain pages share
    * it (doc_id and doc_id+5 within each block of 10) → under
    * minPages, kept. Mirrored verbatim by the x157 oracle.
    */
  private def boilerplateFixture: Column = {
    val m = (col("doc_id") % 5).cast("string")
    val pair = concat(expr("doc_id div 10").cast("string"), lit("-"), m)
    concat(
      lit("<html><body><p>"),
      replace(col("text"), lit(" window "), lit(".</p><p>")),
      lit(".</p>"),
      lit("<p>Every visitor must accept the cookie policy of site "),
      m, lit(" now.</p>"),
      lit("<p>All content on site "), m,
      lit(" is reserved by the owners.</p>"),
      lit("<p>Pair "), pair,
      lit(" subscribers receive the special promo today.</p>"),
      lit("</body></html>"))
  }

  /** The meta-charset synthesis for x156, three arms on `doc_id % 3`,
    * each in the LATIN1-VIEW convention (the warcCharsetFixture
    * mechanics):
    *
    *  - arm 0: the accent page as REAL UTF-8 bytes, header
    *    `Content-Type: text/html` (NO charset), `<meta
    *    charset="utf-8">` planted — decode must route via the meta;
    *  - arm 1: the cp1252 page as REAL windows-1252 bytes, headerless
    *    again, the LEGACY `http-equiv` meta form planted;
    *  - arm 2: the accent page as latin1 bytes, header DECLARES
    *    iso-8859-1 while a planted meta claims utf-8 — the header
    *    must win (WHATWG precedence; mis-precedence turns every
    *    accent byte into U+FFFD and the hash catches it).
    */
  private def warcMetaCharsetFixture(d: DataFrame): DataFrame = {
    val arm = col("doc_id") % 3
    val metaModern = "<meta charset=\"utf-8\">"
    val metaLegacy = "<meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=windows-1252\">"
    val html = when(arm === 1,
        regexp_replace(htmlFixtureWithLine(Cp1252LineHead, Cp1252LineTail),
          lit("^<html><head>"), lit("<html><head>" + metaLegacy)))
      .otherwise(regexp_replace(accentPage, lit("^<html><head>"),
        lit("<html><head>" + metaModern)))
    val view = when(arm === 0,
        decode(encode(col("html"), "UTF-8"), "ISO-8859-1"))
      .when(arm === 1, translate(col("html"),
        HttpOps.Cp1252Chars, HttpOps.Cp1252ViewChars))
      .otherwise(col("html"))
    val ct = when(arm === 2, lit("text/html; charset=iso-8859-1"))
      .otherwise(lit("text/html"))
    val httpMsg = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct,
      lit("\r\nContent-Length: "), length(view).cast("string"),
      lit("\r\n\r\n"), view)
    warcHttpFiles(d, Seq(html.as("html")), httpMsg)
  }

  /** The x140 HTTP response-message synthesis — four envelope shapes
    * cycling on `doc_id % 4`: a 200 text/html with charset, a 301
    * redirect with Location, a 404 text/plain, and a 200 JSON arm
    * whose header name is LOWERCASE with a quoted uppercase charset
    * (case-insensitivity proven through the oracle). Mirrored
    * verbatim by the x140 oracle.
    */
  private def httpFixture: Column = {
    val id = col("doc_id")
    val idS = id.cast("string")
    when(id % 4 === 0, concat(
      lit("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=utf-8\r\nServer: graft\r\n" +
        "\r\n<html>page "), idS, lit("</html>")))
      .when(id % 4 === 1, concat(
        lit("HTTP/1.1 301 Moved Permanently\r\n" +
          "Location: https://example.com/new/"), idS,
        lit("\r\nContent-Type: text/html\r\n\r\nmoved")))
      .when(id % 4 === 2, concat(
        lit("HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n" +
          "\r\nnot found "), idS))
      .otherwise(concat(
        lit("HTTP/1.1 200 OK\r\n" +
          "content-type: application/json; charset=\"UTF-8\"\r\n" +
          "\r\n{\"id\": "), idS, lit("}")))
  }

  /** The x131/x132 URL synthesis — ONE definition, mirrored verbatim by
    * [[urlSynthSql]]: eight deterministic shapes cycling on
    * `doc_id % 8`, together covering every canonicalization rule. Arms
    * 0 and 6 key their paths on `doc_id % 40` while varying only a
    * tracking param, so canonicalization (not raw equality) merges them
    * in x132. Arm 7 sits on `co.kr` — a suffix OUTSIDE the built-in
    * subset, resolvable only through the x131 loaded-PSL path (r16).
    */
  private def urlFixture: Column = {
    val id = col("doc_id").cast("string")
    val idm = (col("doc_id") % 40).cast("string")
    when(col("doc_id") % 8 === 0,
      concat(lit("HTTP://WWW.Example.COM:80//a//b/"), idm,
        lit("/?b=2&a=1&utm_term="), id))
      .when(col("doc_id") % 8 === 1,
        concat(lit("https://Shop.Example.co.uk:443/item/"), id,
          lit("?fbclid=x"), id))
      .when(col("doc_id") % 8 === 2,
        concat(lit("http://user@Example.org:8080/p/"), id,
          lit("?z=1&y=2&Y=9#frag")))
      .when(col("doc_id") % 8 === 3,
        concat(lit("https://news.example.com./"), id, lit("/")))
      .when(col("doc_id") % 8 === 4,
        concat(lit("ftp://Files.Example.NET:21/pub/"), id))
      .when(col("doc_id") % 8 === 5, concat(lit("relative/path/"), id))
      .when(col("doc_id") % 8 === 6,
        concat(lit("https://blog.example.com.au/read?id="), idm,
          lit("&utm_campaign=x&UTM=keep")))
      .otherwise(concat(lit("https://Files.Example.Co.KR/k/"), id,
        lit("?b=2&a=1")))
  }

  /** Write the x131 PSL fixture (publicsuffix.org format: a comment,
    * the built-in subset, `co.kr` beyond it, plus a wildcard and an
    * exception rule the loader must SKIP) and return its path — the
    * loaded-data path of `RegisteredDomainOf` exercised through the
    * oracle gate.
    */
  private lazy val pslFixturePath: String = {
    // written ONCE per JVM into a createTempDirectory-scoped path —
    // a fixed, predictable name in the shared global tmpdir raced
    // concurrent runs/users and was symlink-clobber-able (ADVICE r16);
    // lazy val = the memo, the random directory = the isolation
    val dir = java.nio.file.Files.createTempDirectory("graft_psl")
    dir.toFile.deleteOnExit()
    val p = dir.resolve("psl_fixture.dat")
    p.toFile.deleteOnExit()
    val body = "// graft PSL fixture (subset of publicsuffix.org)\n" +
      graft.ops.UrlOps.MultiLabelSuffixes.mkString("\n") +
      "\nco.kr\n*.ck\n!www.ck\n"
    java.nio.file.Files.writeString(p, body)
    p.toString
  }

  /** The x133 robots.txt synthesis — ONE body per registered domain,
    * mirrored verbatim by the x133 oracle: a comment + Sitemap line, a
    * megabot-only Disallow-everything group (tests agent scoping), the
    * graftbot/helper group with rules over the x131 path shapes —
    * wildcard patterns included (a mid-path `*` Allow, a `$`-anchored
    * Disallow AND a `$`-anchored Allow, a `?`+`*` query pattern) plus
    * the empty-Disallow idiom — OMITTED on example.org so that domain
    * exercises the RFC 9309 `*`-fallback; a second graftbot header
    * broken off by a Crawl-delay line (the RFC 9309 group-boundary
    * rule: the Disallow after the OTHERBOT header must NOT bind
    * graftbot — r15 merged such headers, ADVICE r15); and a trailing
    * `*` group that governs only where the exact group is absent.
    */
  private def robotsFixture(domain: Column): Column = {
    val exact =
      "User-agent: graftbot\nUser-agent: helper\n" +
        "Disallow: /a/b\nAllow: /a/b/1\nAllow: /a/*/2\n" +
        "Disallow: /a/b/16$\n" +
        "Disallow: /item\nAllow: /item/1\nAllow: /item/9$\n" +
        "Disallow: /read\nAllow: /read?*id=1\n" +
        "Disallow:\n\n" +
        "User-agent: graftbot\nCrawl-delay: 3\n" +
        "User-agent: otherbot\nDisallow: /pub\n\n"
    concat(
      lit("# graft robots fixture\n\n" +
        "Sitemap: https://example.com/sitemap.xml\n\n" +
        "User-agent: megabot\nDisallow: /\n\n"),
      when(domain === "example.org", lit("")).otherwise(lit(exact)),
      lit("User-agent: *\nDisallow: /read\nDisallow: /\n"))
  }

  /** The x136 frontier robots body (same for every domain): graftbot
    * rules over the LINK fixture's path shapes (`/root/...`, `/lib/...`)
    * with allow-exceptions, behind the same scoping groups.
    */
  private def frontierRobotsFixture: Column =
    lit("User-agent: megabot\nDisallow: /\n\n" +
      "User-agent: graftbot\n" +
      "Disallow: /root\nAllow: /root/1\n" +
      "Disallow: /lib\nAllow: /lib/1\n\n" +
      "User-agent: *\nDisallow: /\n")

  /** The x134/x136 page-URL synthesis: five sites on five distinct
    * registered domains, one page per doc. Mirrored by the SQL oracles.
    */
  private def linkBase: Column = {
    val m = (col("doc_id") % 5).cast("string")
    concat(lit("https://s"), m, lit(".example-"), m, lit(".com/dir/page/"),
      col("doc_id").cast("string"))
  }

  /** The x134/x136 link-HTML synthesis — every resolveUrl arm planted:
    * an absolute link to the next site (with a tracking param the
    * canonicalizer must strip), an UPPERCASE absolute link with a
    * doubled slash and trailing slash (canonicalization work), a
    * root-relative link, a path-relative link, a protocol-relative CDN
    * link, a query-only pagination link (`?page=N` — keeps the FULL
    * base path, the RFC 3986 §5.3 arm), a fragment-only link (resolves
    * to the page itself), plus a
    * single-quoted href and an href-less anchor that the double-quote
    * extractor must NOT emit (its documented fidelity bound, asserted).
    */
  private def linkHtmlFixture: Column = {
    val id = col("doc_id")
    val idS = id.cast("string")
    val n1 = ((id + 1) % 5).cast("string")
    val n2 = ((id + 2) % 5).cast("string")
    concat(
      lit("<html><body><p>Doc "), idS, lit("</p>"),
      lit("<a href=\"https://s"), n1, lit(".example-"), n1,
      lit(".com/dir/page/"), (id + 1).cast("string"),
      lit("?utm_source=feed\">next</a>"),
      lit("<A HREF=\"HTTPS://S"), n2, lit(".Example-"), n2,
      lit(".COM/dir//page/"), (id + 2).cast("string"),
      lit("/\">caps</A>"),
      lit("<a href=\"/root/"), (id % 10).cast("string"),
      lit("\">rooted</a>"),
      lit("<a href=\"sub/"), (id % 3).cast("string"), lit("\">rel</a>"),
      lit("<a href=\"//cdn.example.net/lib/"), (id % 4).cast("string"),
      lit("\">cdn</a>"),
      lit("<a href=\"?page="), (id % 3).cast("string"),
      lit("\">pg</a>"),
      lit("<a href=\"#top\">top</a>"),
      lit("<a href='single"), idS, lit("'>sq</a>"),
      lit("<a name=\"anchor\">no href</a>"),
      lit("<a data-href=\"/fake/"), idS, lit("\">not a link</a>"),
      lit("</body></html>"))
  }

  /** Resolve + canonicalize + non-null filter over a link stream
    * carrying (base, refCol): keys + canon_url out. Safe to compose
    * and filter ONLY because canonicalizeUrl is a single kernel
    * expression ([[graft.functions.CanonicalizeUrl]]) — its
    * column-composition ancestor inflated the x137 plan to a
    * 3,244-regexp-node pushed-down Filter (each of its ~15 input
    * references re-inlined the resolve tree, and predicate pushdown
    * substituted the lot below the projections). resolveUrl references
    * `base` several times too: a computed base (effectiveBase) must come
    * from a projection BELOW the link explode, which the pushed filter
    * cannot cross.
    */
  private def resolvedCanon(df: DataFrame, keys: Seq[String],
                            refCol: String): DataFrame =
    df.select(keys.map(col) :+
        UrlOps.canonicalizeUrl(
          UrlOps.resolveUrl(col("base"), col(refCol))).as("canon_url"): _*)
      .filter(col("canon_url").isNotNull)

  /** The refresh-snapshot synthesis shared by x114 and x125 — and by the
    * BucketedJoinSpec plan gate, which claims to exercise "the x114
    * flow": drop every 7th doc, append " updated" to every 5th
    * surviving text, re-add every 3rd under a +1e6 id
    * (added/changed/removed/unchanged all populated). ONE
    * definition (r15 review: three verbatim copies had decoupled the
    * SURVEY measurement and the zero-exchange gate from the queries they
    * mirror). Works over any frame carrying (doc_id, text, ...).
    */
  private[graft] def refreshSnapshot(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" updated"))).otherwise(col("text")))
      .unionByName(d.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))

  /** The weighted page-link graph `(src, dst, w)` of the x134 link
    * pages over `d`: canonical outlinks per page URL, self-links
    * dropped (x142/x161).
    */
  private def pageLinkEdges(d: DataFrame): DataFrame = {
    val pages = d.select(col("doc_id"), linkBase.as("base"),
      linkHtmlFixture.as("html"))
    resolvedCanon(pages.select(col("base"),
          explode(HtmlOps.extractLinks(col("html"))).as("ref")),
        Seq("base"), "ref")
      .filter(col("canon_url") =!= col("base"))
      .groupBy(col("base").as("src"), col("canon_url").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Shared head of the curation composites (x34 exact / x64 LSH-verify):
    * quality filter → exact dedup. The quality subtree (regex-heavy) and
    * the exact-dedup survivor set each feed MULTIPLE downstream branches;
    * localCheckpoint materializes them once instead of re-evaluating the
    * pipeline per branch (at cluster scale the same role is played by a
    * checkpoint/stage cache — the data is the post-filter survivor set,
    * far smaller than the corpus). Returns (exactKept, survivors); ONE
    * definition so the two curation variants can only differ in their
    * near-dup stage — a threshold edit cannot drift between them.
    */
  private def curationSurvivors(docs: DataFrame): (DataFrame, DataFrame) = {
    val quality = TextOps.qualityScore(docs)
      .filter(col("n_words") >= 20 && col("alpha_ratio_bp") >= 7000)
      .select("doc_id", "text")
      .localCheckpoint()
    val exactKept = DedupOps.exact(quality, "doc_id", "text")
      .localCheckpoint()
    (exactKept, quality.join(exactKept, Seq("doc_id"), "left_semi"))
  }

  /** The x94 manifest stages over `d`: the quality filter, canonical
    * (normalized-text) exact dedup of its survivors, and the
    * temperature-balanced source mix — `(quality, surv, bal)`.
    */
  private def manifestStages(d: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val quality = TextOps.qualityScore(d)
      .filter(col("n_words") >= 20 && col("alpha_ratio_bp") >= 7000)
      .select("doc_id", "source", "text")
    val canon = quality.withColumn("__ct",
      TextOps.normalizeText(col("text"), stripPunct = true))
    val kept = DedupOps.exact(
      canon.select(col("doc_id"), col("__ct")), "doc_id", "__ct")
    val surv = canon.join(kept, Seq("doc_id"), "left_semi")
    (quality, surv, SampleOps.temperatureSample(surv, "doc_id", "source"))
  }

  /** Shared tail of the curation composites: near-dup pairs → connected
    * components → drop non-representatives → surviving ids.
    */
  private def curationResult(exactKept: DataFrame, pairs: DataFrame): DataFrame = {
    val nearDupDrop = DedupOps.connectedComponents(pairs)
      .filter(col("comp") < col("id"))
      .select(col("id").as("doc_id"))
    exactKept.join(nearDupDrop, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  // DuckDB oracle SQL. Shared fragments --------------------------------------

  /** Left-fold dot product of two 64-dim list<float> cols, as DuckDB SQL —
    * bit-identical to VectorOps.dot (aggregate starts at 0.0; 0.0+x == x).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1,65), k -> $a[k::INT]::DOUBLE * $b[k::INT]::DOUBLE), (x,y) -> x+y)"

  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** [[dotSql]] over the first `dim` components only — the truncated-dim
    * serving mirror (x112). Same left-fold, same operand order.
    */
  private def dotNSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(range(1,${dim + 1}), k -> $a[k::INT]::DOUBLE * $b[k::INT]::DOUBLE), (x,y) -> x+y)"

  /** Classic 16-hash MinHash banding over a CTE `sh(doc_id, s)` →
    * CTEs mh, bsig, okb. ONE definition for all seven banding oracles — a
    * banding-semantics change edits one string (the containmentPairs
    * lesson from ADVICE r12 applied to the SQL mirrors). `okb` mirrors
    * the engine's hot-bucket cap (`DedupOps.DefaultMaxBucket`): every
    * pair-enumerating consumer joins it, so a corpus dense enough for
    * the engine to DROP a bucket drops it in the oracle too (validated
    * on a beyond-cap-density fixture, r14 — previously the oracle
    * enumerated uncapped and the gate would have failed for a data
    * reason exactly when density mattered).
    */
  private lazy val minhashBsigSql =
    s"""mh AS (SELECT doc_id, h, min(md5(h || '|' || s)) m
      |   FROM sh CROSS JOIN (SELECT unnest(range(0,16)) h) GROUP BY doc_id, h),
      | bsig AS (SELECT doc_id, (h // 4)::INT band, string_agg(m, '' ORDER BY h) sig
      |   FROM mh GROUP BY doc_id, band),
      | okb AS (SELECT band, sig FROM bsig GROUP BY band, sig
      |   HAVING count(*) <= ${graft.ops.DedupOps.DefaultMaxBucket})""".stripMargin

  /** One-permutation MinHash banding over a CTE `sh(doc_id, s)` → CTE
    * bsig(doc_id, band, sig) — the OPH sibling of [[minhashBsigSql]]
    * (ONE hash per shingle, bucket-min per slot, rotation densification
    * for empty slots), mirroring `DedupOps.minhashBandsOph`. ONE
    * definition for every OPH banding oracle (x123/x124 and the r14
    * composite flips x84/x85/x109/x111) — same one-definition rule as
    * the classic fragment. Internal columns use `jj` so the fragment
    * composes with oracles that bind `j` elsewhere.
    */
  private lazy val ophBsigSql = ophBsigSqlWith(graft.ops.DedupOps.DefaultMaxBucket)

  /** [[ophBsigSql]] with an explicit hot-bucket cap — for gates that
    * pass a non-default `maxBucket` to the engine (x176's boilerplate-
    * heavy fixture), so the mirror drops exactly the buckets the
    * engine drops.
    */
  private def ophBsigSqlWith(maxBucket: Int) =
    s"""mh1 AS (SELECT doc_id,
      |     ('0x' || substr(md5(s), 1, 15))::BIGINT h FROM sh),
      | bkt AS (SELECT doc_id, h % 16 jj, min(h) m FROM mh1 GROUP BY 1, 2),
      | grid AS (SELECT doc_id, k jj FROM
      |   (SELECT DISTINCT doc_id FROM bkt) CROSS JOIN range(0,16) t(k)),
      | dens AS (SELECT g.doc_id, g.jj,
      |     arg_min(b.m, (b.jj - g.jj + 16) % 16) m
      |   FROM grid g JOIN bkt b ON b.doc_id = g.doc_id GROUP BY 1, 2),
      | bsig AS (SELECT doc_id, (jj // 4)::INT band,
      |     string_agg(m::VARCHAR, '|' ORDER BY jj) sig
      |   FROM dens GROUP BY 1, 2),
      | okb AS (SELECT band, sig FROM bsig GROUP BY band, sig
      |   HAVING count(*) <= $maxBucket)""".stripMargin

  /** Word 3-gram shingles of `src`'s `text` as the CTEs `w` and
    * `sh(doc_id, s)` — the body only, so a caller can open its query
    * with `WITH RECURSIVE`.
    */
  private def word3gramCtes(src: String): String =
    s"""w AS (SELECT doc_id, string_split(text,' ') w FROM $src),
      | sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |          range(1, greatest(len(w)-2,0)+1),
      |          k -> w[k::INT] || ' ' || w[k::INT+1] || ' ' || w[k::INT+2]))) s
      |        FROM w)""".stripMargin

  private val word3gramShingles = s"WITH ${word3gramCtes("documents")}"

  /** The as-of join inputs of x27 and x75: purchases `(event_id,
    * user_id, ts)`, and clicks with one row per `(user_id, ts)` (the
    * highest `click_id`) carrying `click_ts`.
    */
  private def purchasesAndClicks(s: SparkSession,
                                 dir: String): (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    (ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts"),
     ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .withColumn("click_ts", col("ts")))
  }

  /** [[purchasesAndClicks]] as the oracle CTEs `clicks` and `p`. */
  private val purchasesAndClicksSql =
    """WITH clicks AS (SELECT user_id, ts, max(event_id) click_id
      |   FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      | p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')""".stripMargin

  /** The band-collision candidates `cand(i, j)` of a banding fragment's
    * `bsig`/`okb` and their exact shingle intersections
    * `inter(i, j, c)` over `sh` — the verify arm every LSH oracle shares.
    */
  private val bandVerifySql =
    """cand AS (SELECT DISTINCT a.doc_id i, b.doc_id j FROM bsig a JOIN bsig b
      |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
      |   JOIN okb ON okb.band = a.band AND okb.sig = a.sig),
      | inter AS (SELECT cd.i, cd.j, count(*) c FROM cand cd
      |   JOIN sh a ON a.doc_id = cd.i JOIN sh b ON b.doc_id = cd.j AND b.s = a.s
      |   GROUP BY 1, 2)""".stripMargin

  /** Exact shingle intersections `inter(i, j, c)` of every doc pair
    * over `sh`, by an s-keyed self-join that skips hot shingles (more
    * than `DedupOps.DefaultMaxBucket` docs) the way the engine does.
    */
  private val exactInterSql =
    s"""oks AS (SELECT s FROM sh GROUP BY s
      |   HAVING count(*) <= ${graft.ops.DedupOps.DefaultMaxBucket}),
      | inter AS (SELECT a.doc_id i, b.doc_id j, count(*) c FROM sh a
      |   JOIN oks ON oks.s = a.s
      |   JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** The near-duplicate test over `inter(i, j, c)` joined to the shingle
    * counts `n na`/`n nb`: Jaccard >= 0.5 in floored basis points.
    */
  private val jaccardHitSql =
    "floor(c::DOUBLE * 10000 / (na.n + nb.n - c)::DOUBLE) >= 5000"

  /** The near-duplicate pairs `p(i, j)` of `inter` by [[jaccardHitSql]]. */
  private val jaccardPairsSql =
    s"""p AS (SELECT i, j FROM inter
      |   JOIN n na ON na.doc_id = i JOIN n nb ON nb.doc_id = j
      |   WHERE $jaccardHitSql)""".stripMargin

  /** Symmetric edges `e(a, b)` of the pair CTE `p(i, j)` and their
    * recursive closure `reach(a, b)` — the connected-components mirror
    * (needs `WITH RECURSIVE`).
    */
  private val reachSql =
    """e AS (SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
      | reach AS (SELECT a, b FROM e
      |   UNION
      |   SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)""".stripMargin

  /** `xs` as a DuckDB list literal of quoted strings, `['a','b']`. */
  private def sqlArr(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ",", "]")

  /** x60 and x73 share ONE oracle body: the Bloom pre-filter is an
    * execution-strategy knob with a no-false-negative contract, so the
    * bloom variant's correctness claim IS row-identity with the plain
    * incremental dedup — a second hand-written oracle could only drift.
    */
  private lazy val incrementalDedupSql =
    s"""$word3gramShingles,
       | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       | oks AS (SELECT s FROM sh GROUP BY s
       |   HAVING count(*) <= ${graft.ops.DedupOps.DefaultMaxBucket}),
       | inter AS (SELECT a.doc_id i, b.doc_id j, count(*) c FROM sh a
       |   JOIN oks ON oks.s = a.s
       |   JOIN sh b ON a.s = b.s AND a.doc_id < 250 AND b.doc_id >= 250
       |   GROUP BY 1, 2),
       | near_dropped AS (SELECT j AS doc_id FROM inter
       |   JOIN n na ON na.doc_id = i JOIN n nb ON nb.doc_id = j
       |   WHERE $jaccardHitSql),
       | exact_kept AS (SELECT d.doc_id FROM documents d
       |   WHERE d.doc_id >= 250
       |   -- NOT EXISTS, not NOT IN: a NULL text in the reference would
       |   -- make NOT IN three-valued-UNKNOWN for every row, diverging
       |   -- from the engine's left-anti join semantics
       |   AND NOT EXISTS (SELECT 1 FROM documents r WHERE r.doc_id < 250
       |                   AND md5(r.text) = md5(d.text)))
       | SELECT doc_id FROM exact_kept
       | EXCEPT SELECT doc_id FROM near_dropped
       | ORDER BY doc_id""".stripMargin

  // Shared ANN CTE fragments — x25/x26/x35 and the x61 recall grader
  // compose the SAME SQL bodies, so a semantics change edits ONE string
  // (a hand-mirrored copy would drift silently until the differential
  // gate flagged x61 as if it were a new-query bug).
  // nrm > 0 matches VectorOps.sided: every Spark-side cosine op EXCLUDES
  // zero-norm vectors (no direction), so the oracle must too — a future
  // fixture with one all-zero embedding would otherwise rank NaN/inf
  // cosines first in every DuckDB top-k while Spark omits the row
  // (x24/x25/x26/x35/x42/x61/x62/x63 would all fail for a data reason).
  // The trained-IVF fragment already filters nrm > 0; this aligns the rest.
  private lazy val annV =
    s"""v AS (SELECT * FROM (SELECT vec_id, embedding,
       |   ${normSql("embedding")} nrm FROM embeddings) WHERE nrm > 0)""".stripMargin
  /** Brute-force scored pairs + rank for queries vec_id < 20 → CTE r_ex. */
  private lazy val annBrute =
    s"""s_ex AS (SELECT q.vec_id qid, c.vec_id nid,
       |     ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) cos
       |   FROM v c JOIN v q ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       | r_ex AS (SELECT qid, nid, cos,
       |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
       |   FROM s_ex)""".stripMargin
  /** 8-hyperplane sign-bucket expression; `planeIdx` is the GLOBAL
    * hyperplane seed index as a SQL expression over the local plane `j`
    * ("j" for single-table, "(t*8+j)" for table t of a multi-table
    * index) — one string for every bucket-computing oracle.
    */
  private def lshBucketSql(planeIdx: String): String =
    s"""list_reduce(list_transform(range(0,8), j ->
       |     CASE WHEN list_reduce(list_transform(range(1,65), i ->
       |         CASE WHEN (('0x' || substr(md5($planeIdx || '_' || (i-1)),1,15))::BIGINT & 1) = 1
       |              THEN embedding[i::INT]::DOUBLE ELSE -(embedding[i::INT]::DOUBLE) END),
       |       (x,y) -> x+y) > 0
       |     THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END), (x,y) -> x+y)""".stripMargin
  /** 8-hyperplane sign bucket per vector → CTE vb; bucketed scored pairs
    * + rank → CTE r_ap. */
  private lazy val annLsh =
    s"""vb AS (SELECT vec_id, embedding, nrm,
       |   ${lshBucketSql("j")} bucket
       |  FROM v),
       | s_ap AS (SELECT q.vec_id qid, c.vec_id nid,
       |     ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) cos
       |   FROM vb c JOIN vb q ON q.bucket = c.bucket AND q.vec_id < 20
       |     AND q.vec_id <> c.vec_id),
       | r_ap AS (SELECT qid, nid, cos,
       |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
       |   FROM s_ap)""".stripMargin
  /** Multi-table LSH (4 tables × 8 planes) scored pairs + rank → CTE
    * r_mt — shared by x62 and the x63 recall grade. */
  private lazy val annLshMulti =
    s"""vbm AS (SELECT vec_id, embedding, nrm, t,
       |   ${lshBucketSql("(t*8+j)")} bucket
       |  FROM v CROSS JOIN range(0,4) r(t)),
       | s_mt AS (SELECT DISTINCT q.vec_id qid, c.vec_id nid,
       |     ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) cos
       |   FROM vbm c JOIN vbm q ON q.t = c.t AND q.bucket = c.bucket
       |     AND q.vec_id < 20 AND q.vec_id <> c.vec_id),
       | r_mt AS (SELECT qid, nid, cos,
       |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
       |   FROM s_mt)""".stripMargin
  /** Deterministic seed centroids as SQL: the `k` LOWEST-id vectors of
    * the FULL corpus, zero-norm seeds dropped AFTER the limit — mirrors
    * `VectorOps.seedCentroids` / both trainers' limit-then-filter order
    * for ANY id domain. A `vec_id < k` filter coincides only while ids
    * are contiguous from 0; a fixture with gapped or offset ids would
    * silently seed differently and fail the gate for a data reason.
    */
  private def seedCentSql(k: Int): String =
    s"""(SELECT cid, cv, cn FROM (SELECT vec_id cid, embedding cv,
       |   ${normSql("embedding")} cn FROM embeddings ORDER BY vec_id LIMIT $k)
       | WHERE cn > 0)""".stripMargin

  /** IVF with the 8 lowest-id seed centroids, nProbe = 2 → CTE r_ivf. */
  private lazy val annIvf =
    s"""cent AS ${seedCentSql(8)},
       | ca AS (SELECT v.vec_id id, v.embedding vec, v.nrm, cent.cid,
       |     ${dotSql("v.embedding", "cent.cv")} / (v.nrm * cent.cn) ccos
       |   FROM v CROSS JOIN cent),
       | cranked AS (SELECT id, vec, nrm, cid,
       |     row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) crk
       |   FROM ca),
       | ic AS (SELECT id nid, vec nv, nrm nn, cid cell FROM cranked WHERE crk = 1),
       | iq AS (SELECT id qid, vec qv, nrm qn, cid cell FROM cranked
       |   WHERE crk <= 2 AND id < 20),
       | s_ivf AS (SELECT qid, nid, ${dotSql("qv", "nv")} / (qn * nn) cos
       |   FROM ic JOIN iq USING (cell) WHERE qid <> nid),
       | r_ivf AS (SELECT qid, nid, cos,
       |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
       |   FROM s_ivf)""".stripMargin

  /** Unrolled-Lloyd trained-centroid CTEs over an arbitrary vector CTE
    * `vCte(vec_id, embedding, nrm)` of dimension `dim` — the ONE
    * definition of the exact cross-engine k-means trainer mirror
    * (`VectorOps.kmeansCentroidsExact`): cosine-argmax assignment with
    * ties → lowest cid, 2^20 integer-scaled mean updates, empty cells
    * keep their previous centroid. `seedCte` is a full subquery
    * producing (cid, cv, cn). Returns (cte fragments, final centroid
    * CTE name). Shared by [[annIvfTrainedSql]] (full 64-dim vectors,
    * pfx "t") and [[pqTrainedSql]] (16-component subspace slices) — a
    * Lloyd-arithmetic fix lands in every trained oracle at once.
    */
  private def lloydCbSql(pfx: String, vCte: String, dim: Int,
                         seedCte: String,
                         iters: Int): (Seq[String], String) = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"${pfx}c0 AS $seedCte"
    var prev = s"${pfx}c0"
    for (it <- 1 to iters) {
      val (a, u, cv, c) =
        (s"${pfx}a$it", s"${pfx}u$it", s"${pfx}cv$it", s"${pfx}c$it")
      val cvExpr = s"coalesce($cv.cv, $prev.cv)"
      ctes += s"""$a AS (SELECT id, vec, cid FROM (
                 |   SELECT v.vec_id id, v.embedding vec, $prev.cid,
                 |     row_number() OVER (PARTITION BY v.vec_id
                 |       ORDER BY ${dotNSql("v.embedding", s"$prev.cv", dim)} / (v.nrm * $prev.cn) DESC, $prev.cid) crk
                 |   FROM $vCte v CROSS JOIN $prev WHERE v.nrm > 0) WHERE crk = 1)""".stripMargin
      ctes += s"""$u AS (SELECT cid, i,
                 |   sum(floor(vec[i::INT]::DOUBLE * 1048576.0))::BIGINT s, count(*) n
                 | FROM $a CROSS JOIN range(1,${dim + 1}) r(i) GROUP BY cid, i)""".stripMargin
      ctes += s"""$cv AS (SELECT cid,
                 |   list((floor(s::DOUBLE / n) / 1048576.0)::FLOAT ORDER BY i) cv
                 | FROM $u GROUP BY cid)""".stripMargin
      ctes += s"""$c AS (SELECT $prev.cid, $cvExpr cv, sqrt(${dotNSql(cvExpr, cvExpr, dim)}) cn
                 | FROM $prev LEFT JOIN $cv USING (cid))""".stripMargin
      prev = c
    }
    (ctes.toSeq, prev)
  }

  /** Trained-IVF CTEs mirroring `VectorOps.kmeansCentroidsExact` +
    * `ivfTopKWithCentroids`: `iters` unrolled Lloyd rounds (cosine argmax
    * assignment, ties → lowest cid; exact integer-scaled mean update —
    * see the Scala doc for why every step is engine-independent), then
    * the nProbe probe phase → CTE r_it. CTE names are t-prefixed so the
    * fragment composes with `annIvf` in one WITH.
    */
  private def annIvfTrainedSql(k: Int, iters: Int, nProbe: Int): String = {
    val (cb, fin) = lloydCbSql("t", "v", 64, seedCentSql(k), iters)
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes ++= cb
    val prev = fin
    ctes += s"""tca AS (SELECT v.vec_id id, v.embedding vec, v.nrm, $prev.cid,
               |   ${dotSql("v.embedding", s"$prev.cv")} / (v.nrm * $prev.cn) ccos
               | FROM v CROSS JOIN $prev WHERE v.nrm > 0)""".stripMargin
    ctes += """tcr AS (SELECT id, vec, nrm, cid,
              |   row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) crk
              | FROM tca)""".stripMargin
    ctes += "tic AS (SELECT id nid, vec nv, nrm nn, cid cell FROM tcr WHERE crk = 1)"
    ctes += s"tiq AS (SELECT id qid, vec qv, nrm qn, cid cell FROM tcr WHERE crk <= $nProbe AND id < 20)"
    ctes += s"""s_it AS (SELECT qid, nid, ${dotSql("qv", "nv")} / (qn * nn) cos
               | FROM tic JOIN tiq USING (cell) WHERE qid <> nid)""".stripMargin
    ctes += """r_it AS (SELECT qid, nid, cos,
              |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
              | FROM s_it)""".stripMargin
    ctes.mkString(",\n ")
  }

  /** Multi-probe LSH CTEs mirroring `VectorOps.lshTopKMultiProbe` (1
    * table, 8 planes, base + 7 margin-ordered single-bit flips):
    * per-plane signed projections for the 20 query vectors, flip order =
    * (|proj| asc, plane asc) — identical to the engine's (margin, mask)
    * struct sort because mask = 1<<j is monotonic in j — probe buckets by
    * XOR against the base bucket from `vb`, then the same bucketed
    * scoring → CTE r_mp. Composes after `annLsh` (needs v and vb).
    */
  private lazy val annLshMultiProbe =
    s"""qpr AS (SELECT vec_id, j,
       |     list_reduce(list_transform(range(1,65), i ->
       |       CASE WHEN (('0x' || substr(md5(j || '_' || (i-1)),1,15))::BIGINT & 1) = 1
       |            THEN embedding[i::INT]::DOUBLE ELSE -(embedding[i::INT]::DOUBLE) END),
       |       (x,y) -> x+y) proj
       |   FROM v CROSS JOIN range(0,8) r(j) WHERE vec_id < 20),
       | qrk AS (SELECT vec_id, j,
       |     row_number() OVER (PARTITION BY vec_id ORDER BY abs(proj), j) mr
       |   FROM qpr),
       | qpb AS (SELECT vec_id qid, embedding qe, nrm qn, bucket
       |     FROM vb WHERE vec_id < 20
       |   UNION ALL
       |   SELECT vb.vec_id, vb.embedding, vb.nrm,
       |     xor(vb.bucket, (1::BIGINT << qrk.j::INT))
       |   FROM vb JOIN qrk ON vb.vec_id = qrk.vec_id AND qrk.mr <= 7
       |   WHERE vb.vec_id < 20),
       | s_mp AS (SELECT q.qid, c.vec_id nid,
       |     ${dotSql("q.qe", "c.embedding")} / (q.qn * c.nrm) cos
       |   FROM vb c JOIN qpb q ON q.bucket = c.bucket AND q.qid <> c.vec_id),
       | r_mp AS (SELECT qid, nid, cos,
       |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
       |   FROM s_mp)""".stripMargin

  /** IVF-SQ8 CTEs mirroring `VectorOps.ivfTopKQuantizedWithCentroids`
    * over the trained codebook's cell ranking (composes after
    * `annIvfTrainedSql`, whose tcr/tiq CTEs it references): qscale =
    * 127/max|component| from one aggregate, corpus bytes =
    * clamp(floor(x·qscale), ±127), quantized norm = sqrt(Σq²)/qscale,
    * ADC score = (Σ q·f / qscale) / (qn·fn) — each op the exact double
    * sequence the Scala kernels run → CTE r_q8. The qn > 0 guard mirrors
    * the engine's fully-clamped-to-zero exclusion.
    */
  private lazy val annIvfQuantized =
    s"""qs AS (SELECT 127.0 / max(greatest(list_max(embedding),
       |     -list_min(embedding)))::DOUBLE qscale FROM v),
       | tqv AS (SELECT id nid, cid cell,
       |     list_transform(vec, x -> greatest(-127.0, least(127.0,
       |       floor(x::DOUBLE * qs.qscale)))) qv
       |   FROM tcr CROSS JOIN qs WHERE crk = 1),
       | tqc AS (SELECT nid, cell, qv,
       |     sqrt(list_reduce(list_transform(qv, q -> q * q), (x,y) -> x+y))
       |       / qs.qscale qn
       |   FROM tqv CROSS JOIN qs),
       | s_q8 AS (SELECT tiq.qid, tqc.nid,
       |     (list_reduce(list_transform(range(1,65), k ->
       |         tqc.qv[k::INT] * tiq.qv[k::INT]::DOUBLE), (x,y) -> x+y)
       |       / qs.qscale) / (tqc.qn * tiq.qn) cos
       |   FROM tqc JOIN tiq USING (cell) CROSS JOIN qs
       |   WHERE tiq.qid <> tqc.nid AND tqc.qn > 0),
       | r_q8 AS (SELECT qid, nid, cos,
       |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
       |   FROM s_q8)""".stripMargin

  /** SemDeDup oracle body parameterized on the centroid CTE — x42 (fixed
    * 8 seeds) and x65 (corpus-proportional k) share every other line, so
    * a semantics change edits ONE string. nrm > 0 matches semanticDedup's
    * sided() exclusion (zero-norm rows take no part in assignment or pair
    * cosines but survive in the output, which selects FROM embeddings).
    */
  private def semanticDedupSql(centCte: String): String =
    s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding,
       |     ${normSql("embedding")} nrm FROM embeddings) WHERE nrm > 0),
       | $centCte,
       | ca AS (SELECT v.vec_id id, v.embedding vec, v.nrm, cent.cid,
       |     ${dotSql("v.embedding", "cent.cv")} / (v.nrm * cent.cn) ccos
       |   FROM v CROSS JOIN cent),
       | ranked AS (SELECT id, vec, nrm, cid,
       |     row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) crk
       |   FROM ca),
       | cells AS (SELECT id, vec, nrm, cid cell FROM ranked WHERE crk = 1),
       | dropped AS (SELECT DISTINCT b.id FROM cells a JOIN cells b
       |   ON a.cell = b.cell AND a.id < b.id
       |   WHERE ${dotSql("a.vec", "b.vec")} / (a.nrm * b.nrm) >= 0.45)
       | SELECT vec_id FROM embeddings
       | WHERE vec_id NOT IN (SELECT id FROM dropped)
       | ORDER BY vec_id""".stripMargin

  /** Recall grade of deduplicated top-5 CTE `ap` against ground-truth CTE
    * `ex`, labeled `method` — ONE definition for every x61/x63 method row
    * (mirrors `VectorOps.annRecall`).
    */
  private def gradeSql(method: String, ap: String): String =
    s"""g_$ap AS (SELECT '$method' AS method, ex.qid, count(*)::BIGINT AS n_exact,
       |   sum(CASE WHEN $ap.nid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       |   floor(sum(CASE WHEN $ap.nid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |     * 10000 / count(*)::DOUBLE)::BIGINT AS recall_bp
       |   FROM ex LEFT JOIN $ap ON ex.qid = $ap.qid AND ex.nid = $ap.nid
       |   GROUP BY ex.qid)""".stripMargin

  /** PQ encode + ADC scoring CTEs over a codebook CTE `cbCte(s, j, cw,
    * cn2)` and the `annIvf` cells (ic/iq) — the ONE definition of the
    * argmin-d² encode (ties → lowest code) and ascending-subspace ADC
    * fold mirroring `VectorOps.ivfTopKPq`. Emits → CTE r_<pfx>. Shared
    * by [[annIvfPq]] (seed codebooks, pfx "pq" → r_pq) and
    * [[pqTrainedSql]] (trained codebooks) — an ADC-arithmetic fix lands
    * in every PQ oracle at once.
    */
  private def pqAdcSql(pfx: String, cbCte: String, dsub: Int): Seq[String] = Seq(
    s"""${pfx}x AS (SELECT ic.nid, ic.cell, c.s, c.j, c.cn2, c.cw,
       |   list_slice(ic.nv, c.s*$dsub + 1, c.s*$dsub + $dsub) xs
       | FROM ic CROSS JOIN $cbCte c)""".stripMargin,
    s"""${pfx}d AS (SELECT nid, cell, s, j, cn2, cw,
       |   (list_reduce(list_transform(xs, x -> x::DOUBLE * x::DOUBLE), (a,b) -> a + b)
       |    - 2 * ${dotNSql("xs", "cw", dsub)}
       |    + cn2) d2
       | FROM ${pfx}x)""".stripMargin,
    s"""${pfx}e AS (SELECT nid, cell, s, j, cn2, cw FROM
       |   (SELECT *, row_number() OVER (PARTITION BY nid, s ORDER BY d2, j) rk
       |    FROM ${pfx}d)
       | WHERE rk = 1)""".stripMargin,
    s"""${pfx}q AS (SELECT iq.qid, e.nid, iq.qn, e.s, e.cn2, e.cw,
       |   list_slice(iq.qv, e.s*$dsub + 1, e.s*$dsub + $dsub) qs
       | FROM ${pfx}e e JOIN iq ON iq.cell = e.cell AND iq.qid <> e.nid)""".stripMargin,
    s"""${pfx}ip AS (SELECT qid, nid, qn, s, cn2,
       |   ${dotNSql("qs", "cw", dsub)} ipsub
       | FROM ${pfx}q)""".stripMargin,
    s"""${pfx}g AS (SELECT qid, nid, qn,
       |   list_reduce(list(ipsub ORDER BY s), (a,b) -> a + b) ip,
       |   sqrt(list_reduce(list(cn2 ORDER BY s), (a,b) -> a + b)) rn
       | FROM ${pfx}ip GROUP BY qid, nid, qn)""".stripMargin,
    s"s_$pfx AS (SELECT qid, nid, ip / (qn * rn) cos FROM ${pfx}g WHERE rn > 0)",
    s"""r_$pfx AS (SELECT qid, nid, cos,
       |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
       | FROM s_$pfx)""".stripMargin)

  /** IVF-PQ CTEs mirroring `VectorOps.pqSeedCodebooks` (m=4 × ksub=16
    * slices of the 16 lowest-id vectors) + `ivfTopKPq`: argmin-d² encode
    * with ties → lowest code, ADC cosine with ascending-subspace ordered
    * folds → CTE r_pq. Composes after `annIvf` (needs its ic/iq cells);
    * shared by x87 (the index) and x91 (its recall grade).
    */
  private lazy val annIvfPq = (Seq(
    s"""pqseed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 j, embedding e
       |   FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16))""".stripMargin,
    s"""pqcb AS (SELECT r.s, j, list_slice(e, r.s*16 + 1, r.s*16 + 16) cw
       |   FROM pqseed CROSS JOIN range(0,4) r(s))""".stripMargin,
    s"""pqcb2 AS (SELECT s, j, cw,
       |     list_reduce(list_transform(cw, x -> x::DOUBLE * x::DOUBLE),
       |       (a,b) -> a + b) cn2
       |   FROM pqcb)""".stripMargin) ++ pqAdcSql("pq", "pqcb2", 16))
    .mkString(",\n ")

  /** TRAINED-PQ CTEs mirroring `VectorOps.pqTrainedCodebooks` (per-
    * subspace `kmeansCentroidsExact`: seed = ksub lowest-id SLICES with
    * zero-norm slices dropped after the limit, `iters` unrolled Lloyd
    * rounds of cosine-argmax assignment + exact integer-scaled mean
    * update — the annIvfTrainedSql arithmetic, over 16-component slices)
    * followed by the same encode/ADC plan as `annIvfPq` against the
    * trained codewords → CTE r_<pfx>. Codeword index j = positional rank
    * of the seed by vec_id (ties → lowest j ≡ the Scala array index).
    * Composes after `annIvf` (needs its ic/iq cells); every CTE is
    * pfx-prefixed so two codebook budgets coexist in one WITH.
    *
    * Declared asymmetry on DEGENERATE corpora (shared with
    * `annIvfTrainedSql`): a trained centroid that collapses to zero norm
    * makes the Scala trainer fail loudly (`require(cn > 0)`), while this
    * SQL would carry cn = 0 into the next round's cosine — the gate then
    * reports an engine error vs. oracle rows rather than two matching
    * failures. The fixtures' component scale (~0.1 ≫ 2^-20 quantization)
    * keeps both engines far from that regime.
    */
  private def pqTrainedSql(pfx: String, ksub: Int, iters: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    val m = 4
    val dsub = 16
    for (sub <- 0 until m) {
      val lo = sub * dsub + 1
      val hi = lo + dsub - 1
      val vCte = s"${pfx}v$sub"
      // sliced corpus view with per-slice norm (the frame the trainer sees)
      ctes += s"""$vCte AS (SELECT vec_id, embedding, sqrt(${dotNSql("embedding", "embedding", dsub)}) nrm
                 | FROM (SELECT vec_id, list_slice(embedding, $lo, $hi) embedding
                 |   FROM embeddings))""".stripMargin
      // seed: ksub lowest-id slices, zero-norm dropped AFTER the limit
      val seed = s"""(SELECT cid, cv, cn FROM (
                    |   SELECT vec_id cid, embedding cv, nrm cn FROM $vCte
                    |   ORDER BY vec_id LIMIT $ksub) WHERE cn > 0)""".stripMargin
      val (cb, fin) = lloydCbSql(s"${pfx}t$sub", vCte, dsub, seed, iters)
      ctes ++= cb
      // codebook rows of this subspace: j = positional index by seed id
      ctes += s"""${pfx}f$sub AS (SELECT $sub s,
                 |   row_number() OVER (ORDER BY cid) - 1 j, cv cw,
                 |   ${dotNSql("cv", "cv", dsub)} cn2 FROM $fin)""".stripMargin
    }
    ctes += (0 until m).map(sub => s"SELECT * FROM ${pfx}f$sub")
      .mkString(s"${pfx}cb2 AS (", " UNION ALL ", ")")
    // encode + ADC: the shared annIvfPq plan against the trained codewords
    ctes ++= pqAdcSql(pfx, s"${pfx}cb2", dsub)
    ctes.mkString(",\n ")
  }

  /** Shared SQL head of the x94/x102/x105 manifest-family oracles —
    * quality gate, canonical-text keep-min dedup, temperature balance
    * (mirrors [[manifestStages]]; `bal` carries source so the by-source
    * funnel can group on it, and x94/x102 simply ignore the column).
    * ONE definition, same drift rule as the banding fragments.
    */
  private lazy val manifestHeadSql =
    """q AS (SELECT doc_id, source, text,
      |     string_split(text,' ') w FROM documents),
      | ql AS (SELECT doc_id, source, text FROM q
      |   WHERE len(w) >= 20
      |     AND floor(length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
      |       * 10000 / length(text)::DOUBLE) >= 7000),
      | cn AS (SELECT doc_id, source, text,
      |     trim(regexp_replace(regexp_replace(
      |       trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
      |       '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) ct
      |   FROM ql),
      | keepd AS (SELECT min(doc_id) k FROM cn GROUP BY ct),
      | surv AS (SELECT doc_id, source, text FROM cn
      |   WHERE doc_id IN (SELECT k FROM keepd)),
      | c AS (SELECT source, count(*) n FROM surv GROUP BY source),
      | m AS (SELECT min(n) nmin FROM c),
      | r AS (SELECT source,
      |     floor(10000 * sqrt(nmin::DOUBLE / n::DOUBLE))::BIGINT rate_bp
      |   FROM c, m),
      | bal AS (SELECT s.doc_id, s.source, s.text FROM surv s
      |   JOIN r ON s.source IS NOT DISTINCT FROM r.source
      |   WHERE ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 15))::BIGINT
      |     % 10000 < r.rate_bp)""".stripMargin

  /** Each query body above its DuckDB mirror. The oracle strings are built
    * when the object initialises, so the catalog sits below every strict
    * `val` they read: placed above one, it would read `null`.
    */
  val catalog: Map[String, QueryCase] = QueryCase.catalog(
    // x16 — token counting (whitespace, alpha runs, BPE-ish segmentation).
    "x16_text_tokens" -> QueryCase({ (s, dir) =>
      TextOps.tokenCounts(spread(t(s, dir, "documents")))
        .select("doc_id", "ws_tokens", "alpha_tokens", "bpe_tokens")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | len(string_split(text,' '))::BIGINT AS ws_tokens,
        | len(regexp_extract_all(text,'[a-z]+'))::BIGINT AS alpha_tokens,
        | len(regexp_extract_all(text,'[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens
        | FROM documents ORDER BY doc_id""".stripMargin),

    // x17 — quality-score signals (C4/Gopher-style filters), basis points.
    "x17_text_quality" -> QueryCase({ (s, dir) =>
      TextOps.qualityScore(spread(t(s, dir, "documents")))
        .select("doc_id", "n_words", "avg_word_len_bp", "stop_ratio_bp",
          "alpha_ratio_bp")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | len(string_split(text,' '))::BIGINT AS n_words,
        | floor((len(text) - len(string_split(text,' ')) + 1)::DOUBLE * 10000 / len(string_split(text,' '))::DOUBLE)::BIGINT AS avg_word_len_bp,
        | floor(len(list_filter(string_split(text,' '), x -> list_contains(['the','a','of','and','in'], x)))::DOUBLE * 10000 / len(string_split(text,' '))::DOUBLE)::BIGINT AS stop_ratio_bp,
        | floor(len(regexp_replace(text,'[^a-z]','','g'))::DOUBLE * 10000 / len(text)::DOUBLE)::BIGINT AS alpha_ratio_bp
        | FROM documents ORDER BY doc_id""".stripMargin),

    // x18 — char-trigram-profile language ID (n-gram heuristic).
    "x18_lang_id" -> QueryCase({ (s, dir) =>
      TextOps.langId(spread(t(s, dir, "documents")))
        .select("doc_id", "pred_lang", "pred_hits")
        .orderBy("doc_id")
    }, oracle = {
      // relational trigram scoring (triScoreCtesSql — r19): struct max
      // ≙ Spark array_max (field-order comparison, ties break on the
      // lexicographically-largest lang); a doc with NO profile hits
      // joins nothing → the 'und' arm, exactly the all-zero argmax.
      s"""WITH tr AS (SELECT doc_id, list_distinct(list_transform(
         |   range(1, greatest(len(text)-2,0)+1), i -> substr(text,i::INT,3))) tri
         |  FROM documents),
         | $triScoreCtesSql
         | SELECT tr.doc_id,
         |   CASE WHEN mm.m.hits IS NULL THEN 'und'
         |        ELSE mm.m.lang END AS pred_lang,
         |   coalesce(mm.m.hits, 0)::BIGINT AS pred_hits
         | FROM tr LEFT JOIN mm ON mm.doc_id = tr.doc_id
         | ORDER BY tr.doc_id""".stripMargin
    }),

    // x19 — bottom-k sketch document fingerprint.
    "x19_fingerprint" -> QueryCase({ (s, dir) =>
      TextOps.fingerprint(spread(t(s, dir, "documents")))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | array_to_string(list_sort(list_transform(list_distinct(
        |   list_transform(range(1, greatest(len(text)-7,0)+1), i -> substr(text,i::INT,8))),
        |   s -> md5(s)))[1:4], '') AS fp
        | FROM documents ORDER BY doc_id""".stripMargin),

    // x20 — exact dedup by content hash (keep min doc_id per md5(text)).
    "x20_dedup_exact" -> QueryCase({ (s, dir) =>
      DedupOps.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id FROM (
        | SELECT min(doc_id) AS doc_id FROM documents
        |   WHERE text IS NOT NULL GROUP BY md5(text)
        | UNION ALL SELECT doc_id FROM documents WHERE text IS NULL
        |) ORDER BY doc_id""".stripMargin),

    // x21 — n-gram Jaccard near-dup pairs via shingle equi-join (no cross
    // join anywhere: the shuffle key is the shingle).
    "x21_dedup_ngram_jaccard" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      DedupOps.ngramJaccardPairs(d, "doc_id",
          TextOps.wordShingles(col("text"), 3), 0.5)
        .orderBy("i", "j")
    }, oracle =
      s"""$word3gramShingles,
         | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         | $exactInterSql
         | SELECT i, j,
         |   floor(c::DOUBLE * 10000 / (na.n + nb.n - c)::DOUBLE)::BIGINT AS jaccard_bp
         | FROM inter JOIN n na ON na.doc_id = i JOIN n nb ON nb.doc_id = j
         | WHERE $jaccardHitSql
         | ORDER BY i, j""".stripMargin),

    // x22 — MinHash+LSH candidate pairs (16 hashes, 4 bands × 4 rows:
    // P(candidate) = 1-(1-J^4)^4 → J=0.99 caught, J=0.1 ~4e-4).
    "x22_dedup_minhash_lsh" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      DedupOps.minhashLshCandidates(d, "doc_id",
          TextOps.wordShingles(col("text"), 3), numHashes = 16, bandRows = 4)
        .orderBy("i", "j")
    }, oracle =
      s"""$word3gramShingles,
         | $minhashBsigSql
         | SELECT a.doc_id i, b.doc_id j, count(*)::BIGINT AS bands
         | FROM bsig a JOIN bsig b
         |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         | JOIN okb ON okb.band = a.band AND okb.sig = a.sig
         | GROUP BY 1, 2 ORDER BY i, j""".stripMargin),

    // x23 — SimHash near-dup pairs (60-bit code, hamming ≤ 3).
    "x23_dedup_simhash" -> QueryCase({ (s, dir) =>
      DedupOps.simhashPairs(spread(t(s, dir, "documents")), "doc_id", "text", 3)
        .orderBy("i", "j")
    }, oracle =
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) word FROM documents),
        | h AS (SELECT doc_id, ('0x' || substr(md5(word),1,15))::BIGINT hash FROM w),
        | bits AS (SELECT doc_id, b,
        |     SUM(CASE WHEN ((hash >> b::INT) & 1) = 1 THEN 1 ELSE -1 END) s
        |   FROM h CROSS JOIN (SELECT unnest(range(0,60)) b) GROUP BY doc_id, b),
        | sim AS (SELECT doc_id,
        |     SUM(CASE WHEN s > 0 THEN (1::BIGINT << b::INT) ELSE 0 END) sh
        |   FROM bits GROUP BY doc_id)
        | SELECT a.doc_id i, b.doc_id j, bit_count(xor(a.sh, b.sh))::BIGINT AS ham
        | FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.sh, b.sh)) <= 3 ORDER BY i, j""".stripMargin),

    // x24 — embedding-cosine near-dup pairs (brute-force exact baseline).
    "x24_dedup_embedding" -> QueryCase({ (s, dir) =>
      DedupOps.embeddingNearDup(spread(t(s, dir, "embeddings")), "vec_id",
          "embedding", 0.45)
        .orderBy("i", "j")
    }, oracle =
      // nrm > 0 matches embeddingNearDup's sided() exclusion — DuckDB's
      // NaN-is-greatest would otherwise pass `cos >= 0.45` for a
      // zero-norm row Spark excludes
      s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding,
         |     ${normSql("embedding")} nrm FROM embeddings) WHERE nrm > 0),
         | p AS (SELECT a.vec_id i, b.vec_id j,
         |     ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) cos
         |   FROM v a JOIN v b ON a.vec_id < b.vec_id)
         | SELECT i, j, floor(cos * 10000)::BIGINT AS cos_bp
         | FROM p WHERE cos >= 0.45 ORDER BY i, j""".stripMargin),

    // x25 — exact ANN baseline: brute-force cosine top-5 for 20 query
    // vectors (corpus scanned once, queries broadcast).
    "x25_ann_topk" -> QueryCase({ (s, dir) =>
      annTruth(s, dir).orderBy("qid", "nid")
    }, oracle =
      s"""WITH $annV,
         | $annBrute
         | SELECT qid, nid, rk::BIGINT AS rk, floor(cos * 10000)::BIGINT AS cos_bp
         | FROM r_ex WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x26 — LSH-bucketed ANN (8 random hyperplanes → 256 buckets); the
    // scale path: corpus partitions by bucket, queries probe one bucket.
    "x26_ann_lsh" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      VectorOps.lshTopK(e.filter(col("vec_id") < 20), e, "vec_id",
          "embedding", 5, dim = 64, numPlanes = 8)
        .orderBy("qid", "nid")
    }, oracle =
      s"""WITH $annV,
         | $annLsh
         | SELECT qid, nid, rk::BIGINT AS rk, floor(cos * 10000)::BIGINT AS cos_bp
         | FROM r_ap WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x35 — IVF ANN (8 deterministic seed centroids, 2-probe): the other
    // classic scale path next to LSH (x26). Corpus shuffles once on its
    // cell id; queries probe 2/8 of the data.
    "x35_ann_ivf" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      VectorOps.ivfTopK(e.filter(col("vec_id") < 20), e, "vec_id",
          "embedding", 5, numCentroids = 8, nProbe = 2)
        .orderBy("qid", "nid")
    }, oracle =
      s"""WITH $annV,
         | $annIvf
         | SELECT qid, nid, rk::BIGINT AS rk, floor(cos * 10000)::BIGINT AS cos_bp
         | FROM r_ivf WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x39 — fixed-interval resample + forward gap-fill (TimeOps): hourly
    // per-user max(value), densified over each user's active span.
    "x39_resample_fill" -> QueryCase({ (s, dir) =>
      TimeOps.resampleFill(t(s, dir, "events"), "user_id", "ts", "value",
          3600L * 1000000L)
        .select(col("user_id"), col("b"),
          floor(col("fv") * 10000).cast(LongType).as("v_bp"))
        .orderBy("user_id", "b")
    }, oracle =
      """WITH e AS (SELECT user_id, floor(epoch_us(ts) / 3600000000)::BIGINT b,
        |     max(value) v
        |   FROM events GROUP BY 1, 2),
        | r AS (SELECT user_id, min(b) mn, max(b) mx FROM e GROUP BY user_id),
        | g AS (SELECT user_id, unnest(range(mn, mx + 1)) b FROM r),
        | f AS (SELECT g.user_id, g.b, e.v FROM g LEFT JOIN e USING (user_id, b)),
        | filled AS (SELECT user_id, b,
        |     last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) fv
        |   FROM f)
        | SELECT user_id, b, floor(fv * 10000)::BIGINT AS v_bp
        | FROM filled ORDER BY user_id, b""".stripMargin),

    // x38 — keyed interval join (bucketed range-join plan): clicks within
    // one hour AFTER each purchase, counted per purchase.
    "x38_interval_join" -> QueryCase({ (s, dir) =>
      val e = t(s, dir, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id"), col("ts").as("cts"))
      JoinOps.intervalJoin(p, c, "user_id", "pts", "cts", 3600L * 1000000L)
        .groupBy(col("pid")).agg(count(lit(1)).as("n_clicks"))
        .orderBy("pid")
    }, oracle =
      """WITH p AS (SELECT event_id pid, user_id, ts pts FROM events
        |   WHERE event_type = 'purchase'),
        | c AS (SELECT event_id cid, user_id, ts cts FROM events
        |   WHERE event_type = 'click')
        | SELECT pid, count(*)::BIGINT AS n_clicks
        | FROM p JOIN c USING (user_id)
        | WHERE cts >= pts AND cts <= pts + INTERVAL 1 HOUR
        | GROUP BY pid ORDER BY pid""".stripMargin),

    // x37 — repetition signals (Gopher-style filters): duplicate-word and
    // duplicate-bigram fractions in basis points.
    "x37_text_repetition" -> QueryCase({ (s, dir) =>
      TextOps.repetitionScore(spread(t(s, dir, "documents")))
        .select("doc_id", "n_words", "dup_word_bp", "dup_bigram_bp")
        .orderBy("doc_id")
    }, oracle =
      """WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents)
        | SELECT doc_id, len(w)::BIGINT AS n_words,
        |   floor((len(w) - len(list_distinct(w)))::DOUBLE * 10000
        |     / len(w)::DOUBLE)::BIGINT AS dup_word_bp,
        |   CASE WHEN len(w) > 1 THEN
        |     floor(((len(w) - 1) - len(list_distinct(list_transform(
        |         range(1, len(w)), k -> w[k::INT] || ' ' || w[k::INT + 1]))))::DOUBLE
        |       * 10000 / (len(w) - 1)::DOUBLE)::BIGINT
        |   ELSE 0 END AS dup_bigram_bp
        | FROM w ORDER BY doc_id""".stripMargin),

    // x36 — PII redaction (C4/Dolma-style corpus scrubbing). The fixtures
    // carry no real PII, so the query plants deterministic email/IP/phone
    // spans derived from doc_id, then redacts — both engines synthesize and
    // scrub the identical string.
    "x36_pii_redact" -> QueryCase({ (s, dir) =>
      val planted = spread(t(s, dir, "documents")).withColumn("text", concat(
        lit("mail u"), col("doc_id").cast("string"),
        lit("@ex.com on 10.0.0."), (col("doc_id") % 200).cast("string"),
        lit(" call +1-555-000-"), col("doc_id").cast("string"),
        lit(" "), substring(col("text"), 1, 40)))
      TextOps.redactPii(planted)
        .select("doc_id", "red", "n_email", "n_ip", "n_phone")
        .orderBy("doc_id")
    }, oracle =
      """WITH p AS (SELECT doc_id,
        |     'mail u' || doc_id || '@ex.com on 10.0.0.' || (doc_id % 200)
        |       || ' call +1-555-000-' || doc_id || ' ' || substr(text, 1, 40) AS text
        |   FROM documents)
        | SELECT doc_id,
        |   regexp_replace(regexp_replace(regexp_replace(text,
        |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |       '\+[0-9][0-9 -]{6,}[0-9]', '<PHONE>', 'g') AS red,
        |   length(regexp_extract_all(text,
        |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT AS n_email,
        |   length(regexp_extract_all(text,
        |       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT AS n_ip,
        |   length(regexp_extract_all(text,
        |       '\+[0-9][0-9 -]{6,}[0-9]'))::BIGINT AS n_phone
        | FROM p ORDER BY doc_id""".stripMargin),

    // x27 — backward as-of join (union+window plan, JoinOps): for each
    // purchase, the user's most recent click at-or-before it.
    "x27_asof_join" -> QueryCase({ (s, dir) =>
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      JoinOps.asOfJoinBackward(purchases, clicks, "user_id", "ts",
          Seq("click_id", "click_ts"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          (graft.ops.TsCompat.micros(col("ts")) -
            graft.ops.TsCompat.micros(col("click_ts"))).as("delay_us"))
        .orderBy("event_id")
    }, oracle =
      s"""$purchasesAndClicksSql
        | SELECT p.event_id, p.user_id, c.click_id,
        |   epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
        | FROM p ASOF LEFT JOIN clicks c
        |   ON p.user_id = c.user_id AND p.ts >= c.ts
        | ORDER BY p.event_id""".stripMargin),

    // x28 — running windowed aggregation + lag over event time.
    "x28_window_running" -> QueryCase({ (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (round(sum(col("value").cast(DecimalType(38, 6))).over(wf), 4) * 10000)
            .cast(LongType).as("run_total_e4"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 4)
        |   * 10000 AS BIGINT) AS run_total_e4,
        | lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        | FROM events ORDER BY event_id""".stripMargin),

    // x29 — corpus dedup statistics (exact counts → oracle-able summary).
    "x29_dedup_stats" -> QueryCase({ (s, dir) =>
      t(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .select(col("n_docs"), col("n_unique"),
          TextOps.bp(col("n_docs") - col("n_unique"), col("n_docs")).as("dup_ratio_bp"))
    }, oracle =
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        | floor((count(*) - count(DISTINCT md5(text)))::DOUBLE * 10000
        |   / count(*)::DOUBLE)::BIGINT AS dup_ratio_bp
        | FROM documents""".stripMargin),

    // x30 — CUBE grouping sets over the corpus dimensions.
    "x30_cube" -> QueryCase({ (s, dir) =>
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
    }, oracle =
      """SELECT lang, source, count(*) AS cnt FROM documents
        | GROUP BY CUBE(lang, source)
        | ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin),

    // x47 — explicit GROUPING SETS (the third grouping-sets form next to
    // CUBE x30 and ROLLUP q13): per-lang and per-source marginals plus the
    // grand total, in one expand + partial agg.
    "x47_grouping_sets" -> QueryCase({ (s, dir) =>
      t(s, dir, "documents")
        .groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq.empty),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
    }, oracle =
      """SELECT lang, source, count(*) AS cnt FROM documents
        | GROUP BY GROUPING SETS ((lang), (source), ())
        | ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin),

    // x31 — full outer join of per-nation aggregates.
    "x31_full_outer" -> QueryCase({ (s, dir) =>
      val cc = t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("c_cnt"))
      val sc = t(s, dir, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("s_cnt"))
      cc.join(sc, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("k"),
          col("c_cnt"), col("s_cnt"))
        .orderBy("k")
    }, oracle =
      """WITH cc AS (SELECT c_nationkey, count(*) c_cnt FROM customer GROUP BY 1),
        | sc AS (SELECT s_nationkey, count(*) s_cnt FROM supplier GROUP BY 1)
        | SELECT coalesce(cc.c_nationkey, sc.s_nationkey) AS k, cc.c_cnt, sc.s_cnt
        | FROM cc FULL OUTER JOIN sc ON cc.c_nationkey = sc.s_nationkey
        | ORDER BY k""".stripMargin),

    // x32 — EXCEPT set op (users who errored but never made a purchase of
    // value >= 150). The value cut keeps the gate non-empty: every fixture
    // user has some purchase, and a 0-row gate passes a plan that drops
    // every row.
    "x32_except" -> QueryCase({ (s, dir) =>
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "error").select(col("user_id"))
        .except(ev.filter(col("event_type") === "purchase" &&
          col("value") >= 150).select(col("user_id")))
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id FROM events WHERE event_type = 'error'
        | EXCEPT
        | SELECT user_id FROM events
        | WHERE event_type = 'purchase' AND value >= 150
        | ORDER BY user_id""".stripMargin),

    // x33 — approximate aggregates (HLL distinct, quantile sketch). Raw
    // sketch values differ across engines, so the oracle-able contract is:
    // exact values (cross-engine comparable) + in-query error-bound checks
    // on the sketches emitted as 0/1 longs (the oracle asserts 1). The
    // bound check stays in integer arithmetic (|apx−exact|·100 ≤ exact·5,
    // i.e. 5% relative error; HLL rsd=0.02 and a 1000-bucket KLL-style
    // percentile sketch sit comfortably inside it, deterministically —
    // both sketches are hash-based, not randomized).
    // Plan note: each distinct column gets its OWN aggregate — two
    // count_distincts + a sort-based percentile in one agg makes Catalyst
    // expand every input row once per distinct group (observed 8s vs 2s at
    // sf0.1). Three independent 1-row aggs cross-joined cost three narrow
    // scans instead. Within each distinct agg, `distinct().agg(count)`
    // beats `agg(count_distinct)`: the map side combines down to the
    // distinct values BEFORE the shuffle and no Expand is planned for the
    // exact+HLL pair (measured 2.87s → re-measured after; HLL over the
    // distinct set is the same estimate since HLL is duplicate-blind).
    "x33_approx_stats" -> QueryCase({ (s, dir) =>
      val li = t(s, dir, "lineitem")
      val parts = li.select("l_partkey").distinct().agg(
        count(lit(1)).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("__ap"))
      val supps = li.select("l_suppkey").distinct().agg(
        count(lit(1)).as("exact_supps"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("__as"))
      // Exact median via the distributed three-pass histogram kernel
      // (StatOps, the x50 plan) instead of Spark's `percentile`: the
      // built-in is a TypedImperativeAggregate that builds a value→count
      // map per partition and merges ALL of them on one reducer — profiled
      // at 1.86s of x33's 2.87s at sf0.1, and sized by distinct values
      // (unbounded at 100 TB). The histogram kernel is map-side-combinable
      // counts end-to-end. Rank-vs-interpolated median differs by ≤1 value
      // gap — far inside the 5% sketch bound this flag checks.
      val approxMed = li.agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("__am"))
      val exactMed = StatOps.exactQuantiles(
          li.select(col("l_extendedprice")).withColumn("g", lit(1)),
          "g", "l_extendedprice", Seq(("__em", 1L, 2L)))
        .select(col("__em"))
      val med = approxMed.crossJoin(exactMed)
      parts.crossJoin(supps).crossJoin(med)
        .select(col("exact_parts"), col("exact_supps"),
          (abs(col("__ap") - col("exact_parts")) * lit(100L) <=
            col("exact_parts") * lit(5L)).cast("long").as("parts_ok"),
          (abs(col("__as") - col("exact_supps")) * lit(100L) <=
            col("exact_supps") * lit(5L)).cast("long").as("supps_ok"),
          (abs(col("__am") - col("__em")) <= col("__em") * lit(0.05))
            .cast("long").as("median_ok"))
    }, oracle =
      // x33: the sketch values themselves are engine-specific, so the query
      // emits exact values plus in-query error-bound flags; the oracle checks
      // the exact values and asserts the flags are 1.
      """SELECT count(DISTINCT l_partkey)::BIGINT AS exact_parts,
        |   count(DISTINCT l_suppkey)::BIGINT AS exact_supps,
        |   1::BIGINT AS parts_ok, 1::BIGINT AS supps_ok, 1::BIGINT AS median_ok
        | FROM lineitem""".stripMargin),

    // x40 — near-dup CLUSTERS: connected components over the Jaccard pair
    // graph (pairs → clusters is what "keep one per duplicate group"
    // actually needs; A~B, B~C must collapse to one component).
    "x40_dedup_clusters" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pairs = DedupOps.ngramJaccardPairs(d, "doc_id",
        TextOps.wordShingles(col("text"), 3), 0.5)
      DedupOps.connectedComponents(pairs, "i", "j")
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE ${word3gramCtes("documents")},
        | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        | $exactInterSql,
        | $jaccardPairsSql,
        | $reachSql
        | SELECT a AS doc_id, least(a, min(b)) AS component
        | FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),

    // x41 — deterministic train/val/test split by id hash (80/10/10):
    // reproducible across runs/engines/partitionings, stable under corpus
    // growth — the hash-mod idiom every large corpus pipeline uses.
    "x41_hash_split" -> QueryCase({ (s, dir) =>
      SampleOps.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq(("train", 8000), ("val", 9000), ("test", 10000)))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        | CASE WHEN h < 8000 THEN 'train' WHEN h < 9000 THEN 'val'
        |      ELSE 'test' END AS split
        | FROM (SELECT doc_id,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS h
        |   FROM documents)
        | ORDER BY doc_id""".stripMargin),

    // x42 — semantic dedup (SemDeDup): cluster embeddings to 8 seed cells,
    // drop the higher id of every within-cell cosine ≥ 0.45 pair.
    "x42_semantic_dedup" -> QueryCase({ (s, dir) =>
      VectorOps.semanticDedup(spread(t(s, dir, "embeddings")), "vec_id",
          "embedding", numCentroids = 8, threshold = 0.45)
        .orderBy("vec_id")
    }, oracle =
      semanticDedupSql(s"cent AS ${seedCentSql(8)}")),

    // x65 — SemDeDup at the scale sizing: centroid count grows with the
    // corpus (k = max(8, n/32)) so expected cell size — and the per-cell
    // pair term — stays constant across decades, where x42's pinned k=8
    // is quadratic (the one scaling row r9 left unmeasured).
    "x65_semantic_dedup_scaled" -> QueryCase({ (s, dir) =>
      VectorOps.semanticDedupScaled(spread(t(s, dir, "embeddings")),
          "vec_id", "embedding", perCell = 32, threshold = 0.45)
        .orderBy("vec_id")
    }, oracle =
      // corpus-proportional centroid count: k = greatest(8, n // 32)
      // over the FULL embeddings table (semanticDedupScaled counts vecs
      // before sided()'s zero-norm exclusion), seeds = the k lowest-id
      // vectors with zero-norm seeds dropped AFTER the limit — the same
      // limit-then-filter order as seedCentSql, with row_number standing
      // in for the dynamic LIMIT
      semanticDedupSql(
        s"""nk AS (SELECT greatest(8, count(*) // 32) k FROM embeddings),
           | cent AS (SELECT cid, cv, cn FROM (
           |     SELECT vec_id cid, embedding cv, ${normSql("embedding")} cn,
           |       row_number() OVER (ORDER BY vec_id) rn FROM embeddings)
           |   CROSS JOIN nk WHERE rn <= k AND cn > 0)""".stripMargin)),

    // x44 — token-budget shard packing (sequence packing stage 1): docs in
    // id order fill contiguous ~10k-token shards; distributed prefix sum,
    // never a global ordered window over the corpus.
    "x44_shard_pack" -> QueryCase({ (s, dir) =>
      val toks = TextOps.tokenCounts(spread(t(s, dir, "documents")))
        .select(col("doc_id"), col("ws_tokens"))
      SampleOps.packShards(toks, "doc_id", "ws_tokens", budget = 10000L,
          bucketSize = 100L)
        .select(col("doc_id"), col("shard"))
        .orderBy("doc_id")
    }, oracle =
      """WITH tk AS (SELECT doc_id, len(string_split(text,' '))::BIGINT tok
        |   FROM documents),
        | r AS (SELECT doc_id, tok,
        |     SUM(tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) run
        |   FROM tk)
        | SELECT doc_id, floor((run - tok)::DOUBLE / 10000)::BIGINT AS shard
        | FROM r ORDER BY doc_id""".stripMargin),

    // x45 — corpus vocabulary: top-25 whitespace tokens by frequency
    // (vocab building / BPE seeding): map-side-combined count + top-k.
    "x45_vocab_topk" -> QueryCase({ (s, dir) =>
      TextOps.vocabTopK(spread(t(s, dir, "documents")), 25)
    }, oracle =
      """WITH w AS (SELECT unnest(string_split(text,' ')) word FROM documents)
        | SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY word
        | ORDER BY cnt DESC, word LIMIT 25""".stripMargin),

    // x46 — sliding-window chunking: 20-token chunks, 4-token overlap
    // (context-window splitting before tokenization/packing).
    "x46_chunk_windows" -> QueryCase({ (s, dir) =>
      TextOps.chunkTokens(spread(t(s, dir, "documents")), "doc_id",
          chunkSize = 20, overlap = 4)
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      """WITH w AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        | c AS (SELECT doc_id, w,
        |     unnest(range(0, greatest(0,
        |       ceil((len(w)-20)::DOUBLE / 16)::BIGINT) + 1)) s FROM w)
        | SELECT doc_id, s::BIGINT AS chunk_idx,
        |   array_to_string(w[(s*16+1)::INT:(s*16+20)::INT], ' ') AS chunk_text
        | FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // x43 — benchmark decontamination: distinct 3-gram overlap between each
    // corpus doc and a (stand-in) benchmark set, docs 0-2. The benchmark
    // shingle set broadcasts; the corpus never shuffles on the shingle key.
    "x43_decontaminate" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val sh = TextOps.wordShingles(col("text"), 3)
      DedupOps.contaminationHits(d.filter(col("doc_id") >= 3), "doc_id", sh,
          d.filter(col("doc_id") < 3), sh)
        .orderBy("doc_id")
    }, oracle =
      s"""$word3gramShingles,
         | bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 3)
         | SELECT sh.doc_id, count(DISTINCT sh.s)::BIGINT AS n_hits
         | FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 3
         | GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin),

    // x48 — gap-based sessionization: 30-minute inactivity closes a user's
    // session. Single key shuffle; lag + running sum share one window sort.
    "x48_sessionize" -> QueryCase({ (s, dir) =>
      TimeOps.sessionize(t(s, dir, "events"), "user_id", "ts", "event_id",
          gapMicros = 1800L * 1000000L)
        .select(col("user_id"), col("event_id"), col("session_idx"))
        .orderBy("user_id", "event_id")
    }, oracle =
      """WITH o AS (SELECT user_id, event_id, ts, epoch_us(ts) u,
        |     lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) p
        |   FROM events)
        | SELECT user_id, event_id,
        |   sum(CASE WHEN p IS NULL OR u - p > 1800000000 THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |     AS session_idx
        | FROM o ORDER BY user_id, event_id""".stripMargin),

    // x49 — pivot (priority × status order counts): Spark's pivot relational
    // operator with explicit value list (no extra distinct-values scan);
    // one expand + partial agg, same shape as CUBE.
    "x49_pivot" -> QueryCase({ (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("cnt_o"),
          coalesce(col("F"), lit(0L)).as("cnt_f"),
          coalesce(col("P"), lit(0L)).as("cnt_p"))
        .orderBy("o_orderpriority")
    }, oracle =
      """SELECT o_orderpriority,
        | sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS cnt_o,
        | sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS cnt_f,
        | sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS cnt_p
        | FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // x50 — EXACT per-group percentiles (p50/p90/p99 of extended price) via
    // StatOps.exactQuantiles: two-pass histogram selection with position =
    // ceil(p·n) in pure integer math — engine-portable, no interpolation,
    // and scale-correct (a window/row_number plan would sort each group
    // through one task; the histogram plan only sorts the target buckets).
    "x50_percentile" -> QueryCase({ (s, dir) =>
      StatOps.exactQuantiles(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice",
          Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
        .select(col("l_returnflag"),
          floor(col("p50") * 100).cast(LongType).as("p50_c"),
          floor(col("p90") * 100).cast(LongType).as("p90_c"),
          floor(col("p99") * 100).cast(LongType).as("p99_c"))
        .orderBy("l_returnflag")
    }, oracle =
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |     row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) rn,
        |     count(*) OVER (PARTITION BY l_returnflag) n
        |   FROM lineitem)
        | SELECT l_returnflag,
        |   floor(min(CASE WHEN rn = (n+1)//2 THEN l_extendedprice END)*100)::BIGINT AS p50_c,
        |   floor(min(CASE WHEN rn = (9*n+9)//10 THEN l_extendedprice END)*100)::BIGINT AS p90_c,
        |   floor(min(CASE WHEN rn = (99*n+99)//100 THEN l_extendedprice END)*100)::BIGINT AS p99_c
        | FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // x55 — contiguous 0-based global row index in (n_chars desc, doc_id)
    // order: distributed prefix sum over a range repartition — never a
    // global row_number window.
    "x55_row_index" -> QueryCase({ (s, dir) =>
      SampleOps.globalRowIndex(t(s, dir, "documents"),
          Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("idx"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |   (row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1)::BIGINT AS idx
        | FROM documents ORDER BY doc_id""".stripMargin),

    // x56 — ANALYZE-style numeric column profile: one scan, one row per
    // column (count / nulls / exact distinct / min / max).
    "x56_profile" -> QueryCase({ (s, dir) =>
      StatOps.profile(t(s, dir, "lineitem"),
          Seq("l_discount", "l_extendedprice", "l_quantity"))
        .orderBy("col_name")
    }, oracle = Seq("l_discount", "l_extendedprice", "l_quantity").map { c =>
      s"""SELECT '$c' AS col_name, count($c)::BIGINT AS n,
         | (count(*) - count($c))::BIGINT AS n_null,
         | count(DISTINCT $c)::BIGINT AS n_distinct,
         | min($c)::DOUBLE AS min_v, max($c)::DOUBLE AS max_v
         | FROM lineitem""".stripMargin
    }.mkString("", " UNION ALL ", " ORDER BY col_name")),

    // x57 — rare-token ratio: share of token occurrences with corpus
    // document-frequency < 3 — the corpus-relative garbage/noise signal.
    "x57_rare_tokens" -> QueryCase({ (s, dir) =>
      TextOps.rareTokenRatio(spread(t(s, dir, "documents")), "doc_id", minDf = 3L)
        .select("doc_id", "n_tokens", "n_rare", "rare_bp")
        .orderBy("doc_id")
    }, oracle =
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |   FROM documents),
        | dfq AS (SELECT tok, count(DISTINCT doc_id) AS dfc FROM w GROUP BY tok)
        | SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |   sum(CASE WHEN dfc < 3 THEN 1 ELSE 0 END)::BIGINT AS n_rare,
        |   floor(sum(CASE WHEN dfc < 3 THEN 1 ELSE 0 END)::DOUBLE * 10000
        |     / count(*)::DOUBLE)::BIGINT AS rare_bp
        | FROM w JOIN dfq USING (tok)
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // x58 — temperature (α=1/2) domain rebalancing: per-source keep rates
    // √(n_min/n_d) computed from the corpus, rows picked by id-hash.
    "x58_temperature_sample" -> QueryCase({ (s, dir) =>
      SampleOps.temperatureSample(t(s, dir, "documents"), "doc_id", "source")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }, oracle =
      """WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents
        |   GROUP BY source),
        | m AS (SELECT min(n) AS nmin FROM c),
        | r AS (SELECT source,
        |     floor(10000 * sqrt(nmin::DOUBLE / n::DOUBLE))::BIGINT AS rate_bp
        |   FROM c, m)
        | SELECT d.doc_id, d.source FROM documents d
        | JOIN r ON d.source IS NOT DISTINCT FROM r.source
        | WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
        |   % 10000 < r.rate_bp
        | ORDER BY d.doc_id""".stripMargin),

    // x59 — per-source power-of-two length histogram (exact integer
    // buckets via base-2 digit count): the packing/batching size profile.
    "x59_length_buckets" -> QueryCase({ (s, dir) =>
      StatOps.lengthBuckets(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("source", "len_bucket")
    }, oracle =
      """SELECT source, length(printf('%b', n_chars))::BIGINT AS len_bucket,
        | count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS sum_len,
        | min(n_chars)::BIGINT AS min_len, max(n_chars)::BIGINT AS max_len
        | FROM documents GROUP BY 1, 2 ORDER BY source, len_bucket""".stripMargin),

    // x60 — incremental dedup: new snapshot (doc_id >= 250) deduped against
    // the existing corpus (doc_id < 250) by exact hash + 3-gram Jaccard.
    "x60_incremental_dedup" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      DedupOps.incrementalDedup(
          d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250),
          "doc_id", "text", TextOps.wordShingles(col("text"), 3), 0.5)
        .orderBy("doc_id")
    }, oracle = incrementalDedupSql),

    // x62 — multi-table LSH ANN (4 independent tables): the recall remedy
    // the x61 gate prescribes for the single-table path, recall 1-(1-r)^4.
    "x62_ann_lsh_multi" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      VectorOps.lshTopKMultiTable(e.filter(col("vec_id") < 20), e, "vec_id",
          "embedding", 5, dim = 64, numPlanes = 8, numTables = 4)
        .orderBy("qid", "nid")
    }, oracle =
      s"""WITH $annV,
         | $annLshMulti
         | SELECT qid, nid, rk::BIGINT AS rk, floor(cos * 10000)::BIGINT AS cos_bp
         | FROM r_mt WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x61 — ANN recall@5: BOTH approximate paths (LSH x26, IVF x35) graded
    // against brute-force ground truth (x25), per query — the index-quality
    // gate an embedding pipeline runs before trusting an approximate index.
    // (On this fixture's near-random embeddings the single-table 8-bit LSH
    // scores ~0 — which is the point of the gate; IVF nProbe=2 does better.)
    "x61_ann_recall" -> QueryCase({ (s, dir) =>
      val exact = annTruth(s, dir)
      val lsh = VectorOps.annRecall(queries("x26_ann_lsh")(s, dir),
        exact, "qid", "nid").withColumn("method", lit("lsh"))
      val ivf = VectorOps.annRecall(queries("x35_ann_ivf")(s, dir),
        exact, "qid", "nid").withColumn("method", lit("ivf"))
      lsh.unionByName(ivf)
        .select("method", "qid", "n_exact", "n_hit", "recall_bp")
        .orderBy("method", "qid")
    }, oracle =
      s"""WITH $annV,
         | $annBrute,
         | ex AS (SELECT qid, nid FROM r_ex WHERE rk <= 5),
         | $annLsh,
         | ap AS (SELECT qid, nid FROM r_ap WHERE rk <= 5),
         | $annIvf,
         | iv AS (SELECT DISTINCT qid, nid FROM r_ivf WHERE rk <= 5),
         | ${gradeSql("lsh", "ap")},
         | ${gradeSql("ivf", "iv")}
         | SELECT * FROM g_ap UNION ALL SELECT * FROM g_iv
         | ORDER BY method, qid""".stripMargin),

    // x67 — multi-PROBE LSH (Lv et al. VLDB'07, single-bit perturbations):
    // ONE hash table, 8 margin-ordered probe buckets per query — where
    // x62's multi-TABLE remedy pays 4× index storage for 7% recall, this
    // pays 8 probe lookups on the query side (20 rows, not the corpus)
    // for 11% on the same fixture. The honest conclusion the gate
    // documents: probing beats replication at equal scan, and BOTH are
    // candidate-generation tools on near-isotropic data, not serving
    // paths — the IVF family is the serving path.
    "x67_ann_lsh_multiprobe" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      VectorOps.lshTopKMultiProbe(e.filter(col("vec_id") < 20), e, "vec_id",
          "embedding", 5, dim = 64, numPlanes = 8, numProbes = 8)
        .orderBy("qid", "nid")
    }, oracle =
      s"""WITH $annV,
         | $annLsh,
         | $annLshMultiProbe
         | SELECT qid, nid, rk::BIGINT AS rk, floor(cos * 10000)::BIGINT AS cos_bp
         | FROM r_mp WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x66 — scalar-quantized trained IVF (IVF-SQ8 with asymmetric
    // distance): the x63 codebook's probe with the corpus side stored as
    // int8 BINARY — the index that fits when 100 TB of float32 embeddings
    // don't (4× smaller). Cell assignment at full precision (index-build
    // time); candidate scoring is ADC (float query × dequantized int8
    // corpus), qscale = 127/max|component| derived from one corpus
    // aggregate the oracle recomputes in SQL — every scoring op mirrored,
    // so the result is hash-exact despite quantization.
    "x66_ann_quantized" -> QueryCase({ (s, dir) =>
      annQuantized(s, dir, trainedCodebook(s, dir).toSeq)
        .orderBy("qid", "nid")
    }, oracle =
      s"""WITH $annV,
         | ${annIvfTrainedSql(k = 32, iters = 2, nProbe = 4)},
         | $annIvfQuantized
         | SELECT qid, nid, rk::BIGINT AS rk, floor(cos * 10000)::BIGINT AS cos_bp
         | FROM r_q8 WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x63 — the FULL index-selection gate: all six approximate paths
    // (single-table LSH, 4-table LSH, multi-probe LSH, seed-IVF,
    // k-means-trained IVF, int8-quantized trained IVF) graded against
    // brute-force ground truth
    // in one result — the table a user reads to pick an index. The trained
    // path wires kmeansCentroidsExact (k=32, 2 Lloyd rounds) into the IVF
    // probe at nProbe=4: ~87% mean recall@5 at HALF the scan fraction of
    // x35's seed-IVF (12% vs 25% of the corpus) on the sf0.01 fixture; the
    // quantized row (x66) shows what 4×-smaller storage costs in recall at
    // the SAME scan fraction — see SURVEY §2.10 for the full sweep.
    "x63_ann_recall_trained" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      val exact = annTruth(s, dir)
      def grade(df: DataFrame, m: String): DataFrame =
        VectorOps.annRecall(df, exact, "qid", "nid")
          .withColumn("method", lit(m))
      // training runs its own driver-iterated jobs BEFORE the gate plan is
      // built — the codebook is k×dim floats entering both trained probes
      // (ivf_trained and x66's ivf_q8) as literals, trained once here
      val codebook = trainedCodebook(s, dir).toSeq
      val ivfTrained = VectorOps.ivfTopKWithCentroids(
        e.filter(col("vec_id") < 20), e, "vec_id", "embedding", 5,
        codebook, nProbe = 4)
      grade(queries("x26_ann_lsh")(s, dir), "lsh")
        .unionByName(grade(queries("x62_ann_lsh_multi")(s, dir), "lsh_multi"))
        .unionByName(grade(queries("x67_ann_lsh_multiprobe")(s, dir), "lsh_mp"))
        .unionByName(grade(queries("x35_ann_ivf")(s, dir), "ivf"))
        .unionByName(grade(ivfTrained, "ivf_trained"))
        .unionByName(grade(annQuantized(s, dir, codebook), "ivf_q8"))
        .select("method", "qid", "n_exact", "n_hit", "recall_bp")
        .orderBy("method", "qid")
    }, oracle =
      s"""WITH $annV,
         | $annBrute,
         | ex AS (SELECT qid, nid FROM r_ex WHERE rk <= 5),
         | $annLsh,
         | ap AS (SELECT qid, nid FROM r_ap WHERE rk <= 5),
         | $annLshMulti,
         | mt AS (SELECT DISTINCT qid, nid FROM r_mt WHERE rk <= 5),
         | $annLshMultiProbe,
         | mp AS (SELECT qid, nid FROM r_mp WHERE rk <= 5),
         | $annIvf,
         | iv AS (SELECT DISTINCT qid, nid FROM r_ivf WHERE rk <= 5),
         | ${annIvfTrainedSql(k = 32, iters = 2, nProbe = 4)},
         | it AS (SELECT DISTINCT qid, nid FROM r_it WHERE rk <= 5),
         | $annIvfQuantized,
         | q8 AS (SELECT DISTINCT qid, nid FROM r_q8 WHERE rk <= 5),
         | ${gradeSql("lsh", "ap")},
         | ${gradeSql("lsh_multi", "mt")},
         | ${gradeSql("lsh_mp", "mp")},
         | ${gradeSql("ivf", "iv")},
         | ${gradeSql("ivf_trained", "it")},
         | ${gradeSql("ivf_q8", "q8")}
         | SELECT * FROM g_ap UNION ALL SELECT * FROM g_mt
         | UNION ALL SELECT * FROM g_mp
         | UNION ALL SELECT * FROM g_iv UNION ALL SELECT * FROM g_it
         | UNION ALL SELECT * FROM g_q8
         | ORDER BY method, qid""".stripMargin),

    // x51 — per-doc salient terms (TF-IDF ranking in exact integer
    // arithmetic): top-3 terms per document by tf·10000·N/df.
    "x51_term_salience" -> QueryCase({ (s, dir) =>
      TextOps.termSalience(spread(t(s, dir, "documents")), "doc_id", 3)
        .orderBy("doc_id", "rank")
    }, oracle =
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) w FROM documents),
        | tf AS (SELECT doc_id, w, count(*) tf FROM w GROUP BY 1, 2),
        | df AS (SELECT w, count(*) df FROM tf GROUP BY 1),
        | n AS (SELECT count(*) n_docs FROM documents),
        | s AS (SELECT doc_id, w, tf, df, (tf*10000*n_docs)//df sal
        |   FROM tf JOIN df USING (w) CROSS JOIN n),
        | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |     ORDER BY sal DESC, w) rk FROM s)
        | SELECT doc_id, w AS term, tf::BIGINT AS tf, df::BIGINT AS df,
        |   sal::BIGINT AS salience_bp, rk::BIGINT AS rank
        | FROM r WHERE rk <= 3 ORDER BY doc_id, rank""".stripMargin),

    // x52 — per-domain cap ("at most 20 pages per source"), id-hash order:
    // the domain-balancing primitive, deterministic under any partitioning.
    "x52_domain_cap" -> QueryCase({ (s, dir) =>
      SampleOps.topKPerKey(t(s, dir, "documents"), "source", "doc_id", 20)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, oracle =
      """WITH r AS (SELECT doc_id, source, row_number() OVER (
        |     PARTITION BY source
        |     ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id) rk
        |   FROM documents)
        | SELECT doc_id, source FROM r WHERE rk <= 20 ORDER BY doc_id""".stripMargin),

    // x53 — corpus collocations: top-25 bigrams by document-level PMI
    // (exact integer score, min document frequency 5).
    "x53_bigram_pmi" -> QueryCase({ (s, dir) =>
      TextOps.bigramPmi(spread(t(s, dir, "documents")), "doc_id",
        k = 25, minDf = 5L)
    }, oracle =
      """WITH w AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        | bg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |     range(1, greatest(len(w)-1,0)+1),
        |     k -> w[k::INT] || ' ' || w[k::INT+1]))) bg FROM w),
        | bdf AS (SELECT bg, count(*) df_xy FROM bg GROUP BY 1
        |   HAVING count(*) >= 5),
        | wt AS (SELECT doc_id, unnest(list_distinct(w)) w FROM w),
        | wdf AS (SELECT w, count(*) df_w FROM wt GROUP BY 1),
        | n AS (SELECT count(*) n_docs FROM documents),
        | s AS (SELECT bg, df_xy,
        |     wx.df_w df_x, wy.df_w df_y,
        |     (df_xy*10000*n_docs)//(wx.df_w*wy.df_w) pmi
        |   FROM bdf
        |   JOIN wdf wx ON wx.w = string_split(bg,' ')[1]
        |   JOIN wdf wy ON wy.w = string_split(bg,' ')[2]
        |   CROSS JOIN n)
        | SELECT bg AS bigram, df_xy::BIGINT AS df_xy, df_x::BIGINT AS df_x,
        |   df_y::BIGINT AS df_y, pmi::BIGINT AS pmi_bp
        | FROM s ORDER BY pmi DESC, bigram LIMIT 25""".stripMargin),

    // x54 — stratified sampling: per-language keep rates (en 80%, zh 20%,
    // default 50%) by id hash — narrow, shuffle-free, stable as the corpus
    // grows.
    "x54_stratified_sample" -> QueryCase({ (s, dir) =>
      SampleOps.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 8000, "zh" -> 2000), defaultBp = 5000)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id, lang FROM documents
        | WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 10000 <
        |   CASE WHEN lang = 'en' THEN 8000 WHEN lang = 'zh' THEN 2000
        |        ELSE 5000 END
        | ORDER BY doc_id""".stripMargin),

    // x34 — corpus curation on the EXACT baseline: quality filter → exact
    // dedup → near-dup pairs → TRANSITIVE closure (connected components) →
    // keep the lowest id per duplicate group. The composition a
    // training-data pipeline actually runs: pair-based dropping alone
    // mishandles chains (A~B, B~C without A~C must still collapse to one
    // survivor). `exact = true` is a deliberate opt-IN here — x64 runs
    // the API's default (LSH-verify) path; this entry keeps the complete
    // enumeration as the declared calibration baseline.
    "x34_corpus_curation" -> QueryCase({ (s, dir) =>
      val (exactKept, survivors) = curationSurvivors(spread(t(s, dir, "documents")))
      curationResult(exactKept, DedupOps.nearDupPairs(survivors, "doc_id",
        TextOps.wordShingles(col("text"), 3), 0.5, exact = true))
    }, oracle =
      s"""WITH RECURSIVE $curationHeadSql,
         | $exactInterSql,
         | $curationTailSql""".stripMargin),

    // x64 — FLAGSHIP corpus curation on the DEFAULT (scale) path: same
    // quality→exact-dedup→near-dup→components pipeline as x34, with the
    // near-dup stage as nearDupPairs' default LSH-candidate-then-verify.
    // The sf1 decade measurement (SURVEY §6.3) showed x34's exact pair
    // kernel going quadratic when shingle density is high (toy-vocab
    // fixture: every trigram bucket grows with the corpus); this path's
    // near-dup cost is |candidates|-proportional — what a 100 TB curation
    // run actually executes. Differs from x34 only where LSH recall
    // misses a true pair (P(miss) = (1-J⁴)⁴: 1.9% at J=0.9, ~0 at
    // J=0.99); the oracle mirrors the SAME banding so the gate is exact
    // regardless.
    "x64_corpus_curation_lsh" -> QueryCase({ (s, dir) =>
      val (exactKept, survivors) = curationSurvivors(spread(t(s, dir, "documents")))
      curationResult(exactKept, DedupOps.nearDupPairs(survivors, "doc_id",
        TextOps.wordShingles(col("text"), 3), 0.5))
    }, oracle =
      // Mirrors x34's pipeline with the near-dup stage swapped to
      // minhash-LSH banding (the x22 mirror verbatim: 16 hashes, 4 bands ×
      // 4 rows over the SAME md5(h||'|'||shingle) minhash) followed by
      // exact-Jaccard verification restricted to candidate pairs.
      s"""WITH RECURSIVE $curationHeadSql,
         | $minhashBsigSql,
         | $bandVerifySql,
         | $curationTailSql""".stripMargin),

    // x68 — substring-level exact dedup (Lee et al. 2021): maximal spans
    // of ≥2-occurrence 5-token shingles, merged gaps-and-islands per doc.
    // The granularity doc-level dedup cannot see — boilerplate repeating
    // INSIDE otherwise-unique documents.
    "x68_span_dedup" -> QueryCase({ (s, dir) =>
      DedupOps.duplicatedSpans(spread(t(s, dir, "documents")), "doc_id",
          "text", k = 5, minCount = 2)
        .orderBy("doc_id", "span_start")
    }, oracle =
      // Positional 5-token shingles (hash60 of the space-joined slice, the
      // engine's exact hash), occurrence count >= 2, per-doc
      // gaps-and-islands merge: a new island iff p > prev_p + 5 — the same
      // break predicate as duplicatedSpans.
      """WITH w AS (SELECT doc_id, string_split(text,' ') t FROM documents),
        | ps AS (SELECT doc_id, unnest(list_transform(
        |     range(0, greatest(len(t)-4, 0)),
        |     p -> struct_pack(p := p, sh := ('0x' || substr(md5(
        |       array_to_string(list_slice(t, (p+1)::INT, (p+5)::INT), ' ')
        |     ),1,15))::BIGINT))) e FROM w),
        | pp AS (SELECT doc_id, e.p p, e.sh sh FROM ps),
        | dup AS (SELECT sh FROM pp GROUP BY sh HAVING count(*) >= 2),
        | dp AS (SELECT doc_id, p FROM pp JOIN dup USING (sh)),
        | brk AS (SELECT doc_id, p, CASE
        |     WHEN p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 5
        |     THEN 1 ELSE 0 END b FROM dp),
        | isl AS (SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id
        |     ORDER BY p ROWS UNBOUNDED PRECEDING) island FROM brk)
        | SELECT doc_id, min(p)::BIGINT AS span_start,
        |   (max(p) + 5 - min(p))::BIGINT AS span_tokens
        | FROM isl GROUP BY doc_id, island
        | ORDER BY doc_id, span_start""".stripMargin),

    // x69 — model-based quality scoring (the CCNet-style classifier
    // filter): distant labels from the x17 stopword heuristic,
    // Laplace-smoothed integral token posteriors over document frequency,
    // doc score = integral mean over its distinct tokens. Integer
    // arithmetic end-to-end (the x53 convention) → hash-exact oracle.
    "x69_quality_classifier" -> QueryCase({ (s, dir) =>
      TextOps.qualityClassifierScore(spread(t(s, dir, "documents")),
          "doc_id", labelBp = 1500)
        .orderBy("doc_id")
    }, oracle =
      // Label = the x17 stopword-ratio heuristic at 1500 bp; token weight =
      // (good_df+1)*10000 // (df+2) over distinct-token document frequency;
      // score = integral mean — every op integral, mirroring
      // qualityClassifierScore exactly.
      """WITH lbl AS (SELECT doc_id, text, CASE WHEN
        |     floor(len(list_filter(string_split(text,' '),
        |         x -> list_contains(['the','a','of','and','in'], x)))::DOUBLE
        |       * 10000 / len(string_split(text,' '))::DOUBLE) >= 1500
        |     THEN 1 ELSE 0 END good FROM documents),
        | tok AS (SELECT doc_id, good,
        |     unnest(list_distinct(string_split(text,' '))) w FROM lbl),
        | wt AS (SELECT w, (sum(good) + 1) * 10000 // (count(*) + 2) w_bp
        |   FROM tok GROUP BY w),
        | sc AS (SELECT doc_id, count(*) n_toks, sum(w_bp) sw
        |   FROM tok JOIN wt USING (w) GROUP BY doc_id)
        | SELECT doc_id, n_toks::BIGINT AS n_toks,
        |   (sw // n_toks)::BIGINT AS score_bp
        | FROM sc ORDER BY doc_id""".stripMargin),

    // x70 — distributed BPE tokenizer training (Sennrich et al. 2016): the
    // corpus collapses to a word-frequency table in ONE shuffle; all 8
    // merge iterations run over the vocab. Output = the learned merge
    // table, integer-exact (long pair counts, lexicographic tie-break) so
    // the unrolled-CTE oracle hash-matches.
    "x70_bpe_train" -> QueryCase({ (s, dir) =>
      import s.implicits._
      bpeMergesOf(s, dir)
        .map(m => (m.rank.toLong, m.left, m.right, m.pairCount))
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
        .orderBy("merge_rank")
    }, oracle =
      // Unrolled 8-iteration BPE training (the x63 k-means CTE precedent):
      // each iteration = pair counts over the vocab CTE, 1-row argmax with
      // the (cnt DESC, l, r) tie-break, then the list_reduce fold that
      // mirrors BpeOps.mergePair exactly. Assumes the corpus sustains 8
      // merges (any real corpus does; the trainer stops early only when
      // every word is fully merged).
      s"""WITH $bpeTrainSql
         | SELECT * FROM (
         |   ${(1 to 8).map(i =>
               s"SELECT ${i}::BIGINT merge_rank, l left_sym, r right_sym, cnt pair_count FROM b$i")
               .mkString("\n |   UNION ALL ")}
         | ) ORDER BY merge_rank""".stripMargin),

    // x71 — tokenize the corpus with the trained merges: folds run over
    // the DISTINCT words only; each occurrence joins its word's symbol
    // count (broadcast — a Zipf vocab is always ≪ its corpus).
    "x71_bpe_tokenize" -> QueryCase({ (s, dir) =>
      BpeOps.tokenize(spread(t(s, dir, "documents")), "doc_id",
          bpeMergesOf(s, dir))
        .orderBy("doc_id")
    }, oracle =
      s"""WITH $bpeTrainSql,
         | wn AS (SELECT word, len(string_split(syms,' '))::BIGINT ns FROM v8),
         | dt AS (SELECT doc_id, unnest(string_split(text,' ')) word
         |   FROM documents)
         | SELECT doc_id, count(*)::BIGINT AS ws_tokens,
         |   sum(ns)::BIGINT AS bpe_tokens
         | FROM dt JOIN wn USING (word)
         | GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // x72 — Bloom-filter incremental-dedup probe: src0 docs probe a bloom
    // built over every OTHER source (m=2048 deliberately undersized so
    // the fixture exhibits real false positives next to exact_dup=0).
    // exact_dup alongside proves the no-false-negative contract in the
    // gated output itself: no row may have exact_dup=1, bloom_hit=0.
    "x72_bloom_dedup" -> QueryCase({ (s, dir) =>
      val docs = spread(t(s, dir, "documents"))
      val ref = docs.filter(col("source") =!= "src0").select("text")
      val probe = docs.filter(col("source") === "src0").select("doc_id", "text")
      val bloom = StatOps.bloomSketch(ref, "text", mBits = 2048, kHashes = 4)
      val hits = StatOps.bloomProbe(probe, "doc_id", "text", bloom,
        mBits = 2048, kHashes = 4)
      val exact = probe.join(ref.distinct(), Seq("text"), "left_semi")
        .select(col("doc_id"), lit(1L).as("exact_dup"))
      hits.join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("exact_dup"), lit(0L)).as("exact_dup"))
        .orderBy("doc_id")
    }, oracle =
      // Bloom build/probe mirrored bit-for-bit: position = hash60 of
      // "i<chr(1)>text" mod m, 32-bit word packing, bit_or aggregation,
      // all-k-bits-set membership. Absent words are all-zero (LEFT JOIN).
      """WITH ref AS (SELECT text FROM documents WHERE source <> 'src0'),
        | pos AS (SELECT unnest(list_transform(range(0, 4), i ->
        |     ('0x'||substr(md5(i::VARCHAR || chr(1) || text),1,15))::BIGINT
        |       % 2048)) p
        |   FROM ref),
        | bloom AS (SELECT p // 32 widx,
        |     bit_or(1::BIGINT << (p % 32)::INT) bits
        |   FROM pos GROUP BY 1),
        | prb AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
        | pp AS (SELECT doc_id, unnest(list_transform(range(0, 4), i ->
        |     ('0x'||substr(md5(i::VARCHAR || chr(1) || text),1,15))::BIGINT
        |       % 2048)) p
        |   FROM prb),
        | hit AS (SELECT doc_id, min(CASE WHEN b.bits IS NOT NULL
        |       AND (b.bits & (1::BIGINT << (p % 32)::INT)) <> 0
        |       THEN 1 ELSE 0 END) h
        |   FROM pp LEFT JOIN bloom b ON b.widx = p // 32 GROUP BY doc_id),
        | ex AS (SELECT DISTINCT p.doc_id FROM prb p JOIN ref r
        |   ON p.text = r.text)
        | SELECT h.doc_id, h.h::BIGINT AS bloom_hit,
        |   (CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS exact_dup
        | FROM hit h LEFT JOIN ex e ON e.doc_id = h.doc_id
        | ORDER BY h.doc_id""".stripMargin),

    // x73 — x60's incremental dedup with the Bloom pre-filter engaged: the
    // reference corpus collapses to a bounded sketch, definite misses skip
    // the exact anti-join entirely. Output is row-identical to x60 by
    // construction (no false negatives), so the oracle asserts exactly
    // that — same SQL as x60.
    "x73_bloom_incremental" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      DedupOps.incrementalDedup(
          d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250),
          "doc_id", "text", TextOps.wordShingles(col("text"), 3), 0.5,
          bloom = true, bloomBits = 1 << 14, bloomHashes = 4)
        .orderBy("doc_id")
    }, oracle = incrementalDedupSql),

    // x74 — span REMOVAL (Lee et al. 2021 second half): x68 finds the
    // duplicated 5-gram spans; this emits the corpus rewritten with every
    // non-first occurrence excised. Only touched docs emitted (the
    // untouched corpus would be pure fixture echo).
    "x74_span_removal" -> QueryCase({ (s, dir) =>
      DedupOps.removeSpans(spread(t(s, dir, "documents")), "doc_id", "text",
          k = 5, minCount = 2)
        .filter(col("n_removed") > 0)
        .select("doc_id", "n_removed", "text_clean")
        .orderBy("doc_id")
    }, oracle =
      // x68's positional-shingle machinery extended with keep-first: the
      // first occurrence of each duplicated shingle (corpus order (doc_id,
      // p), via rn) is exempt from removal; islands/spans identical to x68;
      // removal drops every token index covered by a span and re-joins the
      // survivors in position order.
      """WITH w AS (SELECT doc_id, string_split(text,' ') t FROM documents),
        | ps AS (SELECT doc_id, unnest(list_transform(
        |     range(0, greatest(len(t)-4, 0)),
        |     p -> struct_pack(p := p, sh := ('0x' || substr(md5(
        |       array_to_string(list_slice(t, (p+1)::INT, (p+5)::INT), ' ')
        |     ),1,15))::BIGINT))) e FROM w),
        | pp AS (SELECT doc_id, e.p p, e.sh sh FROM ps),
        | dp AS (SELECT doc_id, p FROM (
        |     SELECT doc_id, p,
        |       row_number() OVER (PARTITION BY sh ORDER BY doc_id, p) rn,
        |       count(*) OVER (PARTITION BY sh) occ
        |     FROM pp) WHERE occ >= 2 AND rn > 1),
        | brk AS (SELECT doc_id, p, CASE
        |     WHEN p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 5
        |     THEN 1 ELSE 0 END b FROM dp),
        | isl AS (SELECT doc_id, p, sum(b) OVER (PARTITION BY doc_id
        |     ORDER BY p ROWS UNBOUNDED PRECEDING) island FROM brk),
        | sp AS (SELECT doc_id, min(p) ps, max(p) + 5 pe
        |   FROM isl GROUP BY doc_id, island),
        | tok AS (SELECT doc_id, unnest(list_transform(range(0, len(t)),
        |     i -> struct_pack(p := i, tok := t[i+1]))) e FROM w),
        | tk AS (SELECT doc_id, e.p p, e.tok tok FROM tok),
        | kept AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
        |   WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = tk.doc_id
        |     AND tk.p >= sp.ps AND tk.p < sp.pe)),
        | agg AS (SELECT doc_id, count(*) nk,
        |     string_agg(tok, ' ' ORDER BY p) txt FROM kept GROUP BY doc_id)
        | SELECT w.doc_id,
        |   (len(w.t) - coalesce(agg.nk, 0))::BIGINT AS n_removed,
        |   coalesce(agg.txt, '') AS text_clean
        | FROM w LEFT JOIN agg USING (doc_id)
        | WHERE len(w.t) - coalesce(agg.nk, 0) > 0
        | ORDER BY w.doc_id""".stripMargin),

    // x75 — forward as-of join (x27's mirror, previously spec-only): for
    // each purchase, the user's EARLIEST click at-or-after it — the "next
    // event after" direction (next fill after an order). Same union+window
    // plan, first(ignoreNulls) over the FOLLOWING frame.
    "x75_asof_forward" -> QueryCase({ (s, dir) =>
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      JoinOps.asOfJoinForward(purchases, clicks, "user_id", "ts",
          Seq("click_id", "click_ts"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          (graft.ops.TsCompat.micros(col("click_ts")) -
            graft.ops.TsCompat.micros(col("ts"))).as("wait_us"))
        .orderBy("event_id")
    }, oracle =
      s"""$purchasesAndClicksSql
        | SELECT p.event_id, p.user_id, c.click_id,
        |   epoch_us(c.ts) - epoch_us(p.ts) AS wait_us
        | FROM p ASOF LEFT JOIN clicks c
        |   ON p.user_id = c.user_id AND p.ts <= c.ts
        | ORDER BY p.event_id""".stripMargin),

    // x76 — cross-source MinHash similarity matrix: estimated Jaccard
    // between every source pair's 3-gram shingle sets — the corpus-overlap
    // analytics a mixture-weighting stage reads ("how much of src3 is src1
    // again?"). Group signatures are bounded metadata (sources × 32).
    "x76_source_similarity" -> QueryCase({ (s, dir) =>
      DedupOps.minhashGroupSimilarity(spread(t(s, dir, "documents")),
          "source", TextOps.wordShingles(col("text"), 3), numHashes = 32)
        .orderBy("key_a", "key_b")
    }, oracle =
      // minhash convention identical to x22 (md5(h||'|'||s)); group = source.
      // min over the multiset == min over the set, so no per-source distinct.
      s"""$word3gramShingles,
         | ss AS (SELECT d.source, sh.s FROM sh
         |   JOIN documents d USING (doc_id)),
         | hs AS (SELECT source, h, min(md5(h || '|' || s)) m
         |   FROM ss CROSS JOIN (SELECT unnest(range(0,32)) h)
         |   GROUP BY source, h)
         | SELECT a.source AS key_a, b.source AS key_b,
         |   sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)::BIGINT AS agree,
         |   floor(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)::DOUBLE
         |     * 10000 / 32)::BIGINT AS est_jaccard_bp
         | FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
         | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // x77 — per-doc seen-before novelty: of each doc's distinct 3-gram
    // shingles, the fraction first appearing in a LOWER-id doc — the
    // "how derivative is this document" signal, integer basis points.
    "x77_novelty" -> QueryCase({ (s, dir) =>
      DedupOps.seenBeforeNovelty(spread(t(s, dir, "documents")), "doc_id",
          TextOps.wordShingles(col("text"), 3))
        .orderBy("doc_id")
    }, oracle =
      s"""$word3gramShingles,
         | fst AS (SELECT s, min(doc_id) fd FROM sh GROUP BY s)
         | SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
         |   sum(CASE WHEN fst.fd < sh.doc_id THEN 1 ELSE 0 END)::BIGINT
         |     AS n_seen,
         |   floor((count(*) - sum(CASE WHEN fst.fd < sh.doc_id THEN 1
         |     ELSE 0 END))::DOUBLE * 10000 / count(*))::BIGINT AS novelty_bp
         | FROM sh JOIN fst USING (s)
         | GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin),

    // x78 — OHLC candles: per (user, day) the first/last/max/min value and
    // event count — the canonical time-series downsample of the reference
    // domain (price candles over trades). One map-side-combinable shuffle.
    "x78_ohlc_resample" -> QueryCase({ (s, dir) =>
      TimeOps.ohlcResample(t(s, dir, "events"), "user_id", "ts", "event_id",
          "value", 86400L * 1000000)
        .orderBy("user_id", "bucket")
    }, oracle =
      // this DuckDB's arg_min rejects struct keys, so open/close come from
      // row_number in both time directions — equivalent because (ts,
      // event_id) is unique; the engine's min_by/max_by needs no sort.
      """WITH b AS (SELECT user_id,
        |     epoch_us(ts) // 86400000000 AS bucket, value v, ts, event_id
        |   FROM events WHERE ts IS NOT NULL),
        | r AS (SELECT *,
        |     row_number() OVER (PARTITION BY user_id, bucket
        |       ORDER BY ts, event_id) rno,
        |     row_number() OVER (PARTITION BY user_id, bucket
        |       ORDER BY ts DESC, event_id DESC) rnc
        |   FROM b)
        | SELECT user_id, bucket,
        |   max(CASE WHEN rno = 1 THEN v END) AS open,
        |   max(CASE WHEN rnc = 1 THEN v END) AS close,
        |   max(v) AS high, min(v) AS low, count(*)::BIGINT AS n_events
        | FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // x79 — trailing 1-hour RANGE-frame aggregate per event: event-time
    // windows (peers at equal ts see each other; event-time gaps shrink
    // the frame) vs x28's ROWS running total.
    "x79_rolling_time_window" -> QueryCase({ (s, dir) =>
      TimeOps.rollingTimeWindow(t(s, dir, "events"), "user_id", "ts",
          "event_id", "value", 3600L * 1000000)
        .orderBy("event_id")
    }, oracle =
      """SELECT event_id, user_id,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) OVER
        |   (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4)
        |   * 10000 AS BIGINT) AS win_total_e4,
        | COUNT(*) OVER
        |   (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)::BIGINT
        |   AS win_n
        | FROM events WHERE ts IS NOT NULL ORDER BY event_id""".stripMargin),

    // x80 — asymmetric containment pairs: |A∩B|/|A| and /|B| — the
    // sub-duplication metric Jaccard structurally misses (a short doc
    // fully embedded in a long one). `exact = true` is the deliberate
    // opt-IN (the x21/x34 pattern): this entry is the complete
    // enumeration kept as the calibration baseline; x82 runs the API's
    // default LSH-candidate-then-verify path.
    "x80_containment" -> QueryCase({ (s, dir) =>
      DedupOps.containmentPairs(spread(t(s, dir, "documents")), "doc_id",
          TextOps.wordShingles(col("text"), 3), 0.8, exact = true)
        .orderBy("i", "j")
    }, oracle =
      s"""$word3gramShingles,
         | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         | $exactInterSql
         | $containmentSelectSql
         | ORDER BY i, j""".stripMargin),

    // x82 — containment on the DEFAULT (scale) path: MinHash-LSH banding
    // (r14: the one-permutation signatures, like every other banding
    // consumer) proposes candidate pairs, exact intersection counts
    // verify on those pairs only — work ∝ |candidates| instead of
    // Θ(Σ bucket²). The oracle mirrors the SAME banding (the x124
    // pattern), so the gate is exact regardless of banding recall;
    // differs from x80 only where banding misses a pair
    // (J = tρ/(1+ρ−tρ) for containment t at size ratio ρ — see
    // DedupOps.containmentPairs for the honest math).
    "x82_containment_lsh" -> QueryCase({ (s, dir) =>
      DedupOps.containmentPairs(spread(t(s, dir, "documents")), "doc_id",
          TextOps.wordShingles(col("text"), 3), 0.8, oph = true)
        .orderBy("i", "j")
    }, oracle =
      // x80's scoring with the candidate set replaced by the OPH banding
      // mirror (ophBsigSql — one hash per shingle, bucket mins, rotation
      // densification; r14 flip): intersection counts evaluated only on
      // band-colliding pairs, exactly as the engine's verify arm.
      s"""$word3gramShingles,
         | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         | $ophBsigSql,
         | $bandVerifySql
         | $containmentSelectSql
         | ORDER BY i, j""".stripMargin),

    // x81 — mixture sampling to target source weights (assemble-the-mix):
    // largest corpus matching src0:src1:src2 = 5:3:2, deterministic
    // id-hash acceptance; unweighted sources dropped.
    "x81_mixture_sample" -> QueryCase({ (s, dir) =>
      SampleOps.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
          Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source")
        .orderBy("doc_id")
    }, oracle =
      // the rate arithmetic mirrors mixtureSample's exact double sequence:
      // T = min(n/w), rate = floor(((10000*w)*T)/n) — left-associative in
      // both engines; weights cast to DOUBLE so the decimal literal doesn't
      // change the IEEE value.
      """WITH wt AS (SELECT * FROM (VALUES
        |     ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE),
        |     ('src2', 0.2::DOUBLE)) w(dom, w)),
        | cnt AS (SELECT source, count(*) n FROM documents GROUP BY 1),
        | j AS (SELECT dom, w, coalesce(n, 0) n FROM wt
        |   LEFT JOIN cnt ON source = dom),
        | t AS (SELECT min(n::DOUBLE / w) tt FROM j),
        | r AS (SELECT dom, floor(10000 * w * tt / n::DOUBLE)::BIGINT rate
        |   FROM j, t WHERE n > 0)
        | SELECT d.doc_id, d.source FROM documents d
        | JOIN r ON d.source = r.dom
        | WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
        |   % 10000 < r.rate
        | ORDER BY d.doc_id""".stripMargin),

    // x83 — bigram-LM perplexity scoring (the CCNet-style model-based
    // quality tier): train a Laplace-smoothed bigram LM on the corpus,
    // score every doc by integral mean surprisal. Per-bigram surprisal is
    // quantized to an integer BEFORE per-doc summation, so the result is
    // partition-order-proof and the oracle hash-exact. The trained model
    // is localCheckpointed: scoring references it three times (bigram
    // join, prefix table, vocab row) and a production run loads it from
    // ModelIO instead of retraining.
    "x83_lm_perplexity" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val model = LmOps.trainBigramLm(d).localCheckpoint()
      LmOps.scoreBigramNll(d, model).orderBy("doc_id")
    }, oracle =
      // Occurrence bigrams (NO list_distinct — an LM needs counts), Laplace
      // add-one over a V-sized successor space, per-bigram surprisal
      // quantized to an integer BEFORE the per-doc sum (floating summation
      // order can then never perturb the hash on either engine). ln over
      // doubles derived from identical integer counts → identical IEEE
      // input on both sides.
      s"""WITH $bigramNllSql
        | SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |   sum(nll)::BIGINT AS nll_sum,
        |   (sum(nll)::BIGINT // count(*)::BIGINT) AS avg_nll_scaled
        | FROM big JOIN m USING (s) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // x84 — the canonical KEEP/DROP decision, the artifact a dedup stage
    // actually ships: LSH-verified near-dup pairs → connected components
    // → per cluster keep the highest-quality member (stopword-ratio
    // signal, doc_id tie-break), everything else dropped with its
    // canonical id attached. Singleton docs keep themselves. One row per
    // input doc — the decision table a 100 TB pipeline writes back next
    // to the corpus.
    "x84_canonical_keep" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      DedupOps.canonicalKeep(d, "doc_id", TextOps.stopRatioBp(col("text")),
          DedupOps.nearDupPairs(d, "doc_id",
            TextOps.wordShingles(col("text"), 3), 0.5, oph = true))
        .orderBy("doc_id")
    }, oracle =
      // The OPH banding mirror (ophBsigSql; r14 flip) feeding the
      // x40 reachability CTE, then the keep decision: per component, rank by
      // stopword-ratio quality desc / doc_id asc; rank 1 is canonical.
      // Singletons (docs in no edge) are their own component and keeper.
      s"""WITH RECURSIVE ${word3gramCtes("documents")},
        | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        | $ophBsigSql,
        | $bandVerifySql,
        | $jaccardPairsSql,
        | $reachSql,
        | comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
        |   FROM reach GROUP BY a),
        | q AS (SELECT doc_id,
        |     floor(len(list_filter(string_split(text,' '),
        |         x -> list_contains(['the','a','of','and','in'], x)))::DOUBLE
        |       * 10000 / len(string_split(text,' '))::DOUBLE)::BIGINT q
        |   FROM documents),
        | allc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) component
        |   FROM documents d LEFT JOIN comp c USING (doc_id))
        | SELECT a.doc_id, a.component,
        |   first_value(a.doc_id) OVER win AS canonical_id,
        |   (CASE WHEN row_number() OVER win = 1 THEN 1 ELSE 0 END)::BIGINT
        |     AS keep_flag
        | FROM allc a JOIN q USING (doc_id)
        | WINDOW win AS (PARTITION BY a.component ORDER BY q.q DESC, a.doc_id)
        | ORDER BY a.doc_id""".stripMargin),

    // x85 — cross-source duplication matrix: which sources overlap, from
    // the same LSH-verified near-dup pairs. One bounded sources² report
    // row set — the "which crawl dumps re-crawl each other" audit that
    // decides what to ingest at all. src_a <= src_b folds the symmetric
    // pair; the diagonal is intra-source duplication.
    "x85_source_overlap" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pairs = DedupOps.nearDupPairs(d, "doc_id",
        TextOps.wordShingles(col("text"), 3), 0.5, oph = true)
      val src = d.select(col("doc_id"), col("source"))
      val cnt = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      pairs
        .join(src.select(col("doc_id").as("i"), col("source").as("si")), Seq("i"))
        .join(src.select(col("doc_id").as("j"), col("source").as("sj")), Seq("j"))
        .select(least(col("si"), col("sj")).as("src_a"),
          greatest(col("si"), col("sj")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .join(cnt.select(col("source").as("src_a"), col("n_docs").as("n_docs_a")),
          Seq("src_a"))
        .join(cnt.select(col("source").as("src_b"), col("n_docs").as("n_docs_b")),
          Seq("src_b"))
        .select("src_a", "src_b", "n_pairs", "n_docs_a", "n_docs_b")
        .orderBy("src_a", "src_b")
    }, oracle =
      // Same OPH banding mirror + verify threshold; pairs fold symmetrically
      // on (least, greatest) of the two sources.
      s"""$word3gramShingles,
        | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        | $ophBsigSql,
        | $bandVerifySql,
        | $jaccardPairsSql,
        | cnt AS (SELECT source, count(*) n_docs FROM documents GROUP BY 1),
        | pr AS (SELECT least(a.source, b.source) src_a,
        |     greatest(a.source, b.source) src_b
        |   FROM p JOIN documents a ON a.doc_id = p.i
        |   JOIN documents b ON b.doc_id = p.j),
        | g AS (SELECT src_a, src_b, count(*) n_pairs FROM pr GROUP BY 1, 2)
        | SELECT g.src_a, g.src_b, g.n_pairs::BIGINT AS n_pairs,
        |   ca.n_docs::BIGINT AS n_docs_a, cb.n_docs::BIGINT AS n_docs_b
        | FROM g JOIN cnt ca ON ca.source = g.src_a
        | JOIN cnt cb ON cb.source = g.src_b
        | ORDER BY src_a, src_b""".stripMargin),

    // x86 — DSIR selection (Xie et al. 2023): the 100 raw docs whose
    // hashed-n-gram profile the English slice up-weights most. The
    // "make the crawl look like the target corpus" curation stage;
    // target = lang='en' stands in for the high-quality reference set.
    "x86_dsir_selection" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      DsirOps.selectTopN(d, d.filter(col("lang") === "en"), 100)
    }, oracle =
      // DSIR mirror: unigram+bigram occurrences hashed into 1024 buckets
      // (the house md5 hash), two smoothed bag-of-buckets models (target =
      // lang='en', raw = all), per-bucket integer log weight, per-doc
      // integer sum, top-100 by (weight desc, id).
      """WITH w AS (SELECT doc_id, lang, string_split(text,' ') w FROM documents),
        | uni AS (SELECT doc_id, lang, unnest(w) s FROM w),
        | big AS (SELECT doc_id, lang, unnest(list_transform(
        |          range(1, greatest(len(w)-1,0)+1),
        |          k -> w[k::INT] || ' ' || w[k::INT+1])) s FROM w),
        | f AS (SELECT doc_id, lang,
        |     ('0x' || substr(md5(s),1,15))::BIGINT % 1024 b
        |   FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
        | cr AS (SELECT b, count(*) nr FROM f GROUP BY 1),
        | ct AS (SELECT b, count(*) nt FROM f WHERE lang = 'en' GROUP BY 1),
        | tot AS (SELECT (SELECT count(*) FROM f) tnr,
        |     (SELECT count(*) FROM f WHERE lang = 'en') tnt),
        | wt AS (SELECT b,
        |     floor((ln((coalesce(nt,0) + 1)::DOUBLE / (tnt + 1024)::DOUBLE)
        |       - ln((nr + 1)::DOUBLE / (tnr + 1024)::DOUBLE)) * 1000000)::BIGINT ws
        |   FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot)
        | SELECT doc_id, count(*)::BIGINT AS n_feats, sum(ws)::BIGINT AS logw_sum
        | FROM f JOIN wt USING (b)
        | GROUP BY doc_id ORDER BY logw_sum DESC, doc_id LIMIT 100""".stripMargin),

    // x87 — IVF-PQ: the product-quantized serving index (m=4 one-byte
    // codes per vector, 64× smaller than float32) probing the same
    // seed-centroid cells as x35; completes the serving ladder
    // float (x35) → int8 SQ (x66) → PQ codes (x87).
    "x87_ann_ivf_pq" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      VectorOps.ivfTopKPq(e.filter(col("vec_id") < 20), e, "vec_id",
          "embedding", 5, VectorOps.pqSeedCodebooks(t(s, dir, "embeddings"),
            "vec_id", "embedding", m = 4, ksub = 16),
          numCentroids = 8, nProbe = 2)
        .orderBy("qid", "nid")
    }, oracle =
      // IVF-PQ mirror: seed codebooks = 16-dim slices of the 16 lowest-id
      // vectors; encode by argmin d² = |x_s|² − 2·x_s·c + |c|² (ties →
      // lowest code); ADC cosine against the reconstruction with every
      // cross-subspace sum folded in ascending s (list_reduce over
      // list(... ORDER BY s)) — bit-exact vs the Scala left folds. Reuses
      // annIvf's ic/iq for the coarse cells and query probes.
      s"""WITH $annV,
         | $annIvf,
         | $annIvfPq
         | SELECT qid, nid, rk::BIGINT AS rk, floor(cos * 10000)::BIGINT AS cos_bp
         | FROM r_pq WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x88 — the Gopher rule battery as a decision table: every signal,
    // one flag per rule, and the conjunction — the filter artifact a
    // pipeline writes next to the corpus (Rae et al. 2021 §A.1.1).
    "x88_gopher_filter" -> QueryCase({ (s, dir) =>
      TextOps.gopherFilter(spread(t(s, dir, "documents")))
        .select("doc_id", "n_words", "mean_word_len_centi", "dup_word_bp",
          "alpha_word_bp", "sym_bp", "stop_hits", "keep_n_words",
          "keep_word_len", "keep_dup", "keep_alpha", "keep_sym",
          "keep_stop", "keep")
        .orderBy("doc_id")
    }, oracle =
      // Gopher decision-table mirror: same integral signals (centi / basis
      // points, floor), same rule bounds, same conjunction.
      s"""WITH $gopherCountsSql,
        | s2 AS (SELECT doc_id, n_words,
        |     floor(word_chars::DOUBLE * 100 / n_words::DOUBLE)::BIGINT mean_word_len_centi,
        |     floor(n_dup::DOUBLE * 10000 / n_words::DOUBLE)::BIGINT dup_word_bp,
        |     floor(n_alpha::DOUBLE * 10000 / n_words::DOUBLE)::BIGINT alpha_word_bp,
        |     floor(n_sym::DOUBLE * 10000 / n_words::DOUBLE)::BIGINT sym_bp,
        |     stop_hits
        |   FROM sig)
        | SELECT doc_id, n_words, mean_word_len_centi, dup_word_bp,
        |   alpha_word_bp, sym_bp, stop_hits,
        |   (n_words >= 50 AND n_words <= 100000) AS keep_n_words,
        |   (mean_word_len_centi >= 300 AND mean_word_len_centi <= 1000) AS keep_word_len,
        |   (dup_word_bp <= 3000) AS keep_dup,
        |   (alpha_word_bp >= 8000) AS keep_alpha,
        |   (sym_bp <= 1000) AS keep_sym,
        |   (stop_hits >= 2) AS keep_stop,
        |   ((n_words >= 50 AND n_words <= 100000)
        |    AND (mean_word_len_centi >= 300 AND mean_word_len_centi <= 1000)
        |    AND (dup_word_bp <= 3000) AND (alpha_word_bp >= 8000)
        |    AND (sym_bp <= 1000) AND (stop_hits >= 2)) AS keep
        | FROM s2 ORDER BY doc_id""".stripMargin),

    // x89 — GPT-style concat-and-chunk packing: whitespace token counts,
    // then the fixed-128-token sequence spans — the loader index for
    // "materialize training sequence N" without re-scanning the corpus.
    "x89_seq_packing" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
        .select(col("doc_id"), size(split(col("text"), " "))
          .cast(org.apache.spark.sql.types.LongType).as("n_toks_doc"))
      SampleOps.packSequences(d, "doc_id", "n_toks_doc", seqLen = 128)
        .select("seq_id", "doc_id", "seq_off", "doc_off", "n_toks")
        .orderBy("seq_id", "doc_id")
    }, oracle =
      // Sequence-packing mirror: running token-start offsets in doc_id
      // order, each doc exploded over the sequences it overlaps, interval
      // arithmetic for the span columns.
      """WITH d AS (SELECT doc_id,
        |     len(string_split(text,' '))::BIGINT n FROM documents),
        | s AS (SELECT doc_id, n,
        |     coalesce(sum(n) OVER (ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT st
        |   FROM d),
        | x AS (SELECT doc_id, n, st,
        |     unnest(range(st // 128, (st + n - 1) // 128 + 1)) seq_id
        |   FROM s WHERE n > 0)
        | SELECT seq_id::BIGINT AS seq_id, doc_id,
        |   greatest(st - seq_id*128, 0)::BIGINT AS seq_off,
        |   greatest(seq_id*128 - st, 0)::BIGINT AS doc_off,
        |   (least(st + n, seq_id*128 + 128)
        |     - greatest(st, seq_id*128))::BIGINT AS n_toks
        | FROM x ORDER BY seq_id, doc_id""".stripMargin),

    // x90 — BM25 retrieval: the 5 lowest-id docs as seed queries, top-5
    // corpus matches each — the "find more like these" curation primitive
    // over the inline-built inverted index.
    "x90_bm25_retrieval" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      TextOps.bm25TopK(d.filter(col("doc_id") < 5), d, 5)
        .orderBy("qid", "did")
    }, oracle =
      // BM25 mirror: same postings/doclen/df tables, the same literal
      // constants (1.2/2.2/0.25/0.75), the same expression shape so every
      // double matches bit-for-bit before the single floor-quantization.
      """WITH wds AS (SELECT doc_id did, unnest(string_split(text,' ')) t
        |   FROM documents),
        | tf AS (SELECT did, t, count(*) tf FROM wds GROUP BY 1, 2),
        | dl AS (SELECT did, count(*) dl FROM wds GROUP BY 1),
        | dfq AS (SELECT t, count(*) df FROM tf GROUP BY 1),
        | st AS (SELECT (SELECT count(*) FROM documents) n_docs,
        |     (SELECT count(*) FROM wds) n_toks),
        | qt AS (SELECT DISTINCT qid, t FROM
        |   (SELECT doc_id qid, unnest(string_split(text,' ')) t
        |    FROM documents WHERE doc_id < 5)),
        | sc AS (SELECT qt.qid, tf.did, floor(
        |     1000000 * ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
        |     * (tf.tf * 2.2)
        |     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
        |         / (st.n_toks::DOUBLE / st.n_docs::DOUBLE))))::BIGINT ws
        |   FROM qt JOIN tf USING (t) JOIN dfq USING (t)
        |   JOIN dl ON dl.did = tf.did CROSS JOIN st
        |   WHERE qt.qid <> tf.did),
        | pr AS (SELECT qid, did, count(*)::BIGINT n_terms,
        |     sum(ws)::BIGINT score FROM sc GROUP BY 1, 2),
        | rnk AS (SELECT qid, did, n_terms, score,
        |     row_number() OVER (PARTITION BY qid ORDER BY score DESC, did)::BIGINT rk
        |   FROM pr)
        | SELECT qid, did, n_terms, score, rk FROM rnk
        | WHERE rk <= 5 ORDER BY qid, did""".stripMargin),

    // x91 — the PQ recall gate: x87's top-5 graded against the x25
    // brute-force truth — what the 64× compression costs, measured, next
    // to the x61/x63 method grades.
    "x91_ann_recall_pq" -> QueryCase({ (s, dir) =>
      VectorOps.annRecall(queries("x87_ann_ivf_pq")(s, dir),
          annTruth(s, dir), "qid", "nid")
        .withColumn("method", lit("ivf_pq"))
        .select("method", "qid", "n_exact", "n_hit", "recall_bp")
        .orderBy("method", "qid")
    }, oracle =
      // The PQ recall gate: x87's top-5 graded against the x25 brute-force
      // truth — the honest "what does 64× compression cost" number next to
      // the x61/x63 per-method grades.
      s"""WITH $annV,
         | $annBrute,
         | ex AS (SELECT qid, nid FROM r_ex WHERE rk <= 5),
         | $annIvf,
         | $annIvfPq,
         | pq AS (SELECT DISTINCT qid, nid FROM r_pq WHERE rk <= 5),
         | ${gradeSql("ivf_pq", "pq")}
         | SELECT * FROM g_pq ORDER BY method, qid""".stripMargin),

    // x92 — the per-source dataset card: counts, token stats, Gopher pass
    // rate, intra-source exact duplication, modal language — the audit
    // table a corpus release ships next to the data.
    "x92_source_report" -> QueryCase({ (s, dir) =>
      StatOps.sourceReport(spread(t(s, dir, "documents")))
        .orderBy("source")
    }, oracle =
      // Dataset-card mirror: the x88 keep conjunction inlined, per-source
      // aggregates, deterministic language mode ((count desc, lang asc)).
      """WITH w AS (SELECT doc_id, source, lang, text,
        |     string_split(text,' ') w FROM documents),
        | sig AS (SELECT doc_id, source, text,
        |     len(w)::BIGINT n_words,
        |     length(replace(text, ' ', ''))::BIGINT wc,
        |     (len(w) - len(list_distinct(w)))::BIGINT n_dup,
        |     len(list_filter(w, x ->
        |       length(regexp_replace(x, '[^a-zA-Z]', '', 'g')) > 0))::BIGINT n_alpha,
        |     (length(text) - length(regexp_replace(text, '[#…]', '', 'g')))::BIGINT n_sym,
        |     len(list_intersect(list_distinct(w),
        |       ['the','be','to','of','and','that','have','with']))::BIGINT sh
        |   FROM w),
        | k AS (SELECT doc_id, source, text, n_words,
        |     (n_words >= 50 AND n_words <= 100000
        |      AND floor(wc::DOUBLE * 100 / n_words::DOUBLE) >= 300
        |      AND floor(wc::DOUBLE * 100 / n_words::DOUBLE) <= 1000
        |      AND floor(n_dup::DOUBLE * 10000 / n_words::DOUBLE) <= 3000
        |      AND floor(n_alpha::DOUBLE * 10000 / n_words::DOUBLE) >= 8000
        |      AND floor(n_sym::DOUBLE * 10000 / n_words::DOUBLE) <= 1000
        |      AND sh >= 2) keep
        |   FROM sig),
        | ps AS (SELECT source, count(*)::BIGINT n_docs,
        |     sum(n_words)::BIGINT n_tokens,
        |     sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT n_keep,
        |     count(DISTINCT md5(text))::BIGINT n_distinct_texts
        |   FROM k GROUP BY 1),
        | tl AS (SELECT source, lang top_lang, n_lang n_top_lang FROM (
        |     SELECT source, lang, count(*)::BIGINT n_lang,
        |       row_number() OVER (PARTITION BY source
        |         ORDER BY count(*) DESC, lang) rk
        |     FROM documents GROUP BY source, lang) WHERE rk = 1)
        | SELECT ps.source, n_docs, n_tokens,
        |   floor(n_tokens::DOUBLE * 100 / n_docs::DOUBLE)::BIGINT AS mean_tokens_centi,
        |   floor(n_keep::DOUBLE * 10000 / n_docs::DOUBLE)::BIGINT AS keep_bp,
        |   n_distinct_texts,
        |   floor((n_docs - n_distinct_texts)::DOUBLE * 10000
        |     / n_docs::DOUBLE)::BIGINT AS dup_text_bp,
        |   top_lang,
        |   floor(n_top_lang::DOUBLE * 10000 / n_docs::DOUBLE)::BIGINT AS top_lang_bp
        | FROM ps JOIN tl USING (source) ORDER BY source""".stripMargin),

    // x93 — normalization-aware dup audit: distinct counts of the raw
    // text vs its canonical form (lower/collapse-ws/trim, then the
    // punct-stripped variant) — the "how much duplication does
    // normalization reveal" number that decides whether a corpus deduos
    // raw or canonical.
    "x93_normalized_dup_stats" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      d.agg(count(lit(1)).as("n_docs"),
        count_distinct(col("text")).as("n_distinct_raw"),
        count_distinct(TextOps.normalizeText(col("text")))
          .as("n_distinct_norm"),
        count_distinct(TextOps.normalizeText(col("text"), stripPunct = true))
          .as("n_distinct_norm_nopunct"))
    }, oracle =
      // Normalization mirror: lower → collapse \s+ → trim; the nopunct
      // variant strips [^a-z0-9 ] then re-collapses.
      """WITH nrm AS (SELECT text,
        |     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) n1
        |   FROM documents),
        | n2t AS (SELECT text, n1,
        |     trim(regexp_replace(regexp_replace(n1, '[^a-z0-9 ]', '', 'g'),
        |       '\s+', ' ', 'g')) n2
        |   FROM nrm)
        | SELECT count(*)::BIGINT AS n_docs,
        |   count(DISTINCT text)::BIGINT AS n_distinct_raw,
        |   count(DISTINCT n1)::BIGINT AS n_distinct_norm,
        |   count(DISTINCT n2)::BIGINT AS n_distinct_norm_nopunct
        | FROM n2t""".stripMargin),

    // x94 — the END-TO-END training manifest, the round's capstone
    // composite: quality gate (the x34 curation filter) → canonical-text
    // exact dedup (x93's normalizer feeding x20's keep-min) → temperature
    // (α=1/2) source rebalance (x58) → fixed-128-token sequence packing
    // (x89). One lazy plan from raw documents to the loader manifest a
    // training run reads — every stage narrow or combiner-condensed, the
    // corpus never shuffled pairwise.
    "x94_training_manifest" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val (_, _, bal) = manifestStages(d)
      val toks = bal.select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_toks_doc"))
      SampleOps.packSequences(toks, "doc_id", "n_toks_doc", seqLen = 128)
        .select("seq_id", "doc_id", "seq_off", "doc_off", "n_toks")
        .orderBy("seq_id", "doc_id")
    }, oracle =
      // Training-manifest mirror: quality gate → canonical keep-min dedup →
      // x58 temperature rates over the SURVIVOR set → x89 packing windows.
      s"""WITH $manifestHeadSql,
        | d2 AS (SELECT doc_id, len(string_split(text,' '))::BIGINT n FROM bal),
        | sto AS (SELECT doc_id, n,
        |     coalesce(sum(n) OVER (ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT st
        |   FROM d2),
        | x AS (SELECT doc_id, n, st,
        |     unnest(range(st // 128, (st + n - 1) // 128 + 1)) seq_id
        |   FROM sto WHERE n > 0)
        | SELECT seq_id::BIGINT AS seq_id, doc_id,
        |   greatest(st - seq_id*128, 0)::BIGINT AS seq_off,
        |   greatest(seq_id*128 - st, 0)::BIGINT AS doc_off,
        |   (least(st + n, seq_id*128 + 128)
        |     - greatest(st, seq_id*128))::BIGINT AS n_toks
        | FROM x ORDER BY seq_id, doc_id""".stripMargin),

    // x95 — prototypicality pruning (Sorscher 2022): 8 seed cells, keep
    // the hardest 50% of each cell (ascending cosine-to-centroid rank).
    "x95_prototype_pruning" -> QueryCase({ (s, dir) =>
      VectorOps.prototypePrune(spread(t(s, dir, "embeddings")), "vec_id",
          "embedding", numCentroids = 8, keepBp = 5000)
        .orderBy("vec_id")
    }, oracle =
      // Prototypicality mirror: the x42/x65 assignment CTEs (argmax cosine,
      // ties → lowest cid) with the winning cosine kept and floored to bp;
      // keep = rank ≤ ⌈n_cell·keepBp/10000⌉ in the pure-integer form.
      s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding,
         |     ${normSql("embedding")} nrm FROM embeddings) WHERE nrm > 0),
         | cent AS ${seedCentSql(8)},
         | ca AS (SELECT v.vec_id id, cent.cid,
         |     ${dotSql("v.embedding", "cent.cv")} / (v.nrm * cent.cn) ccos
         |   FROM v CROSS JOIN cent),
         | ranked AS (SELECT id, cid, ccos,
         |     row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) crk
         |   FROM ca),
         | cells AS (SELECT id, cid cell,
         |     floor(ccos * 10000)::BIGINT proto_bp FROM ranked WHERE crk = 1),
         | k AS (SELECT id, cell, proto_bp,
         |     row_number() OVER (PARTITION BY cell ORDER BY proto_bp, id) rk,
         |     count(*) OVER (PARTITION BY cell) n FROM cells)
         | SELECT id AS vec_id, cell, proto_bp,
         |   ((rk - 1) * 10000 < n * 5000) AS keep
         | FROM k ORDER BY vec_id""".stripMargin),

    // x96 — CCNet head/middle/tail: per-language perplexity terciles
    // under the x83 bigram model (head = most fluent third per language).
    "x96_ccnet_buckets" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val model = LmOps.trainBigramLm(d).localCheckpoint()
      LmOps.ccnetBuckets(d, model).orderBy("doc_id")
    }, oracle =
      // CCNet mirror: the x83 scoring CTEs + per-language ntile(3) over the
      // integer score with the doc_id tie-break.
      s"""WITH $bigramNllSql,
        | sc AS (SELECT doc_id,
        |     (sum(nll)::BIGINT // count(*)::BIGINT) avg_nll_scaled
        |   FROM big JOIN m USING (s) GROUP BY doc_id),
        | t AS (SELECT sc.doc_id, d.lang, avg_nll_scaled,
        |     ntile(3) OVER (PARTITION BY d.lang
        |       ORDER BY avg_nll_scaled, sc.doc_id) tc
        |   FROM sc JOIN documents d USING (doc_id))
        | SELECT doc_id, lang, avg_nll_scaled, tc::BIGINT AS tercile,
        |   CASE tc WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |     ELSE 'tail' END AS bucket
        | FROM t ORDER BY doc_id""".stripMargin),

    // x97 — Gopher's full n-gram repetition family: per doc and
    // n ∈ [2,10], top-gram and duplicated-gram character coverage.
    "x97_topgram_coverage" -> QueryCase({ (s, dir) =>
      TextOps.topNgramCoverage(spread(t(s, dir, "documents")))
        .orderBy("doc_id", "n")
    }, oracle =
      // Top-n-gram mirror: positional grams per n ∈ [2,10], count + window,
      // integral // division, both coverages capped at 10000 bp.
      """WITH w AS (SELECT doc_id, length(text)::BIGINT len,
        |     string_split(text,' ') w FROM documents WHERE length(text) > 0),
        | g AS (SELECT doc_id, len, n, unnest(list_transform(
        |     range(1, greatest(len(w) - (n - 1), 0) + 1),
        |     k -> array_to_string(list_slice(w, k::INT, (k + n - 1)::INT), ' '))) gram
        |   FROM w CROSS JOIN (SELECT unnest(range(2, 11)) n)),
        | c AS (SELECT doc_id, len, n, gram, count(*)::BIGINT cnt,
        |     length(gram)::BIGINT glen
        |   FROM g GROUP BY doc_id, len, n, gram),
        | t AS (SELECT doc_id, len, n, gram, cnt, glen,
        |     row_number() OVER (PARTITION BY doc_id, n
        |       ORDER BY cnt DESC, gram) rk,
        |     sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END)
        |       OVER (PARTITION BY doc_id, n)::BIGINT dupc
        |   FROM c)
        | SELECT doc_id, n::BIGINT AS n, gram AS top_gram, cnt AS top_cnt,
        |   least((cnt * glen * 10000) // len, 10000)::BIGINT AS top_bp,
        |   least((dupc * 10000) // len, 10000)::BIGINT AS dup_bp
        | FROM t WHERE rk = 1 ORDER BY doc_id, n""".stripMargin),

    // x98 — epoch-0 training-order shuffle into 8 shards: the
    // deterministic permutation + round-robin layout a loader replays.
    "x98_shuffle_order" -> QueryCase({ (s, dir) =>
      SampleOps.shuffleOrder(spread(t(s, dir, "documents")), "doc_id",
          numShards = 8, epoch = 0L)
        .select("doc_id", "global_pos", "shard", "shard_pos")
        .orderBy("doc_id")
    }, oracle =
      // Shuffle-order mirror: rank by (hash60('0_'||id), id); shard =
      // round-robin over the 0-based global position.
      """WITH h AS (SELECT doc_id,
        |     ('0x' || substr(md5('0_' || doc_id::VARCHAR), 1, 15))::BIGINT h
        |   FROM documents),
        | r AS (SELECT doc_id,
        |     row_number() OVER (ORDER BY h, doc_id) - 1 gp FROM h)
        | SELECT doc_id, gp::BIGINT AS global_pos, (gp % 8)::BIGINT AS shard,
        |   (gp // 8)::BIGINT AS shard_pos
        | FROM r ORDER BY doc_id""".stripMargin),

    // x99 — hard-negative mining: for the 20 lowest-id query vectors, the
    // 5 most similar corpus vectors with a different label (the x25 scan
    // shape with the label inequality fused into the join).
    "x99_hard_negatives" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      VectorOps.hardNegatives(e.filter(col("vec_id") < 20), e, "vec_id",
          "embedding", "label", 5)
        .orderBy("qid", "nid")
    }, oracle =
      // Hard-negative mirror: the x25 brute CTEs with the label inequality
      // (IS DISTINCT FROM = Spark's !(<=>)) in the join.
      s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding, label,
         |     ${normSql("embedding")} nrm FROM embeddings) WHERE nrm > 0),
         | s_hn AS (SELECT q.vec_id qid, c.vec_id nid,
         |     ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) cos
         |   FROM v c JOIN v q ON q.vec_id < 20 AND q.vec_id <> c.vec_id
         |     AND q.label IS DISTINCT FROM c.label),
         | r_hn AS (SELECT qid, nid, cos,
         |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
         |   FROM s_hn)
         | SELECT qid, nid, rk::BIGINT AS rk,
         |   floor(cos * 10000)::BIGINT AS cos_bp
         | FROM r_hn WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x100 — kNN label-noise audit: majority label of the 5 nearest
    // same-cell neighbors vs own label, corpus-proportional cells.
    "x100_label_noise" -> QueryCase({ (s, dir) =>
      VectorOps.knnLabelNoise(spread(t(s, dir, "embeddings")), "vec_id",
          "embedding", "label", k = 5, perCell = 32)
        .orderBy("vec_id")
    }, oracle =
      // Label-noise mirror: the x65 corpus-proportional assignment CTEs
      // carrying the label, within-cell kNN, majority via (cnt desc, label)
      // rank — ties → smallest label, same as min(struct(-cnt, label)).
      s"""WITH v AS (SELECT * FROM (SELECT vec_id, embedding,
         |     label::BIGINT lab, ${normSql("embedding")} nrm
         |   FROM embeddings) WHERE nrm > 0),
         | nk AS (SELECT greatest(8, count(*) // 32) k FROM embeddings),
         | cent AS (SELECT cid, cv, cn FROM (
         |     SELECT vec_id cid, embedding cv, ${normSql("embedding")} cn,
         |       row_number() OVER (ORDER BY vec_id) rn FROM embeddings)
         |   CROSS JOIN nk WHERE rn <= k AND cn > 0),
         | ca AS (SELECT v.vec_id id, v.embedding vec, v.nrm, v.lab, cent.cid,
         |     ${dotSql("v.embedding", "cent.cv")} / (v.nrm * cent.cn) ccos
         |   FROM v CROSS JOIN cent),
         | ranked AS (SELECT id, vec, nrm, lab, cid,
         |     row_number() OVER (PARTITION BY id ORDER BY ccos DESC, cid) crk
         |   FROM ca),
         | cl AS (SELECT id, vec, nrm, lab, cid cell FROM ranked WHERE crk = 1),
         | p AS (SELECT a.id, a.lab, a.cell, b.id nid, b.lab nlab,
         |     ${dotSql("a.vec", "b.vec")} / (a.nrm * b.nrm) cos
         |   FROM cl a JOIN cl b ON a.cell = b.cell AND a.id <> b.id),
         | r AS (SELECT id, lab, cell, nid, nlab,
         |     row_number() OVER (PARTITION BY id ORDER BY cos DESC, nid) rk
         |   FROM p),
         | t AS (SELECT id, lab, cell, nlab, count(*)::BIGINT cnt
         |   FROM r WHERE rk <= 5 GROUP BY id, lab, cell, nlab),
         | m AS (SELECT id, lab, cell, nlab, cnt,
         |     row_number() OVER (PARTITION BY id ORDER BY cnt DESC, nlab) mrk,
         |     sum(cnt) OVER (PARTITION BY id) n_nbrs FROM t)
         | SELECT id AS vec_id, lab AS label, cell, n_nbrs::BIGINT AS n_nbrs,
         |   nlab AS maj_label, (nlab IS DISTINCT FROM lab) AS noisy
         | FROM m WHERE mrk = 1 ORDER BY vec_id""".stripMargin),

    // x101 — epoch up-sampling: assemble a 12k-doc mix at src0:src2:src3
    // = 50:20:1 percent shares, repeating scarce sources up to 5 epochs
    // (the LLaMA books/wiki recipe). At sf0.01 src0/src2 hit the epoch
    // cap while src3 lands between (4 full epochs + an 8000 bp partial);
    // at sf0.1 src3 degrades to plain down-sampling — both directions of
    // mix assembly and all three arms through one operator.
    "x101_epoch_upsample" -> QueryCase({ (s, dir) =>
      SampleOps.epochUpsample(t(s, dir, "documents"), "doc_id", "source",
          Seq("src0" -> 0.5, "src2" -> 0.2, "src3" -> 0.01),
          totalDocs = 12000L, maxEpochs = 5)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    }, oracle =
      // Epoch-upsample mirror: ONE double multiply (w * 12000.0) then
      // integer math only — full epochs = want div n capped at 5, partial
      // rate = remainder bp, the shared md5 hash-mod acceptance.
      s"""WITH $epochPlanSql
        | SELECT d.doc_id, d.source, ep.epoch::BIGINT AS epoch
        | FROM documents d JOIN ep ON d.source = ep.dom
        | WHERE ep.epoch < ep.eful
        |   OR ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
        |     % 10000 < ep.pbp
        | ORDER BY doc_id, epoch""".stripMargin),

    // x102 — the pipeline funnel: doc/token counts after each stage of
    // the x94 manifest pipeline (raw → quality → canonical dedup →
    // temperature balance) — the observability table that makes a mix
    // bug visible BEFORE a training run pays for it. Four bounded
    // aggregates; deliberately LAZY (no localCheckpoint): measured at
    // sf0.1/sf1/sf2, checkpointing the shared quality/survivor stages
    // was a wash (−15%/+4%/+10%) — counting is so much cheaper than the
    // stages themselves that materialization costs more than the branch
    // re-execution it saves (contrast x34/x64, where the reused frame
    // feeds expensive SHUFFLING consumers, not count(*) branches).
    "x102_funnel_report" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val (quality, surv, bal) = manifestStages(d)
      StatOps.funnelReport(
          Seq("raw" -> d, "quality" -> quality, "dedup" -> surv,
            "balanced" -> bal),
          size(split(col("text"), " ")))
        .orderBy("stage_idx")
    }, oracle =
      // Funnel mirror: the x94 stage CTEs (quality → canonical dedup →
      // temperature balance) with a count/sum per stage instead of the
      // packing tail.
      s"""WITH $manifestHeadSql
        | SELECT * FROM (
        |   SELECT 0::BIGINT stage_idx, 'raw' stage, count(*)::BIGINT n_docs,
        |     coalesce(sum(len(string_split(text,' '))), 0)::BIGINT n_tokens
        |   FROM documents
        |   UNION ALL SELECT 1::BIGINT, 'quality', count(*)::BIGINT,
        |     coalesce(sum(len(string_split(text,' '))), 0)::BIGINT FROM ql
        |   UNION ALL SELECT 2::BIGINT, 'dedup', count(*)::BIGINT,
        |     coalesce(sum(len(string_split(text,' '))), 0)::BIGINT FROM surv
        |   UNION ALL SELECT 3::BIGINT, 'balanced', count(*)::BIGINT,
        |     coalesce(sum(len(string_split(text,' '))), 0)::BIGINT FROM bal)
        | ORDER BY stage_idx""".stripMargin),

    // x103 — feature-hashed bag-of-words vectors (sparse form): the
    // text→vector bridge with no vocabulary, model, or embedding
    // service. Restricted to the first 500 docs so the fixture output
    // stays diff-sized; the plan is corpus-shaped (one explode + one
    // doc-scoped combinable agg) regardless of the cut.
    "x103_hashed_bow" -> QueryCase({ (s, dir) =>
      TextOps.hashedBow(
          spread(t(s, dir, "documents")).filter(col("doc_id") < 500),
          "doc_id", "text", dim = 64)
        .orderBy("doc_id", "bucket")
    }, oracle =
      // Hashed-BoW mirror: same md5-derived 60-bit hash, bucket = h mod 64,
      // sign = (h div 64) mod 2 — all-integer signed occurrence sums.
      """WITH tok AS (SELECT doc_id,
        |     unnest(list_filter(string_split(text, ' '),
        |       t -> length(t) > 0)) t
        |   FROM documents WHERE doc_id < 500),
        | h AS (SELECT doc_id,
        |     ('0x' || substr(md5(t), 1, 15))::BIGINT h FROM tok),
        | b AS (SELECT doc_id, (h % 64)::BIGINT bucket,
        |     CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END sgn FROM h)
        | SELECT doc_id, bucket, sum(sgn)::BIGINT AS val
        | FROM b GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin),

    // x104 — sparse cosine top-5 over the hashed-BoW vectors: text-only
    // near-neighbor retrieval through the inverted-index join (pairs cost
    // only their co-occurring buckets). The 20 lowest-id docs probe the
    // full corpus — the x25 shape on the sparse representation.
    "x104_sparse_cosine" -> QueryCase({ (s, dir) =>
      val sv = TextOps.hashedBow(spread(t(s, dir, "documents")),
        "doc_id", "text", dim = 64)
      VectorOps.sparseCosineTopK(sv.filter(col("doc_id") < 20), sv,
          "doc_id", "bucket", "val", k = 5)
        .orderBy("qid", "nid")
    }, oracle =
      // Sparse-cosine mirror: x103's vector CTEs over the FULL corpus,
      // integer dots on the bucket join, exact integer squared norms, the
      // single double step (dot / (qn·nn)) in the same operand order.
      """WITH tok AS (SELECT doc_id,
        |     unnest(list_filter(string_split(text, ' '),
        |       t -> length(t) > 0)) t
        |   FROM documents),
        | h AS (SELECT doc_id,
        |     ('0x' || substr(md5(t), 1, 15))::BIGINT h FROM tok),
        | b AS (SELECT doc_id, (h % 64)::BIGINT bucket,
        |     CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END sgn FROM h),
        | v AS (SELECT doc_id, bucket, sum(sgn)::BIGINT val
        |   FROM b GROUP BY doc_id, bucket),
        | nrm AS (SELECT doc_id, sqrt(sum(val * val)::DOUBLE) nm
        |   FROM v GROUP BY doc_id HAVING sqrt(sum(val * val)::DOUBLE) > 0),
        | d AS (SELECT q.doc_id qid, c.doc_id nid,
        |     sum(q.val * c.val)::BIGINT dot
        |   FROM v q JOIN v c ON q.bucket = c.bucket
        |     AND q.doc_id < 20 AND q.doc_id <> c.doc_id
        |   GROUP BY q.doc_id, c.doc_id),
        | sc AS (SELECT qid, nid, dot::DOUBLE / (qn.nm * cn.nm) cos
        |   FROM d JOIN nrm qn ON qn.doc_id = qid
        |     JOIN nrm cn ON cn.doc_id = nid),
        | r AS (SELECT qid, nid, cos,
        |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
        |   FROM sc)
        | SELECT qid, nid, rk::BIGINT AS rk,
        |   floor(cos * 10000)::BIGINT AS cos_bp
        | FROM r WHERE rk <= 5 ORDER BY qid, nid""".stripMargin),

    // x105 — the x102 funnel broken out BY SOURCE: where mix bugs hide —
    // a global funnel that drops 40% looks fine until the by-source view
    // shows one domain losing 99%. Bounded stages × sources metadata.
    "x105_funnel_by_source" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val (quality, surv, bal) = manifestStages(d)
      StatOps.funnelReportBy(
          Seq("raw" -> d, "quality" -> quality, "dedup" -> surv,
            "balanced" -> bal),
          size(split(col("text"), " ")), "source")
        .orderBy("stage_idx", "source")
    }, oracle =
      // Per-source funnel mirror: the x102 stage CTEs with source carried
      // through and a GROUP BY source per branch.
      s"""WITH $manifestHeadSql
        | SELECT * FROM (
        |   SELECT 0::BIGINT stage_idx, 'raw' stage, source,
        |     count(*)::BIGINT n_docs,
        |     coalesce(sum(len(string_split(text,' '))), 0)::BIGINT n_tokens
        |   FROM documents GROUP BY source
        |   UNION ALL SELECT 1::BIGINT, 'quality', source, count(*)::BIGINT,
        |     coalesce(sum(len(string_split(text,' '))), 0)::BIGINT
        |   FROM ql GROUP BY source
        |   UNION ALL SELECT 2::BIGINT, 'dedup', source, count(*)::BIGINT,
        |     coalesce(sum(len(string_split(text,' '))), 0)::BIGINT
        |   FROM surv GROUP BY source
        |   UNION ALL SELECT 3::BIGINT, 'balanced', source, count(*)::BIGINT,
        |     coalesce(sum(len(string_split(text,' '))), 0)::BIGINT
        |   FROM bal GROUP BY source)
        | ORDER BY stage_idx, source""".stripMargin),

    // x106 — the complete mix-assembly capstone: x101's epoched replica
    // stream laid out for the loader — global position by the per-row
    // (epoch, id) hash (a doc's replicas scatter away from each other),
    // round-robin shards with exact ±1 balance. epochUpsample →
    // replayLayout is "assemble the mix, lay it out", end to end.
    "x106_epoch_replay" -> QueryCase({ (s, dir) =>
      SampleOps.replayLayout(
          SampleOps.epochUpsample(t(s, dir, "documents"), "doc_id",
            "source", Seq("src0" -> 0.5, "src2" -> 0.2, "src3" -> 0.01),
            totalDocs = 12000L, maxEpochs = 5),
          "doc_id", "epoch", numShards = 8)
        .select("doc_id", "epoch", "global_pos", "shard", "shard_pos")
        .orderBy("doc_id", "epoch")
    }, oracle =
      // Epoch-replay mirror: the x101 selection CTEs, then rank by
      // (hash60(epoch‖'_'‖id), id, epoch) and round-robin over 8 shards.
      s"""WITH $epochPlanSql,
        | sel AS (SELECT d.doc_id, ep.epoch::BIGINT epoch
        |   FROM documents d JOIN ep ON d.source = ep.dom
        |   WHERE ep.epoch < ep.eful
        |     OR ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
        |       % 10000 < ep.pbp),
        | hh AS (SELECT doc_id, epoch,
        |     ('0x' || substr(md5(epoch::VARCHAR || '_' ||
        |       doc_id::VARCHAR), 1, 15))::BIGINT h FROM sel),
        | rr AS (SELECT doc_id, epoch,
        |     row_number() OVER (ORDER BY h, doc_id, epoch) - 1 gp FROM hh)
        | SELECT doc_id, epoch, gp::BIGINT AS global_pos,
        |   (gp % 8)::BIGINT AS shard, (gp // 8)::BIGINT AS shard_pos
        | FROM rr ORDER BY doc_id, epoch""".stripMargin),

    // x107 — filter-config decision diff: the strict (Gopher-default)
    // vs lax (minWords 20, 1 stopword) keep decisions RE-DECIDED from
    // one signal table — no second text scan — aggregated to the 2×2
    // flip matrix a config review reads ("how many docs does loosening
    // admit, and how many tokens ride on them").
    "x107_filter_config_diff" -> QueryCase({ (s, dir) =>
      val g = TextOps.gopherFilter(spread(t(s, dir, "documents")))
      g.withColumn("keep_lax",
          col("n_words") >= 20L && col("n_words") <= 100000L &&
          col("keep_word_len") && col("keep_dup") && col("keep_alpha") &&
          col("keep_sym") && col("stop_hits") >= 1L)
        .groupBy(col("keep").as("keep_strict"), col("keep_lax"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words_total"))
        .orderBy("keep_strict", "keep_lax")
    }, oracle =
      // Config-diff mirror: the x88 signal CTEs computed ONCE, both
      // conjunctions decided from them, 2×2 flip matrix.
      s"""WITH $gopherCountsSql,
        | s2 AS (SELECT doc_id, n_words,
        |     floor(word_chars::DOUBLE * 100 / n_words::DOUBLE)::BIGINT mwl,
        |     floor(n_dup::DOUBLE * 10000 / n_words::DOUBLE)::BIGINT dup_bp,
        |     floor(n_alpha::DOUBLE * 10000 / n_words::DOUBLE)::BIGINT alpha_bp,
        |     floor(n_sym::DOUBLE * 10000 / n_words::DOUBLE)::BIGINT sym_bp,
        |     stop_hits
        |   FROM sig),
        | k AS (SELECT n_words,
        |     ((n_words >= 50 AND n_words <= 100000)
        |      AND (mwl >= 300 AND mwl <= 1000) AND (dup_bp <= 3000)
        |      AND (alpha_bp >= 8000) AND (sym_bp <= 1000)
        |      AND (stop_hits >= 2)) AS keep_strict,
        |     ((n_words >= 20 AND n_words <= 100000)
        |      AND (mwl >= 300 AND mwl <= 1000) AND (dup_bp <= 3000)
        |      AND (alpha_bp >= 8000) AND (sym_bp <= 1000)
        |      AND (stop_hits >= 1)) AS keep_lax
        |   FROM s2)
        | SELECT keep_strict, keep_lax, count(*)::BIGINT AS n_docs,
        |   sum(n_words)::BIGINT AS n_words_total
        | FROM k GROUP BY keep_strict, keep_lax
        | ORDER BY keep_strict, keep_lax""".stripMargin),

    // x108 — mixture sampling with the budget in TOKENS, the unit recipes
    // actually specify: feasible T = min_d(tokens_d/w_d), per-domain doc
    // acceptance rate = w_d·T/tokens_d bp. Corpus never shuffles.
    "x108_token_mixture" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
        .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      SampleOps.tokenBudgetMixture(d, "doc_id", "source", "n_tokens",
          Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    }, oracle =
      // Token-budget mixture mirror: the x81 CTEs with count(*) swapped for
      // sum(n_tokens) and the same left-to-right double arithmetic.
      """WITH wt AS (SELECT * FROM (VALUES
        |     ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE),
        |     ('src2', 0.2::DOUBLE)) w(dom, w)),
        | tok AS (SELECT doc_id, source,
        |     len(string_split(text,' '))::BIGINT n_tokens FROM documents),
        | cnt AS (SELECT source, sum(n_tokens) tk FROM tok GROUP BY 1),
        | j AS (SELECT dom, w, coalesce(tk, 0) tk FROM wt
        |   LEFT JOIN cnt ON source = dom),
        | t AS (SELECT min(tk::DOUBLE / w) tt FROM j),
        | r AS (SELECT dom, floor(10000 * w * tt / tk::DOUBLE)::BIGINT rate
        |   FROM j, t WHERE tk > 0)
        | SELECT d.doc_id, d.source, d.n_tokens FROM tok d
        | JOIN r ON d.source = r.dom
        | WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
        |   % 10000 < r.rate
        | ORDER BY d.doc_id""".stripMargin),

    // x109 — train/eval split-leakage audit: per split, docs with an
    // LSH-verified near-dup in train — the eval-contamination number a
    // benchmark ships with. Train's own row = intra-train duplication.
    "x109_split_leakage" -> QueryCase({ (s, dir) =>
      val d = SampleOps.hashSplit(spread(t(s, dir, "documents")), "doc_id",
        Seq("train" -> 8000, "eval" -> 10000))
      DedupOps.splitLeakage(d, "doc_id",
          TextOps.wordShingles(col("text"), 3), 0.5, "split", "train",
          oph = true)
        .orderBy("split")
    }, oracle =
      // Split-leakage mirror: the OPH banding + candidate-verify CTEs (r14
      // flip) over the full corpus, split labels by hashSplit hash-mod cuts.
      s"""$word3gramShingles,
         | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         | $ophBsigSql,
         | $bandVerifySql,
         | $jaccardPairsSql,
         | sp AS (SELECT doc_id,
         |     CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
         |       % 10000 < 8000 THEN 'train' ELSE 'eval' END split
         |   FROM documents),
         | ends AS (SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
         | leaky AS (SELECT DISTINCT e.a doc_id FROM ends e
         |   JOIN sp ON sp.doc_id = e.b AND sp.split = 'train')
         | SELECT sp.split, count(*)::BIGINT AS n_docs,
         |   sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |     AS n_near_train,
         |   floor(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |     * 10000 / count(*)::DOUBLE)::BIGINT AS leak_bp
         | FROM sp LEFT JOIN leaky l USING (doc_id)
         | GROUP BY sp.split ORDER BY split""".stripMargin),

    // x110 — winnowing fingerprints (Schleimer 2003): window-min selection
    // over positional 3-gram hashes, w=4 — every ≥6-token overlap still
    // shares a fingerprint at ~40% of the full shingle table's size.
    "x110_winnow_fingerprints" -> QueryCase({ (s, dir) =>
      TextOps.winnowFingerprints(spread(t(s, dir, "documents")), "doc_id",
          k = 3, w = 4)
        .orderBy("doc_id", "pos")
    }, oracle =
      // Winnowing mirror: positional 3-gram hash60s, the zero-padded
      // decimal (hash,pos) key, a CURRENT ROW..3 FOLLOWING window min,
      // full windows only, DISTINCT selections.
      s"""WITH $winnowCtesSql
        | SELECT DISTINCT doc_id, substr(wmin, 20, 8)::BIGINT AS pos,
        |   substr(wmin, 1, 19)::BIGINT AS fp
        | FROM wm WHERE p <= maxp - 3
        | ORDER BY doc_id, pos""".stripMargin),

    // x111 — duplicate-cluster size histogram: the dedup-stage audit
    // ("are dups pairs or one 10k-doc boilerplate blob?") — LSH-verified
    // pairs → components → bounded size histogram.
    "x111_cluster_histogram" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pairs = DedupOps.nearDupPairs(d, "doc_id",
        TextOps.wordShingles(col("text"), 3), 0.5, oph = true)
      DedupOps.connectedComponents(pairs)
        .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }, oracle =
      // Cluster-histogram mirror: x109's banding/verify pairs → recursive
      // reachability (the x40 component rule) → sizes → histogram.
      s"""WITH RECURSIVE ${word3gramCtes("documents")},
         | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         | $ophBsigSql,
         | $bandVerifySql,
         | $jaccardPairsSql,
         | $reachSql,
         | compo AS (SELECT a AS doc_id, least(a, min(b)) comp
         |   FROM reach GROUP BY a),
         | sz AS (SELECT comp, count(*) s FROM compo GROUP BY comp)
         | SELECT s::BIGINT AS cluster_size, count(*)::BIGINT AS n_clusters
         | FROM sz GROUP BY s ORDER BY cluster_size""".stripMargin),

    // x112 — truncated-dimension recall (the Matryoshka/MRL question):
    // what does serving on the first 16 of 64 dims lose? Brute top-5 on
    // the truncated vectors graded against the full-dim truth.
    "x112_truncated_recall" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      val tr = e.withColumn("embedding", slice(col("embedding"), 1, 16))
      val approx = VectorOps.bruteForceTopK(tr.filter(col("vec_id") < 20),
        tr, "vec_id", "embedding", 5)
      VectorOps.annRecall(approx, annTruth(s, dir), "qid", "nid")
        .orderBy("qid")
    }, oracle =
      // Truncated-recall mirror: the x25 brute CTEs at full dim (truth) and
      // over the first 16 dims (approx), graded per query.
      s"""WITH $annV,
         | $annBrute,
         | ex AS (SELECT qid, nid FROM r_ex WHERE rk <= 5),
         | v16 AS (SELECT * FROM (SELECT vec_id, embedding,
         |     sqrt(${dotNSql("embedding", "embedding", 16)}) nrm
         |   FROM embeddings) WHERE nrm > 0),
         | s_tr AS (SELECT q.vec_id qid, c.vec_id nid,
         |     ${dotNSql("q.embedding", "c.embedding", 16)} / (q.nrm * c.nrm) cos
         |   FROM v16 c JOIN v16 q ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         | r_tr AS (SELECT qid, nid,
         |     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rk
         |   FROM s_tr),
         | ap AS (SELECT qid, nid FROM r_tr WHERE rk <= 5)
         | SELECT ex.qid AS qid, count(*)::BIGINT AS n_exact,
         |   sum(CASE WHEN ap.nid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         |   floor(sum(CASE WHEN ap.nid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |     * 10000 / count(*)::DOUBLE)::BIGINT AS recall_bp
         | FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid
         | GROUP BY ex.qid ORDER BY ex.qid""".stripMargin),

    // x113 — overlap candidates from the x110 winnow index: docs sharing
    // ≥2 selected fingerprints — the MOSS-style candidate generator at
    // ~40% of the shingle table's bill. maxBucket 200 is MOSS's
    // "too-common fingerprint" drop — the declared scale knob.
    "x113_winnow_overlap" -> QueryCase({ (s, dir) =>
      DedupOps.winnowOverlapPairs(spread(t(s, dir, "documents")), "doc_id",
          k = 3, w = 4, minShared = 2, maxBucket = 200)
        .orderBy("i", "j")
    }, oracle =
      // Winnow-overlap mirror: the x110 selection CTEs → DISTINCT (doc,fp)
      // → fp-bucket pair join → shared count ≥ 2.
      s"""WITH $winnowCtesSql,
        | sel AS (SELECT DISTINCT doc_id, substr(wmin, 1, 19)::BIGINT fp
        |   FROM wm WHERE p <= maxp - 3),
        | ok AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 200),
        | sf AS (SELECT sel.doc_id, sel.fp FROM sel JOIN ok USING (fp))
        | SELECT a.doc_id i, b.doc_id j, count(*)::BIGINT AS shared
        | FROM sf a JOIN sf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        | GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY i, j""".stripMargin),

    // x114 — corpus snapshot diff: per-id added/removed/changed/unchanged
    // between a dump and its refresh — the work-list the incremental ops
    // (x60/x73) run from. The refresh is simulated deterministically.
    "x114_snapshot_diff" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents")).select("doc_id", "text")
      StatOps.snapshotDiff(d, refreshSnapshot(d), "doc_id", "text")
        .orderBy("doc_id")
    }, oracle =
      // Snapshot-diff mirror: the same simulated refresh, md5 compare over
      // a full-outer id join.
      """WITH nw AS (
        |   SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0
        |     THEN text || ' updated' ELSE text END) h
        |   FROM documents WHERE doc_id % 7 <> 0
        |   UNION ALL
        |   SELECT doc_id + 1000000, md5(text) FROM documents
        |   WHERE doc_id % 3 = 0),
        | o AS (SELECT doc_id, md5(text) h FROM documents),
        | n AS (SELECT doc_id, h FROM nw)
        | SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |   CASE WHEN o.h IS NULL THEN 'added'
        |        WHEN n.h IS NULL THEN 'removed'
        |        WHEN o.h = n.h THEN 'unchanged'
        |        ELSE 'changed' END AS status
        | FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        | ORDER BY doc_id""".stripMargin),

    // x115 — source-mix drift between the same two snapshots: per source,
    // counts + corpus shares + delta — the ingest monitor that catches a
    // domain quietly halving before training bakes it in.
    "x115_mix_drift" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val nw = d.filter(!(col("source") === "src0" && col("doc_id") % 2 === 0))
      StatOps.mixDrift(d, nw, "source").orderBy("source")
    }, oracle =
      // Mix-drift mirror: per-source counts/shares in both snapshots, bp
      // deltas from the same floor arithmetic.
      """WITH nw AS (SELECT * FROM documents
        |   WHERE NOT (source = 'src0' AND doc_id % 2 = 0)),
        | o AS (SELECT source, count(*) n_old FROM documents GROUP BY 1),
        | n AS (SELECT source, count(*) n_new FROM nw GROUP BY 1),
        | ot AS (SELECT count(*) t FROM documents),
        | nt AS (SELECT count(*) t FROM nw)
        | SELECT coalesce(o.source, n.source) AS source,
        |   coalesce(n_old, 0)::BIGINT AS n_old,
        |   coalesce(n_new, 0)::BIGINT AS n_new,
        |   floor(coalesce(n_old, 0)::DOUBLE * 10000 / ot.t::DOUBLE)::BIGINT
        |     AS share_old_bp,
        |   floor(coalesce(n_new, 0)::DOUBLE * 10000 / nt.t::DOUBLE)::BIGINT
        |     AS share_new_bp,
        |   (floor(coalesce(n_new, 0)::DOUBLE * 10000 / nt.t::DOUBLE)
        |    - floor(coalesce(n_old, 0)::DOUBLE * 10000 / ot.t::DOUBLE))::BIGINT
        |     AS delta_bp
        | FROM o FULL OUTER JOIN n ON o.source = n.source
        | CROSS JOIN ot CROSS JOIN nt
        | ORDER BY source""".stripMargin),

    // x116 — phrase-blocklist decision table (the C4 bad-words stage):
    // whole-word contiguous-phrase matching, distinct-hit counts, keep
    // flag. Blocklist broadcasts; the corpus never shuffles its text.
    "x116_blocklist" -> QueryCase({ (s, dir) =>
      TextOps.blocklistHits(spread(t(s, dir, "documents")), "doc_id",
          Seq("slow", "spark join", "big scan table"))
        .orderBy("doc_id")
    }, oracle =
      // Blocklist mirror: distinct grams per phrase length, VALUES
      // blocklist, distinct-hit counts, keep = no hit.
      """WITH w AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        | g1 AS (SELECT doc_id, unnest(list_distinct(w)) g FROM w),
        | g2 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |     range(1, greatest(len(w)-1,0)+1),
        |     k -> w[k::INT] || ' ' || w[k::INT+1]))) g FROM w),
        | g3 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |     range(1, greatest(len(w)-2,0)+1),
        |     k -> w[k::INT] || ' ' || w[k::INT+1] || ' ' || w[k::INT+2]))) g
        |   FROM w),
        | bl AS (SELECT * FROM (VALUES ('slow'), ('spark join'),
        |     ('big scan table')) b(p)),
        | hits AS (SELECT doc_id, count(*) n FROM
        |   (SELECT * FROM g1 UNION ALL SELECT * FROM g2
        |    UNION ALL SELECT * FROM g3) g
        |   JOIN bl ON g.g = bl.p GROUP BY doc_id)
        | SELECT d.doc_id, coalesce(h.n, 0)::BIGINT AS n_hits,
        |   (coalesce(h.n, 0) = 0) AS keep
        | FROM documents d LEFT JOIN hits h USING (doc_id)
        | ORDER BY d.doc_id""".stripMargin),

    // x117 — per-source percentile selection (FineWeb-style "keep the
    // best 30% of each source"): a global threshold would let one
    // well-scoring source crowd out the rest.
    "x117_percentile_select" -> QueryCase({ (s, dir) =>
      val q = TextOps.qualityScore(spread(t(s, dir, "documents")))
        .select(col("doc_id"), col("source"), col("alpha_ratio_bp"))
      SampleOps.percentileSelect(q, "doc_id", "source", "alpha_ratio_bp",
          3000L)
        .orderBy("doc_id")
    }, oracle =
      // Percentile-selection mirror: the x17 alpha-ratio signal, per-source
      // rank/count windows, the same pure-integer cut rule.
      """WITH q AS (SELECT doc_id, source,
        |     floor(length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
        |       * 10000 / length(text)::DOUBLE)::BIGINT ab
        |   FROM documents),
        | r AS (SELECT doc_id, source, ab,
        |     row_number() OVER (PARTITION BY source ORDER BY ab DESC, doc_id) rk,
        |     count(*) OVER (PARTITION BY source) n FROM q)
        | SELECT doc_id, source, ab AS alpha_ratio_bp FROM r
        | WHERE (rk - 1) * 10000 < n * 3000 ORDER BY doc_id""".stripMargin),

    // x118 — epoch token accounting: per (source, epoch) doc/token totals
    // of the x101 replica stream — "what will the run actually see",
    // priced in tokens, before any GPU burns.
    "x118_epoch_tokens" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
        .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      SampleOps.epochUpsample(d, "doc_id", "source",
          Seq("src0" -> 0.5, "src2" -> 0.2, "src3" -> 0.01),
          totalDocs = 12000L, maxEpochs = 5)
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy("source", "epoch")
    }, oracle =
      // Epoch-token mirror: the x101/x106 selection CTEs carrying source
      // and token counts, grouped per (source, epoch).
      s"""WITH $epochPlanSql,
        | sel AS (SELECT d.doc_id, d.source,
        |     len(string_split(d.text,' '))::BIGINT nt, ep.epoch::BIGINT epoch
        |   FROM documents d JOIN ep ON d.source = ep.dom
        |   WHERE ep.epoch < ep.eful
        |     OR ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
        |       % 10000 < ep.pbp)
        | SELECT source, epoch, count(*)::BIGINT AS n_docs,
        |   sum(nt)::BIGINT AS n_tokens
        | FROM sel GROUP BY source, epoch
        | ORDER BY source, epoch""".stripMargin),

    // x119 — embedding-space drift per label between snapshots: cosine of
    // integer-quantized centroid SUMS (scale invariance removes the
    // mean's division) — content drift that x115's count drift can't see.
    "x119_centroid_drift" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      val nw = e.filter(col("vec_id") % 3 =!= 0)
      VectorOps.centroidDrift(e, nw, "embedding", "label")
        .select(col("label").cast(LongType).as("label"), col("n_old"),
          col("n_new"), col("cos_bp"))
        .orderBy("label")
    }, oracle =
      // Centroid-drift mirror: the same floor(x·1e4) component quantization
      // over a dims range join, integer (label, dim) sums both snapshots,
      // one double cosine step per label.
      """WITH q AS (SELECT label, k::INT dim, vec_id,
        |     floor(embedding[k::INT]::DOUBLE * 10000)::BIGINT qq
        |   FROM embeddings CROSS JOIN range(1,65) t(k)),
        | o AS (SELECT label, dim, sum(qq) so, count(*) cno FROM q GROUP BY 1, 2),
        | n AS (SELECT label, dim, sum(qq) sn, count(*) cnn FROM q
        |   WHERE vec_id % 3 <> 0 GROUP BY 1, 2),
        | g AS (SELECT o.label, max(cno) n_old, max(cnn) n_new,
        |     sum(so * sn) dt, sum(so * so) o2, sum(sn * sn) n2
        |   FROM o JOIN n ON o.label = n.label AND o.dim = n.dim GROUP BY 1)
        | SELECT label::BIGINT AS label, n_old::BIGINT AS n_old,
        |   n_new::BIGINT AS n_new,
        |   floor(dt::DOUBLE / sqrt(o2::DOUBLE * n2::DOUBLE)
        |     * 10000)::BIGINT AS cos_bp
        | FROM g ORDER BY label""".stripMargin),

    // x120 — PII compliance report per source: doc counts, any-hit docs,
    // per-category totals, rate bp — the release-gate table a corpus
    // ships next to its dataset card. PII planted deterministically.
    "x120_pii_report" -> QueryCase({ (s, dir) =>
      val planted = spread(t(s, dir, "documents")).withColumn("text",
        when(col("doc_id") % 10 < 3,
          concat(lit("u"), col("doc_id").cast("string"), lit("@ex.com "),
            col("text")))
        .when(col("doc_id") % 10 === 5,
          concat(lit("host 10.0.0."), (col("doc_id") % 200).cast("string"),
            lit(" "), col("text")))
        .otherwise(col("text")))
      TextOps.redactPii(planted)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_ip") + col("n_phone") > 0, 1L)
            .otherwise(0L)).as("n_pii_docs"),
          sum(col("n_email")).as("n_email"),
          sum(col("n_ip")).as("n_ip"),
          sum(col("n_phone")).as("n_phone"))
        .withColumn("pii_rate_bp", TextOps.bp(col("n_pii_docs"), col("n_docs")))
        .orderBy("source")
    }, oracle =
      // PII-report mirror: same planted text, the x36 regex literals, per-
      // source totals and floor-bp rate.
      """WITH p AS (SELECT doc_id, source,
        |     CASE WHEN doc_id % 10 < 3 THEN 'u' || doc_id || '@ex.com ' || text
        |          WHEN doc_id % 10 = 5 THEN 'host 10.0.0.' || (doc_id % 200)
        |            || ' ' || text
        |          ELSE text END t
        |   FROM documents),
        | c AS (SELECT source,
        |     length(regexp_extract_all(t,
        |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT ne,
        |     length(regexp_extract_all(t,
        |       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT ni,
        |     length(regexp_extract_all(t,
        |       '\+[0-9][0-9 -]{6,}[0-9]'))::BIGINT np
        |   FROM p)
        | SELECT source, count(*)::BIGINT AS n_docs,
        |   sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END)::BIGINT
        |     AS n_pii_docs,
        |   sum(ne)::BIGINT AS n_email, sum(ni)::BIGINT AS n_ip,
        |   sum(np)::BIGINT AS n_phone,
        |   floor(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END)::DOUBLE
        |     * 10000 / count(*)::DOUBLE)::BIGINT AS pii_rate_bp
        | FROM c GROUP BY source ORDER BY source""".stripMargin),

    // x121 — per-doc token Shannon entropy (integral micro-nats,
    // quantize-then-sum): the gibberish/boilerplate signal at both
    // extremes of the scale.
    "x121_token_entropy" -> QueryCase({ (s, dir) =>
      TextOps.tokenEntropy(spread(t(s, dir, "documents")), "doc_id")
        .orderBy("doc_id")
    }, oracle =
      // Entropy mirror: per-term contributions quantized BEFORE the per-doc
      // sum, same left-to-right double sequence.
      """WITH w AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        | t AS (SELECT doc_id, len(w)::BIGINT n, unnest(w) tk FROM w),
        | tf AS (SELECT doc_id, n, tk, count(*) tf FROM t GROUP BY 1, 2, 3),
        | h AS (SELECT doc_id, n,
        |     floor(tf::DOUBLE * ln(n::DOUBLE / tf::DOUBLE) / n::DOUBLE
        |       * 1000000)::BIGINT hh
        |   FROM tf)
        | SELECT doc_id, max(n)::BIGINT AS n_tokens,
        |   sum(hh)::BIGINT AS entropy_micro
        | FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // x122 — lexical diversity per source: type/token/hapax counts, TTR
    // and hapax-ratio bp — the vocabulary-richness row of a dataset card.
    "x122_lexical_diversity" -> QueryCase({ (s, dir) =>
      val tf = spread(t(s, dir, "documents"))
        .select(col("source"), explode(split(col("text"), " ")).as("tk"))
        .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("__tf"))
      tf.groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"), sum(col("__tf")).as("n_tokens"),
          sum(when(col("__tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("ttr_bp", TextOps.bp(col("n_types"), col("n_tokens")))
        .withColumn("hapax_bp", TextOps.bp(col("n_hapax"), col("n_types")))
        .orderBy("source")
    }, oracle =
      // Lexical-diversity mirror: (source, token) tf table, type/token/
      // hapax counts, floor-bp ratios.
      """WITH t AS (SELECT source, unnest(string_split(text,' ')) tk
        |   FROM documents),
        | tf AS (SELECT source, tk, count(*) tf FROM t GROUP BY 1, 2)
        | SELECT source, count(*)::BIGINT AS n_types,
        |   sum(tf)::BIGINT AS n_tokens,
        |   sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |   floor(count(*)::DOUBLE * 10000 / sum(tf)::DOUBLE)::BIGINT AS ttr_bp,
        |   floor(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::DOUBLE * 10000
        |     / count(*)::DOUBLE)::BIGINT AS hapax_bp
        | FROM tf GROUP BY source ORDER BY source""".stripMargin),

    // x123 — one-permutation MinHash LSH candidates (Li/Owen/Zhang 2012):
    // ONE hash per shingle vs x22's sixteen — the signature pass that
    // dominates at 100 TB, at the same banding contract.
    "x123_dedup_minhash_oph" -> QueryCase({ (s, dir) =>
      DedupOps.minhashLshCandidatesOph(spread(t(s, dir, "documents")),
          "doc_id", TextOps.wordShingles(col("text"), 3),
          numHashes = 16, bandRows = 4)
        .orderBy("i", "j")
    }, oracle =
      // OPH mirror: one hash60 per shingle, bucket mins, clockwise
      // rotation borrow via arg_min on the cyclic distance, same banding.
      s"""$word3gramShingles,
         | $ophBsigSql
         | SELECT a.doc_id i, b.doc_id j, count(*)::BIGINT AS bands
         | FROM bsig a JOIN bsig b
         |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         | JOIN okb ON okb.band = a.band AND okb.sig = a.sig
         | GROUP BY 1, 2 ORDER BY i, j""".stripMargin),

    // x124 — the x64 curation flagship on OPH signatures: same quality →
    // exact-dedup → candidate-verify → components pipeline, with the
    // signature stage paying one hash per shingle instead of sixteen.
    "x124_corpus_curation_oph" -> QueryCase({ (s, dir) =>
      val (exactKept, survivors) = curationSurvivors(spread(t(s, dir, "documents")))
      curationResult(exactKept, DedupOps.nearDupPairs(survivors, "doc_id",
        TextOps.wordShingles(col("text"), 3), 0.5, oph = true))
    }, oracle =
      // x64's curation mirror with the banding CTEs swapped to OPH.
      s"""WITH RECURSIVE $curationHeadSql,
         | $ophBsigSql,
         | $bandVerifySql,
         | $curationTailSql""".stripMargin),

    // x125 — the REFRESH capstone (x94's incremental sibling): snapshot
    // diff → only added+changed docs pay → blocklist + entropy quality
    // gates → token-budget mixture over the surviving refresh. The
    // integration exhibit for the incremental-ingest story: a corpus
    // refresh never re-bills the unchanged 99%.
    "x125_refresh_manifest" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents")).select("doc_id", "source", "text")
      val nw = refreshSnapshot(d)
      val work = StatOps.snapshotDiff(d.select("doc_id", "text"),
          nw.select("doc_id", "text"), "doc_id", "text")
        .filter(col("status").isin("added", "changed")).select("doc_id")
      // materialized: the work-list feeds THREE consumers (blocklist,
      // entropy, the survivor join) — lazily, each would re-run the
      // diff + semi-join subtree. A production refresh materializes its
      // work-list for exactly this reason (and it is change-sized, not
      // corpus-sized). Measured in-suite: 5.9 s → ~1.5 s at sf0.1.
      val docs = nw.join(work, Seq("doc_id"), "left_semi").localCheckpoint()
      val keepBl = TextOps.blocklistHits(docs, "doc_id",
          Seq("big scan table", "slow fast agg"))
        .filter(col("keep")).select("doc_id")
      val ent = TextOps.tokenEntropy(docs, "doc_id")
        .filter(col("entropy_micro") >= 1500000L)
        .select("doc_id", "n_tokens")
      val survivors = docs.join(keepBl, Seq("doc_id"), "left_semi")
        .join(ent, Seq("doc_id"))
      SampleOps.tokenBudgetMixture(survivors, "doc_id", "source",
          "n_tokens", Seq("src0" -> 0.3, "src1" -> 0.3, "src2" -> 0.4))
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    }, oracle =
      // Refresh-capstone mirror: the x114 diff CTEs (with source carried),
      // x116's blocklist over the work-list, x121's entropy, x108's token
      // mixture — each stage the tested fragment, chained.
      """WITH nw AS (
        |   SELECT doc_id, source,
        |     CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END t
        |   FROM documents WHERE doc_id % 7 <> 0
        |   UNION ALL
        |   SELECT doc_id + 1000000, source, text FROM documents
        |   WHERE doc_id % 3 = 0),
        | o AS (SELECT doc_id, md5(text) h FROM documents),
        | n2 AS (SELECT doc_id, md5(t) h FROM nw),
        | work AS (SELECT n2.doc_id FROM n2 LEFT JOIN o ON o.doc_id = n2.doc_id
        |   WHERE o.doc_id IS NULL OR o.h <> n2.h),
        | docs AS (SELECT nw.doc_id, nw.source, nw.t FROM nw
        |   JOIN work ON work.doc_id = nw.doc_id),
        | w2 AS (SELECT doc_id, string_split(t,' ') w FROM docs),
        | g3 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |     range(1, greatest(len(w)-2,0)+1),
        |     k -> w[k::INT] || ' ' || w[k::INT+1] || ' ' || w[k::INT+2]))) g
        |   FROM w2),
        | bl AS (SELECT * FROM (VALUES ('big scan table'),
        |     ('slow fast agg')) b(p)),
        | hits AS (SELECT doc_id, count(*) nh FROM g3 g
        |   JOIN bl ON g.g = bl.p GROUP BY doc_id),
        | keepbl AS (SELECT d.doc_id FROM docs d
        |   LEFT JOIN hits h ON h.doc_id = d.doc_id
        |   WHERE coalesce(h.nh, 0) = 0),
        | tok AS (SELECT doc_id, len(w)::BIGINT n, unnest(w) tk FROM w2),
        | tf AS (SELECT doc_id, n, tk, count(*) tf FROM tok GROUP BY 1, 2, 3),
        | hh AS (SELECT doc_id, n,
        |     floor(tf::DOUBLE * ln(n::DOUBLE / tf::DOUBLE) / n::DOUBLE
        |       * 1000000)::BIGINT e
        |   FROM tf),
        | ent AS (SELECT doc_id, max(n) nt, sum(e) em FROM hh GROUP BY 1
        |   HAVING sum(e) >= 1500000),
        | surv AS (SELECT d.doc_id, d.source, ent.nt n_tokens FROM docs d
        |   JOIN keepbl ON keepbl.doc_id = d.doc_id
        |   JOIN ent ON ent.doc_id = d.doc_id),
        | wt AS (SELECT * FROM (VALUES
        |     ('src0', 0.3::DOUBLE), ('src1', 0.3::DOUBLE),
        |     ('src2', 0.4::DOUBLE)) w(dom, w)),
        | cnt AS (SELECT source, sum(n_tokens) tk2 FROM surv GROUP BY 1),
        | j AS (SELECT dom, w, coalesce(tk2, 0) tk2 FROM wt
        |   LEFT JOIN cnt ON source = dom),
        | t AS (SELECT min(tk2::DOUBLE / w) tt FROM j),
        | r AS (SELECT dom, floor(10000 * w * tt / tk2::DOUBLE)::BIGINT rate
        |   FROM j, t WHERE tk2 > 0)
        | SELECT s.doc_id, s.source, s.n_tokens FROM surv s
        | JOIN r ON s.source = r.dom
        | WHERE ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 15))::BIGINT
        |   % 10000 < r.rate
        | ORDER BY s.doc_id""".stripMargin),

    // x126 — the TRAINED-PQ recall gate, closing the index-selection
    // table's last unmeasured row: per-subspace k-means codebooks
    // (pqTrainedCodebooks, 2 exact Lloyd rounds) graded against the x25
    // brute-force truth at the SAME serving plan as x87's seed-PQ
    // (m=4 one-byte codes, identical cells, identical nProbe) — two
    // codebook budgets, ksub=16 (byte-for-byte the seed index's storage)
    // and ksub=32 (still one byte per code; the codebook itself is driver
    // metadata either way). The decision this row exists to make: does
    // training close enough of seed-PQ's 20% recall@5 gap to ship PQ at
    // the memory floor, or does SQ8 stay the quantized serving tier?
    "x126_ann_recall_pq_trained" -> QueryCase({ (s, dir) =>
      val e = spread(t(s, dir, "embeddings"))
      def cands(ksub: Int): DataFrame =
        VectorOps.ivfTopKPq(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", 5, pqTrainedCodebooksOf(s, dir, ksub),
          numCentroids = 8, nProbe = 2)
      val exact = annTruth(s, dir)
      def grade(df: DataFrame, m: String): DataFrame =
        VectorOps.annRecall(df, exact, "qid", "nid")
          .withColumn("method", lit(m))
      grade(cands(16), "ivf_pq_t16")
        .unionByName(grade(cands(32), "ivf_pq_t32"))
        .select("method", "qid", "n_exact", "n_hit", "recall_bp")
        .orderBy("method", "qid")
    }, oracle =
      s"""WITH $annV,
         | $annBrute,
         | ex AS (SELECT qid, nid FROM r_ex WHERE rk <= 5),
         | $annIvf,
         | ${pqTrainedSql("pt16", ksub = 16, iters = 2)},
         | k16 AS (SELECT DISTINCT qid, nid FROM r_pt16 WHERE rk <= 5),
         | ${pqTrainedSql("pt32", ksub = 32, iters = 2)},
         | k32 AS (SELECT DISTINCT qid, nid FROM r_pt32 WHERE rk <= 5),
         | ${gradeSql("ivf_pq_t16", "k16")},
         | ${gradeSql("ivf_pq_t32", "k32")}
         | SELECT * FROM g_k16 UNION ALL SELECT * FROM g_k32
         | ORDER BY method, qid""".stripMargin),

    // x127 — HTML/boilerplate extraction, the FIRST-MILE stage every
    // web-scale corpus runs before any other curation operator (r15; C4,
    // Raffel et al. 2020 §2.2). The fixture ships clean text, so each doc
    // is first wrapped in a deterministic HTML page — head with style
    // (braces!) and script (angle brackets and quotes!), headings,
    // paragraph breaks carved at ' window ' word boundaries, entity-
    // encoded chrome, an "enable JavaScript" banner, a cross-page legal
    // footer, and a comment hiding tagged content — IDENTICALLY in both
    // engines. Extraction then proves: script/style/comment content never
    // leaks, block closes become line breaks, entities decode once,
    // no-terminal-punctuation and short lines drop, the javascript line
    // drops, and the repeated footer survives exactly once corpus-wide
    // (line-level dedup).
    "x127_html_extract" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      HtmlOps.c4KeptLines(d.select(col("doc_id"), htmlFixture.as("html")),
          "doc_id", "html")
        .select("doc_id", "line_no", "line")
        .orderBy("doc_id", "line_no")
    }, oracle =
      // x127 mirror: identical HTML synthesis (htmlSynthSql — the ONE
      // definition), then the same strip order (script → style → comments
      // → block closes → tags → entities with &amp; decoded LAST), the
      // same line split / whitespace collapse, the same three line rules,
      // and first-(doc_id, line_no) dedup.
      s"""WITH $htmlKeptCtesSql
        | SELECT doc_id, line_no, line FROM dd WHERE rk = 1
        | ORDER BY doc_id, line_no""".stripMargin),

    // x128 — the PAGE tier on the same extraction (HtmlOps.c4Pages):
    // reassemble each page from its surviving lines and apply C4's
    // page-level rules (≥5 kept lines; brace and lorem-ipsum page
    // drops). The artifact a crawl ingest actually ships downstream —
    // cleaned page text, not loose lines. Same ONE-definition synthesis
    // and strip chain as x127 on both engines.
    "x128_html_pages" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      HtmlOps.c4Pages(d.select(col("doc_id"), htmlFixture.as("html")),
          "doc_id", "html")
        .select("doc_id", "n_lines", "text")
        .orderBy("doc_id")
    }, oracle =
      // x128 mirror: the same kept-line CTEs, then the page reassembly
      // (lines joined in line_no order) and C4's page rules.
      s"""WITH $htmlKeptCtesSql,
        | $htmlPageTailSql""".stripMargin),

    // x129 — WARC container parsing (WarcOps, ISO 28500): the stage
    // BEFORE x127 — a crawl arrives as WARC files, not loose HTML. The
    // x127 HTML pages are wrapped into multi-record WARC files (one
    // warcinfo per file, a request record for every third doc, a
    // response per doc — identical synthesis in both engines), then
    // parsed back: record splitting, header extraction (case-insensitive,
    // absent → NULL), Content-Length payload slicing, and the length_ok
    // self-diagnosis.
    "x129_warc_records" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      WarcOps.parseRecords(warcFixture(d), "file_id", "content")
        .select(col("file_id"), col("rec_no"), col("warc_type"),
          col("target_uri"), col("warc_date"), col("content_length"),
          md5(col("payload")).as("payload_md5"), col("length_ok"))
        .orderBy("file_id", "rec_no")
    }, oracle =
      // x129 mirror: identical WARC synthesis over the x127 HTML pages
      // (htmlSynthSql + warcSynthCtesSql — the ONE definitions), then the
      // same sentinel-split record parse, header extraction, and
      // Content-Length payload slicing.
      s"""WITH $htmlSynthSql,
        | $warcSynthCtesSql,
        | $warcParseCtesSql
        | SELECT file_id, rec_no, warc_type, target_uri, warc_date,
        |   content_length, md5(payload) AS payload_md5, length_ok
        | FROM wrecs ORDER BY file_id, rec_no""".stripMargin),

    // x130 — the full first-mile composition: WARC parse → response
    // payloads → the SAME C4 page extraction as x128. Output must be
    // row-identical to x128 (the container round trip adds nothing and
    // loses nothing) — and the oracle recomputes it independently
    // through DuckDB's own parse chain, so the equality is proven, not
    // assumed.
    "x130_warc_to_c4" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = WarcOps.responses(warcFixture(d), "file_id", "content")
        .select(uriDocId, col("payload").as("html"))
      HtmlOps.c4Pages(pages, "doc_id", "html")
        .select("doc_id", "n_lines", "text")
        .orderBy("doc_id")
    }, oracle =
      // x130 mirror: the full first-mile composition — the same WARC
      // synthesis and parse as x129, response payloads become the HTML
      // source CTE, then the SAME strip/line CTEs as x127 and the SAME
      // page tail as x128 (all ONE definitions).
      s"""WITH $htmlSynthSql,
        | $warcSynthCtesSql,
        | $warcParseCtesSql,
        | h2 AS (SELECT CAST(regexp_extract(target_uri, '/doc/([0-9]+)$$', 1)
        |       AS BIGINT) AS doc_id, payload AS html
        |   FROM wrecs WHERE warc_type = 'response' AND length_ok),
        | ${htmlStripCtesSql("h2")},
        | $htmlPageTailSql""".stripMargin),

    // x131 — URL canonicalization + registered domain (UrlOps): the
    // RefinedWeb/CCNet URL tier. Eight deterministic URL shapes per doc
    // exercise every rule: case, www/userinfo/fragment drop, default
    // vs non-default ports, slash collapse, trailing dot and slash,
    // tracking-param drop, bytewise param sort, non-absolute → NULL,
    // and the multi-label suffix heuristic — with the suffix set
    // LOADED from a PSL file (UrlOps.loadPsl → RegisteredDomainOf's
    // data parameter, r16): arm 7's `co.kr` resolves to example.co.kr
    // only through the loaded list, proving the data path end-to-end
    // through the oracle.
    "x131_url_canon" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val suffixes = UrlOps.loadPsl(pslFixturePath)
      d.select(col("doc_id"), urlFixture.as("url"))
        .select(col("doc_id"), col("url"),
          UrlOps.canonicalizeUrl(col("url")).as("canon_url"),
          UrlOps.host(col("url")).as("host"),
          UrlOps.domainOf(col("url"), suffixes)
            .as("reg_domain"))
        .orderBy("doc_id")
    }, oracle =
      // x131 mirror: identical URL synthesis (urlSynthSql — the ONE
      // definition), then the same canonicalization rules (scheme/host
      // lowercase, userinfo/fragment drop, default-port drop, slash
      // collapse + trailing-slash drop, tracking-param drop + bytewise
      // param sort) and the same eTLD+1 suffix heuristic — the suffix
      // set interpolated from the SAME loadPsl read the Spark side
      // performs (the loaded-data path, both engines consuming one
      // artifact).
      s"""WITH $urlSynthSql,
        | ${urlCanonCtesOver("u", "doc_id",
             graft.ops.UrlOps.loadPsl(pslFixturePath))}
        | SELECT doc_id, url, canon_url, host, reg_domain FROM ur
        | ORDER BY doc_id""".stripMargin),

    // x132 — canonical-URL dedup rolled up per registered domain: the
    // actual consumer of x131 (RefinedWeb dedups its frontier on the
    // canonical string — URLs differing only in tracking params, case,
    // ports, or slashes are one fetch). One shuffle on the canonical
    // string, one on the domain.
    "x132_url_dedup" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val ur = d.select(col("doc_id"),
          UrlOps.canonicalizeUrl(urlFixture).as("canon_url"),
          UrlOps.domainOf(urlFixture)
            .as("reg_domain"))
        .filter(col("canon_url").isNotNull)
      ur.groupBy("canon_url", "reg_domain")
        .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_docs"))
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_urls"), sum("n_docs").as("n_docs"),
          min("keep_doc").as("first_doc"))
        .orderBy("reg_domain")
    }, oracle =
      // x132 mirror: canonical-URL dedup (keep min doc_id per canonical)
      // rolled up per registered domain — the RefinedWeb URL-dedup stage.
      s"""WITH $urlSynthSql,
        | $urlCanonCtesSql,
        | ku AS (SELECT canon_url, reg_domain, min(doc_id) AS keep_doc,
        |     count(*)::BIGINT AS n_docs
        |   FROM ur WHERE canon_url IS NOT NULL
        |   GROUP BY canon_url, reg_domain)
        | SELECT reg_domain, count(*)::BIGINT AS n_urls,
        |   sum(n_docs)::BIGINT AS n_docs, min(keep_doc) AS first_doc
        | FROM ku GROUP BY reg_domain ORDER BY reg_domain""".stripMargin),

    // x133 — robots.txt admission (RobotsOps): parse per-domain robots
    // bodies into the rules governing agent "graftbot" (exact-token
    // groups beat `*` domain-wide; multi-agent headers; comments; the
    // empty-Disallow idiom), then admit the x131 canonical URLs by
    // longest-prefix-match with Allow winning ties. The fixture plants a
    // megabot-only Disallow-everything group (agent scoping must ignore
    // it), a `*` group that must be ignored wherever the graftbot group
    // exists, and drops the graftbot group on example.org only — the
    // RFC 9309 fallback path, observable as that domain going fully
    // blocked under `Disallow: /`.
    "x133_robots_filter" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      // localCheckpoint: the canonicalized frontier feeds THREE consumers
      // (robots domains, the admission join, the final rollup join) —
      // materialize the regex-heavy canonicalization once instead of
      // re-running it per branch (the curationSurvivors pattern)
      val urls = d.select(col("doc_id"),
          UrlOps.canonicalizeUrl(urlFixture).as("canon_url"),
          UrlOps.domainOf(urlFixture).as("reg_domain"))
        .filter(col("canon_url").isNotNull)
        .withColumn("match_path", RobotsOps.matchPath(col("canon_url")))
        .localCheckpoint()
      val robots = urls.select("reg_domain").distinct()
        .withColumn("robots_txt", robotsFixture(col("reg_domain")))
      val rules = RobotsOps.parseRules(robots, "graftbot")
      // reg_domain rides the admission keys (unique per doc_id row), so
      // the per-domain rollup reads the flags frame directly — no
      // join-back shuffle
      RobotsOps.allowedFlags(urls, rules, Seq("doc_id", "reg_domain"))
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("allowed"), 0L).otherwise(1L)).as("n_blocked"),
          min(when(!col("allowed"), col("doc_id"))).as("first_blocked_doc"))
        .orderBy("reg_domain")
    }, oracle =
      // x133 mirror: the same URL synthesis + canonicalization, the same
      // per-domain robots body (robotsBodySql — ONE definition), DuckDB's
      // own RFC 9309 parse (line split with ordinality, comment strip,
      // group segmentation via lag + running sum, exact-token-beats-star
      // group selection), then longest-prefix admission with Allow winning
      // ties via a window over the hits.
      s"""WITH $urlSynthSql,
        | ${urlCanonCtesOver("u", "doc_id")},
        | updt AS (SELECT doc_id, reg_domain, canon_url,
        |     coalesce(nullif(regexp_extract(canon_url,
        |       '^[a-z][a-z0-9+.-]*://[^/?#]*(.*)$$', 1), ''), '/') mp
        |   FROM ur WHERE canon_url IS NOT NULL),
        | rb AS (SELECT reg_domain, $robotsBodySql AS robots_txt
        |   FROM (SELECT DISTINCT reg_domain FROM updt)),
        | ${robotsParseCtesSql("rb", "graftbot")},
        | hits AS (SELECT u.doc_id, len(r.prefix) l,
        |     CASE WHEN r.is_allow THEN 1 ELSE 0 END a
        |   FROM updt u JOIN rrules r ON u.reg_domain = r.reg_domain
        |     AND ${ruleMatchSql("u.mp", "r.prefix")}),
        | b1 AS (SELECT doc_id, a FROM (SELECT doc_id, a, row_number()
        |     OVER (PARTITION BY doc_id ORDER BY l DESC, a DESC) rn
        |   FROM hits) WHERE rn = 1),
        | fl AS (SELECT u.doc_id, u.reg_domain,
        |     coalesce(b1.a, 1) = 1 AS allowed
        |   FROM updt u LEFT JOIN b1 USING (doc_id))
        | SELECT reg_domain, count(*)::BIGINT n_urls,
        |   sum(CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT n_allowed,
        |   sum(CASE WHEN allowed THEN 0 ELSE 1 END)::BIGINT n_blocked,
        |   min(CASE WHEN NOT allowed THEN doc_id END) first_blocked_doc
        | FROM fl GROUP BY reg_domain ORDER BY reg_domain""".stripMargin),

    // x134 — the link graph (HtmlOps.extractLinks → UrlOps.resolveUrl →
    // canonicalize): every <a href> of each synthesized page resolved
    // against the page's own URL (absolute, protocol-relative,
    // root-relative, path-relative, and fragment-only arms all planted),
    // canonicalized, and rolled up per (source domain, target domain) —
    // the corpus link graph whose in-degree is a quality prior and whose
    // edges seed the crawl frontier. Two chained combinable aggs (per-
    // target then per-pair) — no count_distinct Expand (the x56 lesson).
    "x134_link_graph" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(col("doc_id"), linkBase.as("base"),
        linkHtmlFixture.as("html"))
      // aggregate on the canonical string FIRST, then derive the target
      // domain on the per-target frame: dst_domain is a regexp chain
      // over canon_url, and computing it pre-agg re-inlines the whole
      // canonicalization tree into every reference on the exploded link
      // stream (project collapse duplicates the expression, not the
      // value) — post-agg it runs once per DISTINCT target
      val edges = resolvedCanon(pages.select(
          UrlOps.domainOf(col("base")).as("src_domain"),
          col("base"),
          explode(HtmlOps.extractLinks(col("html"))).as("ref")),
        Seq("src_domain"), "ref")
      edges.groupBy("src_domain", "canon_url")
        .agg(count(lit(1)).as("n"))
        .withColumn("dst_domain",
          UrlOps.domainOf(col("canon_url")))
        .groupBy("src_domain", "dst_domain")
        .agg(sum(col("n")).as("n_links"), count(lit(1)).as("n_targets"),
          min(col("canon_url")).as("sample_target"))
        .orderBy("src_domain", "dst_domain")
    }, oracle =
      // x134 mirror: the same page/link synthesis (linkSynthCtesSql — ONE
      // definition), DuckDB's own href extraction + RFC 3986 resolve +
      // canonicalization, then the two-stage per-target/per-pair rollup.
      s"""WITH $linkSynthCtesSql,
        | ${urlCanonCtesOver("lr", "src_domain")},
        | e AS (SELECT src_domain, canon_url, reg_domain AS dst_domain
        |   FROM ur WHERE canon_url IS NOT NULL),
        | g1 AS (SELECT src_domain, dst_domain, canon_url,
        |     count(*)::BIGINT n FROM e
        |   GROUP BY src_domain, dst_domain, canon_url)
        | SELECT src_domain, dst_domain, sum(n)::BIGINT n_links,
        |   count(*)::BIGINT n_targets, min(canon_url) sample_target
        | FROM g1 GROUP BY src_domain, dst_domain
        | ORDER BY src_domain, dst_domain""".stripMargin),

    // x135 — token Naive Bayes quality classifier (ClassifyOps): the
    // model-based filter tier (the fastText-classifier role in
    // CCNet/DataComp curation). Labels come from the x34 quality rule on
    // the even-id half, the model scores the odd-id half, and the output
    // is the confusion rollup with exact integer score sums (micro-nat
    // scaled-long weights — the x90 BM25 convention, so the DuckDB
    // mirror is hash-exact regardless of summation order).
    "x135_nb_quality" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val labeled = TextOps.qualityScore(d)
        .withColumn("pos",
          col("n_words") >= 20 && col("alpha_ratio_bp") >= 7000)
        .select("doc_id", "text", "pos")
      val train = labeled.filter(col("doc_id") % 2 === 0)
      val test = labeled.filter(col("doc_id") % 2 =!= 0)
      val model = ClassifyOps.trainTokenNb(train, "pos")
      ClassifyOps.scoreTokenNb(test, model)
        .join(test.select(col("doc_id"), col("pos").as("actual")),
          Seq("doc_id"))
        .groupBy("actual", "pred")
        .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("sum_score"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("actual", "pred")
    }, oracle =
      // x135 mirror: the same even/odd split and x34 quality label, the
      // full multinomial-NB estimation in DuckDB (Laplace counts, micro-
      // nat floored log-odds — the x90 scaled-long convention, so scores
      // are exact integer sums), then the same confusion rollup.
      s"""WITH lab AS (SELECT doc_id, text,
        |     (len(string_split(text, ' ')) >= 20 AND
        |      floor(len(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
        |        * 10000 / len(text)::DOUBLE)::BIGINT >= 7000) AS pos
        |   FROM documents),
        | tr AS (SELECT * FROM lab WHERE doc_id % 2 = 0),
        | te AS (SELECT * FROM lab WHERE doc_id % 2 = 1),
        | tt AS (SELECT pos, unnest(string_split(lower(text), ' ')) token
        |   FROM tr),
        | tc AS (SELECT token,
        |     sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT c_pos,
        |     sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT c_neg
        |   FROM tt GROUP BY token),
        | tot AS (SELECT sum(c_pos)::BIGINT n_pos, sum(c_neg)::BIGINT n_neg,
        |     count(*)::BIGINT vocab FROM tc),
        | dc AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT d_pos,
        |     sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT d_neg FROM tr),
        | wt AS (SELECT token,
        |     floor(1000000.0 * ln((c_pos + 1)::DOUBLE
        |       / (n_pos + vocab)::DOUBLE))::BIGINT -
        |     floor(1000000.0 * ln((c_neg + 1)::DOUBLE
        |       / (n_neg + vocab)::DOUBLE))::BIGINT AS w
        |   FROM tc CROSS JOIN tot),
        | cs AS (SELECT
        |     floor(1000000.0 * ln(1.0 / (n_pos + vocab)::DOUBLE))::BIGINT -
        |     floor(1000000.0 * ln(1.0 / (n_neg + vocab)::DOUBLE))::BIGINT
        |       AS w_default,
        |     floor(1000000.0 * ln(d_pos::DOUBLE))::BIGINT -
        |     floor(1000000.0 * ln(d_neg::DOUBLE))::BIGINT AS prior
        |   FROM tot CROSS JOIN dc),
        | st AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) token
        |   FROM te),
        | sc AS (SELECT doc_id,
        |     (max(prior) + sum(coalesce(w, w_default)))::BIGINT score
        |   FROM st LEFT JOIN wt USING (token) CROSS JOIN cs
        |   GROUP BY doc_id)
        | SELECT te.pos AS actual, score > 0 AS pred,
        |   count(*)::BIGINT n_docs, sum(score)::BIGINT sum_score,
        |   min(te.doc_id) min_doc, max(te.doc_id) max_doc
        | FROM sc JOIN te USING (doc_id)
        | GROUP BY actual, pred ORDER BY actual, pred""".stripMargin),

    // x136 — the crawl-frontier capstone: the first-mile DISCOVERY loop
    // end-to-end. Pages → extracted links → resolved + canonicalized
    // targets → frontier dedup (one row per canonical URL, keep the
    // first discoverer) → already-crawled anti-set → robots admission
    // (RobotsOps, agent graftbot) → per-domain politeness cap (4 fetches
    // per domain, canonical order). Per-domain funnel counts out — every
    // stage's survivors visible in one row, the crawl-scheduler report.
    "x136_crawl_frontier" -> QueryCase({ (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(col("doc_id"), linkBase.as("base"),
        linkHtmlFixture.as("html"))
      val resolved = resolvedCanon(pages.select(col("doc_id"),
          explode(HtmlOps.extractLinks(col("html"))).as("ref"), col("base")),
        Seq("doc_id"), "ref")
      val cand = resolved.groupBy("canon_url")
        .agg(min("doc_id").as("discovered_by"), count(lit(1)).as("n_refs"))
        .withColumn("reg_domain",
          UrlOps.domainOf(col("canon_url")))
        .withColumn("match_path", RobotsOps.matchPath(col("canon_url")))
      val crawled = pages
        .select(UrlOps.canonicalizeUrl(col("base")).as("canon_url"))
        .distinct().withColumn("seen", lit(true))
      // localCheckpoint: the marked frontier (one row per canonical URL —
      // far smaller than the link stream) feeds the robots-domain
      // distinct, the admission join, AND the staged rollup; without it
      // each branch re-runs link extraction + resolution + the
      // canonical-dedup shuffle over the whole corpus
      val marked = cand.join(crawled, Seq("canon_url"), "left")
        .withColumn("is_new", col("seen").isNull).drop("seen")
        .localCheckpoint()
      val robots = marked.select("reg_domain").distinct()
        .withColumn("robots_txt", frontierRobotsFixture)
      val rules = RobotsOps.parseRules(robots, "graftbot")
      // the funnel columns all ride the admission keys (unique per
      // canonical URL), so no join-back; ONE window then does the
      // per-domain politeness cap: admitted rows sort first inside their
      // domain, so row_number ranks exactly the admitted set — no
      // schedule self-join (deterministic: (admitted, canon_url) is
      // unique within a domain)
      val staged = RobotsOps.allowedFlags(marked, rules,
          Seq("canon_url", "reg_domain", "n_refs", "is_new"))
        .withColumn("admitted", col("is_new") && col("allowed"))
        .drop("allowed")
      staged
        .withColumn("rn", row_number().over(
          Window.partitionBy("reg_domain")
            .orderBy(col("admitted").desc, col("canon_url"))))
        .withColumn("scheduled", col("admitted") && col("rn") <= 4)
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_candidates"),
          sum(col("n_refs")).as("n_refs"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("scheduled"), 1L).otherwise(0L)).as("n_scheduled"),
          min(when(col("scheduled"), col("canon_url")))
            .as("first_scheduled"))
        .orderBy("reg_domain")
    }, oracle =
      // x136 mirror: links → resolve → canonicalize (the x134 chain), then
      // DuckDB's own frontier: per-canonical dedup, crawled anti-set,
      // robots admission over the frontier body, and the per-domain cap-4
      // politeness window.
      s"""WITH $linkSynthCtesSql,
        | ${urlCanonCtesOver("lr", "doc_id")},
        | cand AS (SELECT canon_url, min(doc_id) discovered_by,
        |     count(*)::BIGINT n_refs, min(reg_domain) AS reg_domain,
        |     coalesce(nullif(regexp_extract(canon_url,
        |       '^[a-z][a-z0-9+.-]*://[^/?#]*(.*)$$', 1), ''), '/') mp
        |   FROM ur WHERE canon_url IS NOT NULL GROUP BY canon_url),
        | crawled AS (SELECT DISTINCT
        |     'https://s' || (doc_id % 5)::VARCHAR || '.example-' ||
        |     (doc_id % 5)::VARCHAR || '.com/dir/page/' ||
        |     doc_id::VARCHAR AS canon_url
        |   FROM documents),
        | marked AS (SELECT c.*, cr.canon_url IS NULL AS is_new
        |   FROM cand c LEFT JOIN crawled cr USING (canon_url)),
        | rb AS (SELECT reg_domain, $frontierRobotsBodySql AS robots_txt
        |   FROM (SELECT DISTINCT reg_domain FROM marked)),
        | ${robotsParseCtesSql("rb", "graftbot")},
        | hits AS (SELECT m.canon_url, len(r.prefix) l,
        |     CASE WHEN r.is_allow THEN 1 ELSE 0 END a
        |   FROM marked m JOIN rrules r ON m.reg_domain = r.reg_domain
        |     AND ${ruleMatchSql("m.mp", "r.prefix")}
        |   WHERE m.is_new),
        | b1 AS (SELECT canon_url, a FROM (SELECT canon_url, a,
        |     row_number() OVER (PARTITION BY canon_url
        |       ORDER BY l DESC, a DESC) rn FROM hits) WHERE rn = 1),
        | staged AS (SELECT m.*,
        |     m.is_new AND coalesce(b1.a, 1) = 1 AS admitted
        |   FROM marked m LEFT JOIN b1 USING (canon_url)),
        | sch AS (SELECT canon_url, rn <= 4 AS scheduled
        |   FROM (SELECT canon_url, row_number() OVER
        |       (PARTITION BY reg_domain ORDER BY canon_url) rn
        |     FROM staged WHERE admitted)),
        | fin AS (SELECT s.*, coalesce(sch.scheduled, FALSE) scheduled
        |   FROM staged s LEFT JOIN sch USING (canon_url))
        | SELECT reg_domain, count(*)::BIGINT n_candidates,
        |   sum(n_refs)::BIGINT n_refs,
        |   sum(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT n_new,
        |   sum(CASE WHEN admitted THEN 1 ELSE 0 END)::BIGINT n_admitted,
        |   sum(CASE WHEN scheduled THEN 1 ELSE 0 END)::BIGINT n_scheduled,
        |   min(CASE WHEN scheduled THEN canon_url END) first_scheduled
        | FROM fin GROUP BY reg_domain ORDER BY reg_domain""".stripMargin),

    // x137 — the per-domain card: content stats (pages, quality passes,
    // tokens — the x34 rule over each site's docs) full-outer-joined
    // with link-graph authority (cross-domain in-links and distinct
    // referring domains from the x134 edges). The domain-level quality
    // prior RefinedWeb/C4-style pipelines gate fetches and weight
    // sampling with; a link-only domain (the CDN) and a page-only
    // domain both appear, each with the other side zeroed.
    "x137_domain_card" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val content = d.select(
          UrlOps.domainOf(linkBase).as("domain"),
          col("text"))
        .withColumn("n_words",
          size(split(col("text"), " ")).cast(LongType))
        .withColumn("q_pass",
          col("n_words") >= 20 &&
            TextOps.bp(length(regexp_replace(col("text"), "[^a-z]", "")),
              length(col("text"))) >= 7000)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("q_pass"), 1L).otherwise(0L)).as("n_quality"),
          sum(col("n_words")).as("n_toks"))
      val pages = d.select(col("doc_id"), linkBase.as("base"),
        linkHtmlFixture.as("html"))
      // per-target agg first, domain derivation + cross filter on the
      // aggregated frame (the x134 expression-duplication rationale)
      val inlinks = resolvedCanon(pages.select(
            UrlOps.domainOf(col("base"))
              .as("src_domain"),
            explode(HtmlOps.extractLinks(col("html"))).as("ref"),
            col("base")),
          Seq("src_domain"), "ref")
        .withColumn("domain",
          UrlOps.domainOf(col("canon_url")))
        .filter(col("domain") =!= col("src_domain"))
        .groupBy("domain", "src_domain")
        .agg(count(lit(1)).as("n"))
        .groupBy("domain")
        .agg(sum(col("n")).as("in_links_cross"),
          count(lit(1)).as("in_domains"))
      content.join(inlinks, Seq("domain"), "full_outer")
        .select(col("domain"),
          coalesce(col("n_pages"), lit(0L)).as("n_pages"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("in_links_cross"), lit(0L)).as("in_links_cross"),
          coalesce(col("in_domains"), lit(0L)).as("in_domains"))
        .orderBy("domain")
    }, oracle =
      // x137 mirror: content stats synthesized per site domain (the same
      // doc_id % 5 site map), the x134 edge chain filtered to cross-domain
      // links, full-outer joined with both sides zeroed via coalesce.
      s"""WITH $linkSynthCtesSql,
        | ${urlCanonCtesOver("lr", "src_domain")},
        | content AS (SELECT 'example-' || (doc_id % 5)::VARCHAR ||
        |       '.com' AS domain,
        |     len(string_split(text, ' '))::BIGINT n_words,
        |     (len(string_split(text, ' ')) >= 20 AND
        |      floor(len(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
        |        * 10000 / len(text)::DOUBLE)::BIGINT >= 7000) AS q_pass
        |   FROM documents),
        | cagg AS (SELECT domain, count(*)::BIGINT n_pages,
        |     sum(CASE WHEN q_pass THEN 1 ELSE 0 END)::BIGINT n_quality,
        |     sum(n_words)::BIGINT n_toks
        |   FROM content GROUP BY domain),
        | xd AS (SELECT reg_domain AS domain, src_domain,
        |     count(*)::BIGINT n
        |   FROM ur WHERE canon_url IS NOT NULL
        |     AND reg_domain <> src_domain
        |   GROUP BY reg_domain, src_domain),
        | lagg AS (SELECT domain, sum(n)::BIGINT in_links_cross,
        |     count(*)::BIGINT in_domains
        |   FROM xd GROUP BY domain)
        | SELECT coalesce(c.domain, l.domain) AS domain,
        |   coalesce(n_pages, 0)::BIGINT n_pages,
        |   coalesce(n_quality, 0)::BIGINT n_quality,
        |   coalesce(n_toks, 0)::BIGINT n_toks,
        |   coalesce(in_links_cross, 0)::BIGINT in_links_cross,
        |   coalesce(in_domains, 0)::BIGINT in_domains
        | FROM cagg c FULL OUTER JOIN lagg l ON c.domain = l.domain
        | ORDER BY domain""".stripMargin),

    // x138 — anchor-text rollup: every <a> element's target resolved +
    // canonicalized and its ANCHOR TEXT kept (inner tags stripped) —
    // the label the web puts on each target, rolled up per (target
    // domain, anchor text). The WebText-style signal: anchor text is
    // curated human description of the linked page.
    "x138_anchor_text" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(col("doc_id"), linkBase.as("base"),
        linkHtmlFixture.as("html"))
      // two chained combinable aggs, not count_distinct (the x56
      // Expand lesson)
      resolvedCanon(
          pages.select(col("base"),
              explode(HtmlOps.extractAnchors(col("html"))).as("a"))
            .select(col("base"), col("a.href").as("href"),
              col("a.atext").as("atext"))
            .filter(col("atext") =!= ""),
          Seq("atext"), "href")
        .groupBy("atext", "canon_url")
        .agg(count(lit(1)).as("n"))
        .withColumn("dst_domain",
          UrlOps.domainOf(col("canon_url")))
        .groupBy("dst_domain", "atext")
        .agg(sum(col("n")).as("n_anchors"),
          count(lit(1)).as("n_targets"))
        .orderBy("dst_domain", "atext")
    }, oracle =
      // x138 mirror: anchor ELEMENTS extracted whole (group 0), href and
      // inner text re-extracted per element, inner tags stripped to
      // spaces, whitespace collapsed — then resolve + canonicalize (the
      // x134 chain) and the two-stage rollup.
      s"""WITH $linkSynthCtesSql,
        | ae AS (SELECT doc_id, src_domain, base,
        |     unnest(regexp_extract_all(html,
        |       '(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*"[^"]*"[^>]*>.*?</a\\s*>'
        |       )) AS elem
        |   FROM lb),
        | ax AS (SELECT doc_id, base,
        |     trim(regexp_extract(elem,
        |       '(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*"([^"]*)"', 1)) href,
        |     trim(regexp_replace(regexp_replace(regexp_extract(elem,
        |       '(?is)^<a[^>]*>(.*)</a\\s*>$$', 1),
        |       '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) atext
        |   FROM ae),
        | ar AS (SELECT doc_id, atext,
        |     CASE
        |       WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*://')
        |         THEN href
        |       WHEN href LIKE '//%' THEN
        |         lower(regexp_extract(base,
        |           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || ':' || href
        |       WHEN href LIKE '/%' THEN
        |         regexp_extract(base,
        |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) || href
        |       WHEN href LIKE '?%' THEN
        |         regexp_extract(base,
        |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) ||
        |         regexp_extract(base,
        |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) || href
        |       WHEN href = '' OR href LIKE '#%' THEN base
        |       ELSE regexp_extract(base,
        |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) ||
        |         regexp_replace(regexp_extract(base,
        |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
        |           '/[^/]*$$', '') || '/' ||
        |         regexp_replace(href, '#.*$$', '')
        |     END AS url
        |   FROM ax WHERE href <> ''),
        | ${urlCanonCtesOver("ar", "doc_id, atext")},
        | ag1 AS (SELECT reg_domain AS dst_domain, atext, canon_url,
        |     count(*)::BIGINT n
        |   FROM ur WHERE canon_url IS NOT NULL AND atext <> ''
        |   GROUP BY reg_domain, atext, canon_url)
        | SELECT dst_domain, atext, sum(n)::BIGINT n_anchors,
        |   count(*)::BIGINT n_targets
        | FROM ag1 GROUP BY dst_domain, atext
        | ORDER BY dst_domain, atext""".stripMargin),

    // x139 — the BYTE/HTTP-faithful first mile (r16; VERDICT r15 #1):
    // a real Common Crawl file is `.warc.gz` — one gzip member per
    // record — and each response payload is an HTTP/1.1 message, not
    // bare HTML. The fixture builds exactly that (per-record gzip
    // members, concatenated per file), and the query runs the REAL
    // chain: gunzip the file (multi-member, GunzipToString → the
    // latin1 VIEW of the record bytes, r17) → WARC record parse → HTTP
    // envelope split → route on status 200 + text/html → charset
    // decode (the pages ship as REAL UTF-8 bytes with an accented
    // paragraph, so the gz tier is now gated on non-ASCII content —
    // ADVICE r16) → the SAME C4 page extraction as x128. The oracle is
    // the accent-modified x128 recompute: DuckDB cannot gunzip, so it
    // recomputes the target output independently from the documents
    // table — row-identity proves the whole container+envelope+byte
    // round trip is lossless (the x130 proof, one tier deeper).
    "x139_warc_gz_http" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val files = warcGzHttpFixture(d)
      val pages = WarcOps.responses(
        files.select(col("file_id"),
          WarcOps.gunzipText(col("gz")).as("content")),
        "file_id", "content")
      c4ResponsePages(pages,
        HttpOps.decodeBody(col("body"), col("charset")))
    }, oracle =
      // x139 mirror: the ACCENT-modified x128 target recomputed
      // independently from the documents table (DuckDB has no gunzip —
      // the gzip/WARC/HTTP/charset round trip is the Spark side's to
      // prove on real UTF-8 bytes; row-identity with this
      // independently-derived target is exactly the x130 losslessness
      // proof, one container tier deeper). The Spark-side gzip and HTTP
      // kernels are additionally spec-gated (HttpOpsSpec round-trip +
      // multi-member + view tests).
      s"""${accentPagesSql(None)},
        | $htmlPageTailSql""".stripMargin),

    // x140 — the HTTP envelope split on its own cross-engine oracle
    // (the regex tier IS mirrorable, unlike gzip): four synthesized
    // response shapes (200+charset, 301+Location, 404, lowercase
    // content-type with quoted charset), split into status /
    // media type / charset / redirect / body in both engines, rolled
    // up per envelope shape. The routing table a crawl ingest
    // partitions its fetch results by.
    "x140_http_headers" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      HttpOps.parseResponses(
          d.select(col("doc_id"), httpFixture.as("msg")), "msg")
        .groupBy("status_code", "content_type", "charset")
        .agg(count(lit(1)).as("n_msgs"),
          sum(length(col("body")).cast(LongType)).as("body_chars"),
          sum(when(col("location").isNotNull, 1L).otherwise(0L))
            .as("n_redirects"),
          min("doc_id").as("min_doc"))
        .orderBy("status_code", "content_type")
    }, oracle = {
      // x140 mirror: identical envelope synthesis, DuckDB's own split
      // (same regexes: first-blank-line head/body split, anchored status
      // line, case-insensitive headers, media-type + charset params).
      val crlf = "chr(13) || chr(10)"
      s"""WITH hm AS (SELECT doc_id,
        |   CASE (doc_id % 4)
        |     WHEN 0 THEN 'HTTP/1.1 200 OK' || $crlf ||
        |       'Content-Type: text/html; charset=utf-8' || $crlf ||
        |       'Server: graft' || $crlf || $crlf ||
        |       '<html>page ' || doc_id::VARCHAR || '</html>'
        |     WHEN 1 THEN 'HTTP/1.1 301 Moved Permanently' || $crlf ||
        |       'Location: https://example.com/new/' || doc_id::VARCHAR ||
        |       $crlf || 'Content-Type: text/html' || $crlf || $crlf ||
        |       'moved'
        |     WHEN 2 THEN 'HTTP/1.1 404 Not Found' || $crlf ||
        |       'Content-Type: text/plain' || $crlf || $crlf ||
        |       'not found ' || doc_id::VARCHAR
        |     ELSE 'HTTP/1.1 200 OK' || $crlf ||
        |       'content-type: application/json; charset="UTF-8"' ||
        |       $crlf || $crlf || '{"id": ' || doc_id::VARCHAR || '}'
        |   END AS msg
        | FROM documents),
        | hp AS (SELECT doc_id,
        |     try_cast(nullif(regexp_extract(msg,
        |       '^HTTP/[0-9.]+ ([0-9]{3})', 1), '') AS INTEGER) status_code,
        |     regexp_extract(msg, '(?s)^(.*?)\r\n\r\n', 1) head,
        |     regexp_extract(msg, '(?s)^.*?\r\n\r\n(.*)$$', 1) body
        |   FROM hm),
        | hh AS (SELECT doc_id, status_code, body,
        |     nullif(regexp_extract(head,
        |       '(?im)^Content-Type:\\s*([^\r\n]*)', 1), '') ct,
        |     nullif(regexp_extract(head,
        |       '(?im)^Location:\\s*([^\r\n]*)', 1), '') AS loc
        |   FROM hp),
        | hx AS (SELECT doc_id, status_code, body, loc,
        |     nullif(lower(trim(regexp_extract(ct, '^([^;]*)', 1))), '')
        |       content_type,
        |     nullif(lower(regexp_extract(ct,
        |       '(?i)charset="?([A-Za-z0-9._-]+)', 1)), '') charset
        |   FROM hh)
        | SELECT status_code, content_type, charset,
        |   count(*)::BIGINT n_msgs, sum(len(body))::BIGINT body_chars,
        |   sum(CASE WHEN loc IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |     n_redirects,
        |   min(doc_id) min_doc
        | FROM hx GROUP BY 1, 2, 3
        | ORDER BY status_code, content_type""".stripMargin
    }),

    // x141 — the multi-hop crawl loop (CrawlOps.crawlFrontierIterate;
    // VERDICT r15 #7): x136 is ONE discovery hop, a crawl iterates.
    // Seeds = every 10th page of the link corpus; two hops of
    // frontier → fetch → extract → dedup-against-everything-crawled →
    // robots admission (agent graftbot) → per-domain cap-4 politeness,
    // rolled up per (hop, domain) with the fetched/404 split. The
    // oracle unrolls both hops as CTEs — the same links, the same
    // rules, the same cumulative crawled set.
    "x141_crawl_hops" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(linkBase.as("canon_url"),
        linkHtmlFixture.as("html"))
      val seeds = d.filter(col("doc_id") % 10 === 0)
        .select(linkBase.as("canon_url"))
      // robots coverage: the five site domains plus the CDN's (a
      // domain absent from the rule table is unrestricted — RFC 9309)
      val doms = pages
        .select(UrlOps.domainOf(col("canon_url")).as("reg_domain"))
        .distinct()
        .unionByName(s.range(1).select(lit("example.net").as("reg_domain")))
      val rules = RobotsOps.parseRules(
        doms.withColumn("robots_txt", frontierRobotsFixture), "graftbot")
      CrawlOps.crawlFrontierIterate(pages, seeds, rules, maxHops = 2)
        .groupBy("hop", "reg_domain")
        .agg(count(lit(1)).as("n_scheduled"),
          sum(when(col("fetched"), 1L).otherwise(0L)).as("n_fetched"),
          min("canon_url").as("first_url"))
        .orderBy("hop", "reg_domain")
    }, oracle =
      // x141 mirror: the same link corpus and robots rules, both hops
      // unrolled as CTEs (crawlHopCtesSql — one generator, so hop 1 and
      // hop 2 cannot drift): per hop, links of the previous frontier's
      // fetched pages → NOT EXISTS against the cumulative crawled set →
      // longest-match admission → per-domain cap-4 window; the crawled
      // set then grows by the hop's scheduled URLs and the next frontier
      // is its fetched subset.
      s"""WITH $linkSynthCtesSql,
        | ${urlCanonCtesOver("lr", "doc_id")},
        | l2 AS (SELECT DISTINCT doc_id, canon_url, host, reg_domain
        |   FROM ur WHERE canon_url IS NOT NULL),
        | c0 AS (SELECT DISTINCT base AS canon_url FROM lb
        |   WHERE doc_id % 10 = 0),
        | f0 AS (SELECT canon_url FROM c0),
        | rdoms AS (SELECT DISTINCT src_domain AS reg_domain FROM lb
        |   UNION SELECT 'example.net'),
        | rb AS (SELECT reg_domain, $frontierRobotsBodySql AS robots_txt
        |   FROM rdoms),
        | ${robotsParseCtesSql("rb", "graftbot")},
        | ${crawlHopCtesSql(1)},
        | ${crawlHopCtesSql(2)},
        | sched AS (SELECT 1 AS hop, canon_url, reg_domain FROM f1s
        |   UNION ALL SELECT 2 AS hop, canon_url, reg_domain FROM f2s)
        | SELECT hop, reg_domain, count(*)::BIGINT n_scheduled,
        |   sum(CASE WHEN EXISTS (SELECT 1 FROM lb
        |       WHERE lb.base = s.canon_url) THEN 1 ELSE 0 END)::BIGINT
        |     n_fetched,
        |   min(canon_url) first_url
        | FROM sched s GROUP BY 1, 2
        | ORDER BY hop, reg_domain""".stripMargin),

    // x142 — link-authority PageRank (GraphOps.pageRankInt; the
    // Cho/Garcia-Molina/Page WWW'98 crawl-ordering signal): the x134
    // edge stream (resolve + canonicalize, self-loops dropped), edge
    // weight = href multiplicity, two damped power iterations in exact
    // scaled-BIGINT arithmetic (rank at 10^6, integral div throughout,
    // so summation order cannot matter and the DuckDB mirror unrolling
    // the same two iterations as CTEs is hash-exact by construction).
    // Rolled up per target domain with the argmax node — the
    // per-domain authority table a frontier scheduler orders its fetch
    // queue by.
    "x142_pagerank" -> QueryCase({ (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val edges = pageLinkEdges(spread(t(s, dir, "documents")))
      val ranks = GraphOps.pageRankInt(edges, iterations = 2)
        .withColumn("reg_domain", UrlOps.domainOf(col("node")))
      // argmax with a deterministic tie-break: min node among the
      // rank_max holders (one window + the rollup — no self-join)
      ranks
        .withColumn("rmax",
          max("rank").over(Window.partitionBy("reg_domain")))
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_nodes"),
          sum("rank").as("rank_sum"),
          max("rank").as("rank_max"),
          min(when(col("rank") === col("rmax"), col("node")))
            .as("top_node"))
        .orderBy("reg_domain")
    }, oracle =
      // x142 mirror: the x134 edge chain (self-loops dropped, href
      // multiplicity as weight), then the SAME two power iterations
      // unrolled as CTEs in the same scaled-BIGINT arithmetic — `//` in
      // DuckDB and `div` in Spark both truncate on the non-negative
      // values here, so every intermediate is the identical Long. Node
      // domains ride the edge endpoints (lb.src_domain for sources,
      // ur.reg_domain for targets — provably equal where a node is
      // both, the x134 equivalence).
      s"""WITH $linkSynthCtesSql,
        | ${urlCanonCtesOver("lr", "doc_id")},
        | e0 AS (SELECT lb.base AS src, lb.src_domain AS sdom,
        |     u.canon_url AS dst, u.reg_domain AS ddom
        |   FROM ur u JOIN lb USING (doc_id)
        |   WHERE u.canon_url IS NOT NULL AND u.canon_url <> lb.base),
        | e AS (SELECT src, dst, count(*)::BIGINT w FROM e0
        |   GROUP BY src, dst),
        | nodes AS (SELECT node, min(dom) AS reg_domain FROM (
        |     SELECT src AS node, sdom AS dom FROM e0
        |     UNION ALL SELECT dst, ddom FROM e0) GROUP BY node),
        | $pagerank2Sql,
        | rm AS (SELECT n.node, n.reg_domain, r2.r,
        |     max(r2.r) OVER (PARTITION BY n.reg_domain) rmax
        |   FROM nodes n JOIN r2 USING (node))
        | SELECT reg_domain, count(*)::BIGINT n_nodes,
        |   sum(r)::BIGINT rank_sum, max(r)::BIGINT rank_max,
        |   min(CASE WHEN r = rmax THEN node END) top_node
        | FROM rm GROUP BY reg_domain ORDER BY reg_domain""".stripMargin),

    // x143 — sitemap discovery (SitemapOps; sitemaps.org protocol):
    // the OTHER half of the crawl's URL-discovery plane. Four of the
    // five site domains advertise a sitemap INDEX from robots.txt
    // (key case varies, one pointer carries a trailing comment, the
    // fifth domain has no directive), each index references two child
    // urlsets, each child packs its domain's pages as <url> entries
    // with XML-escaped tracking params in the loc and optional
    // lastmod/priority. The chain: Sitemap: directives → index parse →
    // child fetch (closed-corpus double, the CrawlOps convention) →
    // urlset parse → canonicalize → anti-flag against the crawled set
    // → two-stage per-sitemap/per-domain rollup (no count_distinct
    // Expand — the x56 lesson).
    "x143_sitemap_discovery" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val m = (col("doc_id") % 5).cast("string")
      val site = concat(lit("https://s"), m, lit(".example-"), m,
        lit(".com"))
      val dom = concat(lit("example-"), m, lit(".com"))
      val idS = col("doc_id").cast("string")
      val robots = d.select((col("doc_id") % 5).as("mnum"),
          dom.as("reg_domain"), site.as("site")).distinct()
        .withColumn("robots_txt",
          when(col("reg_domain") =!= "example-4.com", concat(
            lit("User-agent: *\nDisallow: /private\n\n"),
            when(col("mnum") % 2 === 0, lit("Sitemap: "))
              .otherwise(lit("SITEMAP: ")),
            col("site"), lit("/sitemap_index.xml # autogen\n")))
          .otherwise(lit("User-agent: *\nAllow: /\n")))
      val ptr = SitemapOps.sitemapUrls(robots)
      val idxXml = ptr.withColumn("xml", concat(
        lit("<sitemapindex><sitemap><loc>"),
        regexp_replace(col("sitemap_url"), "sitemap_index\\.xml$",
          "maps/s1.xml"),
        lit("</loc></sitemap><sitemap><loc>"),
        regexp_replace(col("sitemap_url"), "sitemap_index\\.xml$",
          "maps/s2.xml"),
        lit("</loc></sitemap></sitemapindex>")))
      val children = SitemapOps.parseIndex(idxXml, Seq("reg_domain"))
      val entry = concat(lit("<url><loc>"), site, lit("/dir/page/"), idS,
        lit("?utm_source=map&amp;utm_medium=xml</loc>"),
        when(col("doc_id") % 3 === 0, concat(lit("<lastmod>2020-01-"),
          lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
          lit("</lastmod>"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("<priority>0.9</priority>"))
          .when(col("doc_id") % 2 === 0, lit("<priority>0.5</priority>"))
          .otherwise(lit("")),
        lit("</url>"))
      val content = d.select(
          concat(site, lit("/maps/s"),
            ((col("doc_id") % 2) + 1).cast("string"), lit(".xml"))
            .as("sitemap_loc"),
          col("doc_id"), entry.as("e"))
        .groupBy("sitemap_loc")
        .agg(concat(lit("<urlset>"),
          concat_ws("", array_sort(collect_list(
            struct(col("doc_id"), col("e")))).getField("e")),
          lit("</urlset>")).as("xml"))
      val entries = SitemapOps.parseUrlset(
        children.join(content, Seq("sitemap_loc")),
        Seq("reg_domain", "sitemap_loc"))
      val crawled = d.filter(col("doc_id") % 10 === 0)
        .select(linkBase.as("canon_url"), lit(true).as("__crawled"))
      val flagged = entries
        .withColumn("canon_url", UrlOps.canonicalizeUrl(col("loc")))
        .filter(col("canon_url").isNotNull)
        .join(crawled, Seq("canon_url"), "left")
        .withColumn("is_new", col("__crawled").isNull)
      flagged.groupBy("reg_domain", "sitemap_loc")
        .agg(count(lit(1)).as("n_entries"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("lastmod").isNotNull, 1L).otherwise(0L))
            .as("n_lastmod"),
          sum(when(col("priority") >= "0.8", 1L).otherwise(0L))
            .as("n_high"),
          min("lastmod").as("min_lastmod"),
          min("canon_url").as("first_loc"))
        .groupBy("reg_domain")
        .agg(count(lit(1)).as("n_sitemaps"),
          sum("n_entries").as("n_entries"), sum("n_new").as("n_new"),
          sum("n_lastmod").as("n_lastmod"),
          sum("n_high").as("n_high_priority"),
          min("min_lastmod").as("min_lastmod"),
          min("first_loc").as("first_loc"))
        .orderBy("reg_domain")
    }, oracle =
      // x143 mirror: the same robots/index/urlset synthesis, DuckDB's own
      // directive extraction (line split + comment strip + case-folded
      // key), regex element/child parses with the same patterns and the
      // same five-entity un-escape order (`&amp;` last), the shared
      // canonicalization chain, and the identical two-stage rollup.
      s"""WITH dm AS (SELECT DISTINCT (doc_id % 5) AS mnum,
        |     'example-' || (doc_id % 5)::VARCHAR || '.com' AS reg_domain,
        |     'https://s' || (doc_id % 5)::VARCHAR || '.example-' ||
        |       (doc_id % 5)::VARCHAR || '.com' AS site
        |   FROM documents),
        | rb AS (SELECT reg_domain, site,
        |     CASE WHEN reg_domain <> 'example-4.com' THEN
        |       'User-agent: *' || chr(10) || 'Disallow: /private' ||
        |       chr(10) || chr(10) ||
        |       (CASE WHEN mnum % 2 = 0 THEN 'Sitemap: '
        |             ELSE 'SITEMAP: ' END) ||
        |       site || '/sitemap_index.xml # autogen' || chr(10)
        |     ELSE 'User-agent: *' || chr(10) || 'Allow: /' || chr(10)
        |     END AS robots_txt FROM dm),
        | rl AS (SELECT reg_domain, trim(regexp_replace(
        |       unnest(string_split(robots_txt, chr(10))), '#.*$$', ''))
        |     AS line FROM rb),
        | ptr AS (SELECT DISTINCT reg_domain,
        |     trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(.*)$$', 1))
        |       AS sitemap_url
        |   FROM rl
        |   WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
        |       = 'sitemap'
        |     AND trim(regexp_extract(line,
        |       '^[A-Za-z-]+\\s*:\\s*(.*)$$', 1)) <> ''),
        | idx AS (SELECT reg_domain, '<sitemapindex><sitemap><loc>' ||
        |     regexp_replace(sitemap_url, 'sitemap_index\\.xml$$',
        |       'maps/s1.xml') ||
        |     '</loc></sitemap><sitemap><loc>' ||
        |     regexp_replace(sitemap_url, 'sitemap_index\\.xml$$',
        |       'maps/s2.xml') ||
        |     '</loc></sitemap></sitemapindex>' AS xml FROM ptr),
        | ch AS (SELECT reg_domain, replace(replace(replace(replace(
        |       replace(trim(regexp_extract(e,
        |         '(?is)<loc\\b[^>]*>\\s*(.*?)\\s*</loc\\s*>', 1)),
        |       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |       '&apos;', ''''), '&amp;', '&') AS sitemap_loc
        |   FROM (SELECT reg_domain, unnest(regexp_extract_all(xml,
        |       '(?is)<sitemap\\b[^>]*>.*?</sitemap\\s*>', 0)) e
        |     FROM idx)
        |   WHERE trim(regexp_extract(e,
        |     '(?is)<loc\\b[^>]*>\\s*(.*?)\\s*</loc\\s*>', 1)) <> ''),
        | ent AS (SELECT
        |     'https://s' || (doc_id % 5)::VARCHAR || '.example-' ||
        |       (doc_id % 5)::VARCHAR || '.com/maps/s' ||
        |       ((doc_id % 2) + 1)::VARCHAR || '.xml' AS sitemap_loc,
        |     doc_id,
        |     '<url><loc>https://s' || (doc_id % 5)::VARCHAR ||
        |       '.example-' || (doc_id % 5)::VARCHAR ||
        |       '.com/dir/page/' || doc_id::VARCHAR ||
        |       '?utm_source=map&amp;utm_medium=xml</loc>' ||
        |     (CASE WHEN doc_id % 3 = 0 THEN '<lastmod>2020-01-' ||
        |         lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') ||
        |         '</lastmod>' ELSE '' END) ||
        |     (CASE WHEN doc_id % 7 = 0 THEN '<priority>0.9</priority>'
        |           WHEN doc_id % 2 = 0 THEN '<priority>0.5</priority>'
        |           ELSE '' END) || '</url>' AS e
        |   FROM documents),
        | cx AS (SELECT sitemap_loc, '<urlset>' ||
        |     string_agg(e, '' ORDER BY doc_id) || '</urlset>' AS xml
        |   FROM ent GROUP BY sitemap_loc),
        | fx AS (SELECT ch.reg_domain, ch.sitemap_loc, cx.xml
        |   FROM ch JOIN cx USING (sitemap_loc)),
        | ue AS (SELECT reg_domain, sitemap_loc,
        |     unnest(regexp_extract_all(xml,
        |       '(?is)<url\\b[^>]*>.*?</url\\s*>', 0)) e
        |   FROM fx),
        | ux AS (SELECT reg_domain, sitemap_loc,
        |     replace(replace(replace(replace(replace(
        |       trim(regexp_extract(e,
        |         '(?is)<loc\\b[^>]*>\\s*(.*?)\\s*</loc\\s*>', 1)),
        |       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |       '&apos;', ''''), '&amp;', '&') AS url,
        |     nullif(trim(regexp_extract(e,
        |       '(?is)<lastmod\\b[^>]*>\\s*(.*?)\\s*</lastmod\\s*>', 1)),
        |       '') AS lastmod,
        |     nullif(trim(regexp_extract(e,
        |       '(?is)<priority\\b[^>]*>\\s*(.*?)\\s*</priority\\s*>', 1)),
        |       '') AS priority
        |   FROM ue
        |   WHERE trim(regexp_extract(e,
        |     '(?is)<loc\\b[^>]*>\\s*(.*?)\\s*</loc\\s*>', 1)) <> ''),
        | ${urlCanonCtesOver("ux", "reg_domain, sitemap_loc, lastmod, priority")},
        | cr AS (SELECT DISTINCT 'https://s' || (doc_id % 5)::VARCHAR ||
        |       '.example-' || (doc_id % 5)::VARCHAR || '.com/dir/page/'
        |       || doc_id::VARCHAR AS canon_url
        |   FROM documents WHERE doc_id % 10 = 0),
        | fl AS (SELECT u.reg_domain, u.sitemap_loc, u.canon_url,
        |     u.lastmod, u.priority,
        |     NOT EXISTS (SELECT 1 FROM cr
        |       WHERE cr.canon_url = u.canon_url) AS is_new
        |   FROM ur u WHERE u.canon_url IS NOT NULL),
        | g1 AS (SELECT reg_domain, sitemap_loc,
        |     count(*)::BIGINT n_entries,
        |     sum(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT n_new,
        |     sum(CASE WHEN lastmod IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |       n_lastmod,
        |     sum(CASE WHEN priority >= '0.8' THEN 1 ELSE 0 END)::BIGINT
        |       n_high,
        |     min(lastmod) min_lastmod, min(canon_url) first_loc
        |   FROM fl GROUP BY reg_domain, sitemap_loc)
        | SELECT reg_domain, count(*)::BIGINT n_sitemaps,
        |   sum(n_entries)::BIGINT n_entries, sum(n_new)::BIGINT n_new,
        |   sum(n_lastmod)::BIGINT n_lastmod,
        |   sum(n_high)::BIGINT n_high_priority,
        |   min(min_lastmod) min_lastmod, min(first_loc) first_loc
        | FROM g1 GROUP BY reg_domain ORDER BY reg_domain""".stripMargin),

    // x144 — chunked transfer decoding (DechunkBody; RFC 9112 §7.1):
    // the LAST envelope layer of the byte tier. A LIVE fetch (unlike
    // Common Crawl's de-chunked store) delivers chunked framing, so
    // the fixture wraps each x127 page in a chunked HTTP message
    // (hex sizes from Spark's uppercase hex(), a chunk extension and
    // a trailer field planted, one chunk boundary mid-document) inside
    // plain-text WARC records, and the query runs WARC parse → HTTP
    // split (which de-chunks on Transfer-Encoding routing) → the SAME
    // C4 page extraction as x128. Oracle = the independently
    // recomputed x128 target (the x139 losslessness proof for the
    // chunked layer).
    "x144_http_chunked" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = WarcOps.responses(
        warcChunkedHttpFixture(d), "file_id", "content")
      c4ResponsePages(pages, col("body"),
        col("transfer_encoding") === "chunked")
    }, oracle =
      // x144 mirror: the x128 target recomputed independently (DuckDB
      // does not de-chunk — the WARC/HTTP/chunked round trip is the
      // Spark side's to prove; row-identity with the independent target
      // is the x139 losslessness proof for the chunked layer). The
      // decoder is additionally spec-gated (HttpOpsSpec goldens:
      // byte-count sizes across a multi-byte boundary, extension/trailer
      // drops, malformed-framing NULLs).
      s"""WITH $htmlKeptCtesSql,
        | $htmlPageTailSql""".stripMargin),

    // x145 — the prioritized frontier SCHEDULE (the round's capstone
    // composition): what a crawl scheduler actually emits — candidate
    // URLs from link discovery (the x136 frontier: links minus the
    // crawled corpus), admitted by robots (graftbot; /root disallowed
    // everywhere), ranked by link authority (the x142 integer
    // PageRank, un-ranked candidates at 0), capped at 4 fetch slots
    // per registered domain, each slot offset by the domain's
    // governing Crawl-delay (RobotsOps.crawlDelays; site 0 publishes
    // none and the CDN domain has no robots at all — both fall to the
    // 200 ms default spacing). Integer ranks + integral ms make every
    // output column exact in both engines.
    "x145_frontier_schedule" -> QueryCase({ (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(col("doc_id"), linkBase.as("base"),
        linkHtmlFixture.as("html"))
      // one materialization feeds BOTH the rank edges and the
      // candidate stream (the x136 localCheckpoint discipline)
      val resolved = resolvedCanon(pages.select(col("base"),
          explode(HtmlOps.extractLinks(col("html"))).as("ref")),
        Seq("base"), "ref").localCheckpoint()
      val edges = resolved.filter(col("canon_url") =!= col("base"))
        .groupBy(col("base").as("src"), col("canon_url").as("dst"))
        .agg(count(lit(1)).as("w"))
      val ranks = GraphOps.pageRankInt(edges, iterations = 2)
      val cand = resolved.select("canon_url").distinct()
        .join(pages.select(col("base").as("canon_url")),
          Seq("canon_url"), "left_anti")
        .withColumn("host", UrlOps.host(col("canon_url")))
        .withColumn("reg_domain", UrlOps.domainOf(col("canon_url")))
        .withColumn("match_path", RobotsOps.matchPath(col("canon_url")))
      val doms = pages
        .select(UrlOps.domainOf(col("base")).as("reg_domain")).distinct()
        .withColumn("mnum",
          regexp_extract(col("reg_domain"), "example-([0-9])", 1))
      val robots = doms.withColumn("robots_txt", concat(
        lit("User-agent: megabot\nDisallow: /\n\n"),
        lit("User-agent: graftbot\n"),
        when(col("mnum") === "0", lit(""))
          .otherwise(concat(lit("Crawl-delay: "), col("mnum"),
            lit(".5\n"))),
        lit("Disallow: /root\n\n"),
        lit("User-agent: *\nCrawl-delay: 30\nDisallow: /\n")))
      val rules = RobotsOps.parseRules(robots, "graftbot")
      val delays = RobotsOps.crawlDelays(robots, "graftbot")
      RobotsOps.allowedFlags(cand, rules,
          Seq("canon_url", "host", "reg_domain"))
        .filter(col("allowed")).drop("allowed")
        .join(ranks.select(col("node").as("canon_url"), col("rank")),
          Seq("canon_url"), "left")
        .withColumn("rank", coalesce(col("rank"), lit(0L)))
        // slots per HOST (r18, VERDICT r17 #5): the fetch queue is a
        // per-server schedule — two hosts on one registered domain
        // fill their slot windows independently; the domain stays for
        // the rollup and the Crawl-delay spacing (robots are fetched
        // per authority; this fixture publishes them per domain)
        .withColumn("slot", row_number().over(
            Window.partitionBy("host")
              .orderBy(col("rank").desc, col("canon_url")))
          .cast(LongType))
        .filter(col("slot") <= 4)
        .join(delays, Seq("reg_domain"), "left")
        .withColumn("fetch_offset_ms",
          (col("slot") - 1) * coalesce(col("delay_ms"), lit(200L)))
        .select("reg_domain", "host", "slot", "canon_url", "rank",
          "fetch_offset_ms")
        .orderBy("reg_domain", "host", "slot")
    }, oracle =
      // x145 mirror: the x142 rank CTEs, the x136 candidate/admission
      // chain, DuckDB's own governing-group Crawl-delay extraction (the
      // rg/rgov CTEs robotsParseCtesSql already builds), and the same
      // slot window + delay spacing.
      s"""WITH $linkSynthCtesSql,
        | ${urlCanonCtesOver("lr", "doc_id")},
        | e0 AS (SELECT lb.base AS src, u.canon_url AS dst
        |   FROM ur u JOIN lb USING (doc_id)
        |   WHERE u.canon_url IS NOT NULL AND u.canon_url <> lb.base),
        | e AS (SELECT src, dst, count(*)::BIGINT w FROM e0
        |   GROUP BY src, dst),
        | nodes AS (SELECT DISTINCT node FROM (
        |     SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        | $pagerank2Sql,
        | cand AS (SELECT canon_url, host, reg_domain,
        |     coalesce(nullif(regexp_extract(canon_url,
        |       '^[a-z][a-z0-9+.-]*://[^/?#]*(.*)$$', 1), ''), '/') mp
        |   FROM (SELECT DISTINCT canon_url, host, reg_domain FROM ur
        |     WHERE canon_url IS NOT NULL) c
        |   WHERE NOT EXISTS (SELECT 1 FROM lb
        |     WHERE lb.base = c.canon_url)),
        | pdoms AS (SELECT DISTINCT src_domain AS reg_domain,
        |     regexp_extract(src_domain, 'example-([0-9])', 1) mnum
        |   FROM lb),
        | rb AS (SELECT reg_domain,
        |     'User-agent: megabot' || chr(10) || 'Disallow: /' ||
        |     chr(10) || chr(10) || 'User-agent: graftbot' || chr(10) ||
        |     (CASE WHEN mnum = '0' THEN ''
        |           ELSE 'Crawl-delay: ' || mnum || '.5' || chr(10) END) ||
        |     'Disallow: /root' || chr(10) || chr(10) ||
        |     'User-agent: *' || chr(10) || 'Crawl-delay: 30' ||
        |     chr(10) || 'Disallow: /' || chr(10) AS robots_txt
        |   FROM pdoms),
        | ${robotsParseCtesSql("rb", "graftbot")},
        | rdel AS (SELECT rg.reg_domain,
        |     max(floor(try_cast(value AS DOUBLE) * 1000))::BIGINT
        |       delay_ms
        |   FROM rg JOIN rgov ON rg.reg_domain = rgov.reg_domain
        |     AND rg.grp = rgov.grp
        |   WHERE directive = 'crawl-delay'
        |     AND floor(try_cast(value AS DOUBLE) * 1000) IS NOT NULL
        |     AND floor(try_cast(value AS DOUBLE) * 1000) >= 0
        |   GROUP BY rg.reg_domain),
        | hits AS (SELECT c.canon_url, len(r.prefix) l,
        |     CASE WHEN r.is_allow THEN 1 ELSE 0 END a
        |   FROM cand c JOIN rrules r ON c.reg_domain = r.reg_domain
        |     AND ${ruleMatchSql("c.mp", "r.prefix")}),
        | b1 AS (SELECT canon_url, a FROM (SELECT canon_url, a,
        |     row_number() OVER (PARTITION BY canon_url
        |       ORDER BY l DESC, a DESC) rn FROM hits) WHERE rn = 1),
        | adm AS (SELECT c.canon_url, c.host, c.reg_domain FROM cand c
        |   LEFT JOIN b1 USING (canon_url) WHERE coalesce(b1.a, 1) = 1),
        | sc AS (SELECT a.reg_domain, a.host, a.canon_url,
        |     coalesce(r2.r, 0)::BIGINT AS rank,
        |     row_number() OVER (PARTITION BY a.host
        |       ORDER BY coalesce(r2.r, 0) DESC, a.canon_url) AS slot
        |   FROM adm a LEFT JOIN r2 ON a.canon_url = r2.node)
        | SELECT sc.reg_domain, sc.host, slot::BIGINT slot, canon_url,
        |   rank,
        |   ((slot - 1) * coalesce(rdel.delay_ms, 200))::BIGINT
        |     fetch_offset_ms
        | FROM sc LEFT JOIN rdel ON sc.reg_domain = rdel.reg_domain
        | WHERE slot <= 4
        | ORDER BY sc.reg_domain, sc.host, slot""".stripMargin),

    // x146 — WARC revisit resolution (WARC 1.1 §6.7.2): a crawler that
    // re-fetches unchanged content writes a BODY-LESS revisit record
    // carrying the payload digest — the container-level dedup a
    // recrawl store ships with. The fixture groups docs by 3: the head
    // stores the payload as a response, the second stores the SAME
    // payload at a different URL (duplicate content — also a
    // response), the third is a revisit with the group digest, no
    // body, and a Refers-To header. Resolution is by CONTENT identity:
    // earliest response per digest (date then URI — the 28-day date
    // wrap makes some duplicate-URL responses the original, exercising
    // the rule), revisits left-joined on. Both engines parse the same
    // synthesized WARC bytes and resolve with the same window.
    "x146_warc_revisit" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val recs = WarcOps.parseRecords(
        warcRevisitFixture(d), "file_id", "content")
      WarcOps.resolveRevisits(recs)
        .select("target_uri", "warc_date", "payload_digest",
          "refers_to", "original_uri", "original_date")
        .orderBy("target_uri")
    }, oracle = {
      // x146 mirror: the same revisit synthesis byte for byte, the shared
      // WARC parse CTEs (now surfacing payload_digest/refers_to), and the
      // same earliest-response-per-digest window + left join.
      val crlf = "chr(13) || chr(10)"
      s"""WITH wbase AS (SELECT doc_id, doc_id // 8 AS file_id,
        |     'snapshot of group ' || (doc_id - (doc_id % 3))::VARCHAR ||
        |       ' stable content' AS pay,
        |     (doc_id - (doc_id % 3)) AS grp
        |   FROM documents),
        | wrec AS (SELECT file_id, doc_id AS ord_doc,
        |     'WARC/1.0' || $crlf ||
        |     'WARC-Type: ' || (CASE WHEN doc_id % 3 < 2 THEN 'response'
        |       ELSE 'revisit' END) || $crlf ||
        |     'WARC-Target-URI: https://example.com/doc/' ||
        |       doc_id::VARCHAR || $crlf ||
        |     'WARC-Date: 2020-01-' ||
        |       lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') ||
        |       'T00:00:00Z' || $crlf ||
        |     'WARC-Payload-Digest: md5:' || md5(pay) || $crlf ||
        |     (CASE WHEN doc_id % 3 < 2 THEN ''
        |       ELSE 'WARC-Refers-To-Target-URI: https://example.com/doc/'
        |         || grp::VARCHAR || $crlf END) ||
        |     'Content-Length: ' ||
        |       (CASE WHEN doc_id % 3 < 2 THEN len(pay) ELSE 0
        |        END)::VARCHAR || $crlf || $crlf ||
        |     (CASE WHEN doc_id % 3 < 2 THEN pay ELSE '' END) ||
        |     $crlf || $crlf AS r
        |   FROM wbase),
        | wf AS (SELECT file_id,
        |     string_agg(r, '' ORDER BY ord_doc) AS content
        |   FROM wrec GROUP BY file_id),
        | $warcParseCtesSql,
        | wresp AS (SELECT payload_digest, target_uri AS original_uri,
        |     warc_date AS original_date
        |   FROM (SELECT payload_digest, target_uri, warc_date,
        |       row_number() OVER (PARTITION BY payload_digest
        |         ORDER BY warc_date, target_uri) rk
        |     FROM wrecs
        |     WHERE warc_type = 'response' AND payload_digest IS NOT NULL)
        |   WHERE rk = 1)
        | SELECT r.target_uri, r.warc_date, r.payload_digest,
        |   r.refers_to, wresp.original_uri, wresp.original_date
        | FROM wrecs r LEFT JOIN wresp USING (payload_digest)
        | WHERE r.warc_type = 'revisit' AND r.payload_digest IS NOT NULL
        | ORDER BY r.target_uri""".stripMargin
    }),

    // x147 — charset-faithful byte decoding via the LATIN1-VIEW
    // convention (HttpOps.decodeBody): raw record bytes decoded as
    // ISO-8859-1 give a 1:1 byte↔char string, so every WARC/HTTP
    // length and delimiter is an exact BYTE offset (the string-tier
    // char-count bound disappears); once the envelope is off, the body
    // re-encodes to its original bytes and decodes with the charset
    // the Content-Type header declared. Three arms (doc_id % 3): REAL
    // UTF-8 bytes (mojibake in the view until decodeBody
    // reinterprets), latin1 bytes (the view IS the text), and — r17,
    // VERDICT r16 #2 — REAL windows-1252 bytes carrying smart quotes /
    // em dash / ellipsis, decoded by the 27-codepoint translate arm.
    // All arms must land on the per-arm C4 target. Oracle = the
    // independent recompute over the same per-arm synthesis (the x139
    // convention — DuckDB does not transcode).
    "x147_charset_bytes" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = WarcOps.responses(
        warcCharsetFixture(d), "file_id", "content")
      c4ResponsePages(pages,
        HttpOps.decodeBody(col("body"), col("charset")))
    }, oracle =
      // x147 mirror: the C4 target recomputed independently over the
      // same per-arm synthesis (DuckDB does not transcode — the
      // byte/charset round trip is the Spark side's to prove; row
      // identity across ALL THREE charset arms, windows-1252 included,
      // is the x139 losslessness proof for the decode layer).
      s"""${accentPagesSql(Some(2))},
        | $htmlPageTailSql""".stripMargin),

    // x148 — <base href> resolution (HTML5 §4.2.3): when a page
    // declares a base element, EVERY relative reference resolves
    // against IT, not the page URL — a link tier that ignores it
    // mis-attributes every relative link on such pages. Four page
    // shapes cycle: no base, an absolute CDN base (relative links
    // leave the page's domain entirely), a root-relative base, and a
    // path-relative base (itself resolved against the page URL
    // first); each page carries a path-relative, a root-relative, and
    // a query-only link, all of which must resolve against the
    // EFFECTIVE base. Rolled up per (base shape, target domain).
    "x148_base_href" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val id = col("doc_id")
      val baseTag = when(id % 4 === 1,
          lit("<base href=\"https://cdn.example.net/assets/\">"))
        .when(id % 4 === 2, lit("<base href=\"/b/\">"))
        .when(id % 4 === 3, lit("<base href=\"sub/\">"))
        .otherwise(lit(""))
      val html = concat(lit("<html><head>"), baseTag,
        lit("</head><body><a href=\"x/"), (id % 5).cast("string"),
        lit("\">r</a><a href=\"/abs/"), (id % 7).cast("string"),
        lit("\">a</a><a href=\"?p="), (id % 3).cast("string"),
        lit("\">q</a></body></html>"))
      val pages = d.select((id % 4).as("base_kind"),
        linkBase.as("page"), html.as("html"))
      val resolved = pages
        .select(col("base_kind"), col("html"),
          UrlOps.effectiveBase(col("page"),
            HtmlOps.baseHref(col("html"))).as("base"))
        .select(col("base_kind"), col("base"),
          explode(HtmlOps.extractLinks(col("html"))).as("ref"))
      resolvedCanon(resolved, Seq("base_kind"), "ref")
        .withColumn("reg_domain", UrlOps.domainOf(col("canon_url")))
        .groupBy("base_kind", "reg_domain")
        .agg(count(lit(1)).as("n_links"),
          min(col("canon_url")).as("first_target"),
          max(col("canon_url")).as("last_target"))
        .orderBy("base_kind", "reg_domain")
    }, oracle =
      // x148 mirror: the same four-shape synthesis, DuckDB's own base
      // extraction (first match) and href extraction, the shared
      // resolve CASE applied TWICE (base href vs page URL, then each
      // ref vs the effective base), the shared canon chain, the same
      // rollup.
      s"""WITH bp AS (SELECT doc_id, (doc_id % 4) AS base_kind,
        |     'https://s' || (doc_id % 5)::VARCHAR || '.example-' ||
        |       (doc_id % 5)::VARCHAR || '.com/dir/page/' ||
        |       doc_id::VARCHAR AS page,
        |     '<html><head>' ||
        |     (CASE (doc_id % 4)
        |       WHEN 1 THEN
        |         '<base href="https://cdn.example.net/assets/">'
        |       WHEN 2 THEN '<base href="/b/">'
        |       WHEN 3 THEN '<base href="sub/">'
        |       ELSE '' END) ||
        |     '</head><body><a href="x/' || (doc_id % 5)::VARCHAR ||
        |     '">r</a><a href="/abs/' || (doc_id % 7)::VARCHAR ||
        |     '">a</a><a href="?p=' || (doc_id % 3)::VARCHAR ||
        |     '">q</a></body></html>' AS html
        |   FROM documents),
        | bh AS (SELECT doc_id, base_kind, page, html,
        |     nullif(trim(regexp_extract(html,
        |       '(?is)<base\\s(?:[^>]*?\\s)?href\\s*=\\s*"([^"]*)"', 1)),
        |       '') AS bhref
        |   FROM bp),
        | eb AS (SELECT doc_id, base_kind, html,
        |     CASE WHEN bhref IS NULL THEN page
        |          ELSE ${resolveCaseSql("page", "bhref")} END AS base
        |   FROM bh),
        | ex AS (SELECT base_kind, base,
        |     unnest(list_filter(list_transform(regexp_extract_all(html,
        |       '(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*"([^"]*)"', 1),
        |       r -> trim(r)), r -> r <> '')) AS ref
        |   FROM eb),
        | lr2 AS (SELECT base_kind,
        |     ${resolveCaseSql("base", "ref")} AS url
        |   FROM ex),
        | ${urlCanonCtesOver("lr2", "base_kind")}
        | SELECT base_kind, reg_domain, count(*)::BIGINT n_links,
        |   min(canon_url) first_target, max(canon_url) last_target
        | FROM ur WHERE canon_url IS NOT NULL
        | GROUP BY base_kind, reg_domain
        | ORDER BY base_kind, reg_domain""".stripMargin),

    // x149 — freshness-driven recrawl scheduling
    // (CrawlOps.recrawlPriority; Cho/Garcia-Molina 2000): which stored
    // URLs to re-fetch first. Three captures per URL at weekly
    // spacing; a third of URLs change every capture, a third change
    // once, a third never (digest = md5 of a version counter) — the
    // observed-change lag statistic, integral change-rate basis
    // points, and staleness × rate priority must agree exactly. r17
    // arm (VERDICT r16 #5): a sitemap-lastmod table joins in as the
    // publisher's declared change evidence — doc_id % 5 == 4 declares
    // a lastmod NEWER than every last capture (raising priority by
    // the one-observed-change bonus, which RESCUES never-changing
    // URLs from their zero score), % 5 == 2 declares an OLDER lastmod
    // (no effect), the rest declare nothing.
    "x149_recrawl_priority" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val caps = captureHistory(d)
        .withColumn("digest", md5(concat(col("doc_id").cast("string"),
          lit("_v"), col("version").cast("string"))))
      val lastmods = d.filter(col("doc_id") % 5 === 4 ||
          col("doc_id") % 5 === 2)
        .select(docUrl.as("url"),
          when(col("doc_id") % 5 === 4, lit("2020-02-10"))
            .otherwise(lit("2020-01-01")).as("lastmod"))
      CrawlOps.recrawlPriority(caps, "2020-02-15",
          sitemapLastmod = lastmods)
        .orderBy("url")
    }, oracle =
      // x149 mirror: the same three-capture synthesis, DuckDB's own lag
      // window for observed changes, the same integral day/bp/priority
      // arithmetic, and the same sitemap-lastmod join + declared-change
      // bonus (r17 arm).
      s"""WITH caps AS (SELECT
        |     'https://example.com/doc/' || doc_id::VARCHAR AS url,
        |     '2020-01-' ||
        |       lpad((1 + (doc_id % 9) + t.k * 7)::VARCHAR, 2, '0')
        |       AS capture_date,
        |     md5(doc_id::VARCHAR || '_v' ||
        |       (CASE WHEN doc_id % 3 = 0 THEN t.k
        |             WHEN doc_id % 3 = 1 THEN
        |               (CASE WHEN t.k >= 2 THEN 1 ELSE 0 END)
        |             ELSE 0 END)::VARCHAR) AS digest
        |   FROM documents
        |   CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) t),
        | sm AS (SELECT
        |     'https://example.com/doc/' || doc_id::VARCHAR AS url,
        |     CASE WHEN doc_id % 5 = 4 THEN '2020-02-10'
        |          ELSE '2020-01-01' END AS lastmod
        |   FROM documents WHERE doc_id % 5 IN (2, 4)),
        | $captureChangesSql,
        | ag2 AS (SELECT ag.url, n_captures, n_changes,
        |     date_diff('day', f::DATE, l::DATE)::BIGINT span_days,
        |     date_diff('day', l::DATE, DATE '2020-02-15')::BIGINT
        |       staleness_days,
        |     (sm.lastmod IS NOT NULL AND sm.lastmod::DATE > l::DATE)
        |       AS declared_newer
        |   FROM ag LEFT JOIN sm ON ag.url = sm.url)
        | SELECT url, n_captures, n_changes, span_days, staleness_days,
        |   ((n_changes * 10000) // greatest(span_days, 1))::BIGINT
        |     change_rate_bp,
        |   (staleness_days *
        |     ((n_changes * 10000) // greatest(span_days, 1)) +
        |     (CASE WHEN declared_newer THEN 10000 ELSE 0 END))::BIGINT
        |     priority,
        |   declared_newer
        | FROM ag2 ORDER BY url""".stripMargin),

    // x150 — `Content-Encoding: gzip/deflate` response bodies (r17,
    // VERDICT r16 #1 — the one HTTP envelope layer r16 left
    // unhandled; the MAJORITY of live fetches ship gzip-coded
    // bodies). The fixture wraps each accent page's REAL UTF-8 bytes
    // in gzip / zlib-deflate / ZSTD frames (doc_id % 3 — the zstd arm
    // is r18: the jar-gated ZstdBytes/ZstdToString kernels are LIVE
    // because zstd-jni rides every Spark classpath),
    // ships the coded
    // bytes as the body's latin1 view inside plain-text WARC records,
    // and the query runs WARC parse → HTTP split (which now removes
    // the content coding after the transfer coding —
    // HttpOps.decodeContentCoding) → charset decode → the SAME C4
    // page extraction as x128. Oracle = the accent-modified recompute
    // (the x139 convention — DuckDB cannot gunzip): row-identity
    // proves compress → view → decompress → transcode is lossless on
    // non-ASCII content.
    "x150_content_encoding" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = WarcOps.responses(
        warcContentEncodingFixture(d), "file_id", "content")
      c4ResponsePages(pages,
        HttpOps.decodeBody(col("body"), col("charset")),
        col("content_encoding").isin("gzip", "deflate", "zstd"))
    }, oracle =
      // x150 mirror: the accent-modified x128 target recomputed
      // independently (DuckDB cannot gunzip/inflate — the content-coding
      // round trip is the Spark side's to prove; row-identity across the
      // gzip AND deflate arms is the x139 losslessness proof for the
      // Content-Encoding layer).
      s"""${accentPagesSql(None)},
        | $htmlPageTailSql""".stripMargin),

    // x151 — block-density main-content extraction (r17, VERDICT r16
    // #4; trafilatura-class, RefinedWeb §3.1): nav/sidebar/footer
    // chrome whose sentences PASS every C4 line rule (terminal
    // punctuation, ≥3 words) but whose characters are mostly anchor
    // text. The fixture plants exactly that — two link-bar divs above
    // the article, a link footer below, and a trailing content island
    // that must LOSE the best-run contest to the article body (run
    // selection, not per-block filtering); the article itself carries
    // one low-density inline link that must survive. Both engines
    // compute the same integral block scores (chars, anchor chars,
    // density basis points), the same run segmentation, the same
    // argmax run, then the SAME C4 line/page tier as x128.
    "x151_main_content" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(col("doc_id"), mainContentFixture.as("html"))
      val main = HtmlOps.mainContent(pages, "doc_id", "html")
      HtmlOps.c4Pages(main, "doc_id", "main_html")
        .select("doc_id", "n_lines", "text")
        .orderBy("doc_id")
    }, oracle =
      // x151 mirror: the same chrome-heavy synthesis, DuckDB's own block
      // split (the shared strip order + block-close regex), per-block
      // text/anchor char counts and integral density, the same run
      // segmentation window and argmax-run pick, then the shared C4
      // line/page CTEs over the reassembled main content.
      s"""WITH h AS (SELECT doc_id,
        |     '<html><head><style>nav { margin: 0; }</style></head><body>' ||
        |     '<div><a href="/home">Home is where you always start browsing ' ||
        |     'today.</a> <a href="/about">About the team behind everything ' ||
        |     'we publish here.</a></div>' ||
        |     '<div><a href="/feed">Read another interesting article right ' ||
        |     'now.</a> <a href="/news">Follow our popular newsletter for ' ||
        |     'updates here.</a></div><p>' ||
        |     replace(text, ' window ', '.</p><p>') ||
        |     '.</p><p>See the complete and current <a href="/ref">' ||
        |     'reference guide</a> for all further details about entry ' ||
        |     doc_id::VARCHAR || ' today.</p>' ||
        |     '<div><a href="/contact">Contact our support department for ' ||
        |     'more information.</a> <a href="/legal">Legal notices and ' ||
        |     'privacy policy all live here.</a></div>' ||
        |     '<p>Subscribe to our monthly newsletter for curated updates soon ' ||
        |     doc_id::VARCHAR || '.</p></body></html>' AS html
        |   FROM documents),
        | mb0 AS (SELECT doc_id,
        |     regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |       html,
        |       '(?is)<script\\b[^>]*>.*?</script[^>]*>', ' ', 'g'),
        |       '(?is)<style\\b[^>]*>.*?</style[^>]*>', ' ', 'g'),
        |       '(?s)<!--.*?-->', ' ', 'g'),
        |       '(?i)</(?:p|div|li|h[1-6]|tr|td|th|table|ul|ol|blockquote|pre)\\s*>|(?i)<br\\s*/?>|(?i)<br\\s[^>]*>', chr(10), 'g') AS t0
        |   FROM h),
        | mb1 AS (SELECT doc_id, e.bn::BIGINT block_no, e.raw FROM (
        |     SELECT doc_id, unnest(list_transform(range(0, len(parts)),
        |       i -> struct_pack(bn := i, raw := parts[(i+1)::INT]))) e
        |     FROM (SELECT doc_id, string_split(t0, chr(10)) parts
        |       FROM mb0))),
        | mb2 AS (SELECT doc_id, block_no,
        |     trim(regexp_replace(regexp_replace(raw, '<[^>]*>', '', 'g'),
        |       '\\s+', ' ', 'g')) block_text,
        |     coalesce(list_aggregate(list_transform(regexp_extract_all(
        |       raw,
        |       '(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*"[^"]*"[^>]*>.*?</a\\s*>',
        |       0),
        |       e -> len(trim(regexp_replace(regexp_replace(regexp_extract(
        |         e, '(?is)^<a[^>]*>(.*)</a\\s*>$$', 1),
        |         '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')))),
        |       'sum'), 0)::BIGINT anchor_chars
        |   FROM mb1),
        | mb3 AS (SELECT doc_id, block_no, block_text, anchor_chars,
        |     len(block_text)::BIGINT text_chars
        |   FROM mb2 WHERE len(block_text) > 0),
        | mb4 AS (SELECT *,
        |     (text_chars >= 25 AND
        |      (anchor_chars * 10000) // greatest(text_chars, 1) <= 3333)
        |       AS is_content
        |   FROM mb3),
        | mb5 AS (SELECT *, sum(CASE WHEN is_content THEN 0 ELSE 1 END)
        |       OVER (PARTITION BY doc_id ORDER BY block_no) AS run
        |   FROM mb4),
        | mb6 AS (SELECT doc_id, run, sum(text_chars) chars FROM mb5
        |   WHERE is_content GROUP BY 1, 2),
        | mb7 AS (SELECT doc_id, run FROM (SELECT doc_id, run,
        |     row_number() OVER (PARTITION BY doc_id
        |       ORDER BY chars DESC, run) rk FROM mb6) WHERE rk = 1),
        | mc AS (SELECT m.doc_id,
        |     string_agg(m.block_text, chr(10) ORDER BY m.block_no) AS html
        |   FROM mb5 m JOIN mb7 USING (doc_id, run) WHERE m.is_content
        |   GROUP BY m.doc_id),
        | ${htmlStripCtesSql("mc")},
        | $htmlPageTailSql""".stripMargin),

    // x152 — redirect following in the crawl loop (r17, VERDICT r16
    // #3): ~15-20% of live fetches answer 3xx, and a frontier that
    // drops them loses the target URLs entirely. Four arms per doc
    // (doc_id % 4): a single 301 with a ROOT-RELATIVE Location
    // (resolved against the redirect's own URL) landing on a stored
    // page; a 3-step chain cut by redirectCap=2 (the RFC 9110 §15.4
    // chain bound — its final target must NOT be scheduled); a
    // redirect LOOP back to the crawled seed (terminated by the
    // crawled-set dedup, not the cap); and a CROSS-DOMAIN redirect to
    // a CDN whose robots disallow the target path (admission re-runs
    // on the TARGET domain). maxHops=4 yet only hops 1-2 can emit —
    // the loop's early-stop on an empty hop is part of what the row
    // set proves. Oracle: both hops unrolled as CTEs with the same
    // resolve/dedup/cap/admission chain (locations land in canonical
    // form by construction, so the mirror's resolve IS the canon —
    // the Spark side still runs canonicalizeUrl over them).
    "x152_redirect_follow" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val m = (col("doc_id") % 5).cast("string")
      val site = concat(lit("https://s"), m, lit(".example-"), m,
        lit(".com"))
      val idS = col("doc_id").cast("string")
      val arm = col("doc_id") % 4
      val rUrl = concat(site, lit("/r/"), idS)
      val seeds = d.select(rUrl.as("canon_url"))
      // ONE scan builds all redirect rows (the loop re-reads this
      // frame every hop — a 4-branch union re-ran 4 scans per hop)
      val redirects = d.select(explode(array(
          struct(rUrl.as("canon_url"),
            when(arm === 0, concat(lit("/t/"), idS))
              .when(arm === 1, concat(lit("/c1/"), idS))
              .when(arm === 2, concat(lit("/la/"), idS))
              .otherwise(concat(lit("https://cdn.example.net/x/"), idS))
              .as("location")),
          struct(when(arm === 1, concat(site, lit("/c1/"), idS))
              .when(arm === 2, concat(site, lit("/la/"), idS))
              .as("canon_url"),
            when(arm === 1, concat(lit("/c2/"), idS))
              .when(arm === 2, concat(lit("/r/"), idS))
              .as("location")),
          struct(when(arm === 1, concat(site, lit("/c2/"), idS))
              .as("canon_url"),
            when(arm === 1, concat(lit("/t/"), idS)).as("location"))))
          .as("e"))
        .select(col("e.canon_url").as("canon_url"),
          col("e.location").as("location"))
        .filter(col("canon_url").isNotNull)
      val pages = d.filter(arm <= 1).select(
        concat(site, lit("/t/"), idS).as("canon_url"),
        lit("<html><body></body></html>").as("html"))
      val doms = d.select(concat(lit("example-"), m, lit(".com"))
          .as("reg_domain")).distinct()
        .unionByName(s.range(1).select(lit("example.net").as("reg_domain")))
      val robots = doms.withColumn("robots_txt",
        when(col("reg_domain") === "example.net",
          lit("User-agent: graftbot\nDisallow: /x\n\n" +
            "User-agent: *\nDisallow: /\n"))
        .otherwise(
          lit("User-agent: graftbot\nDisallow: /private\n\n" +
            "User-agent: *\nDisallow: /\n")))
      val rules = RobotsOps.parseRules(robots, "graftbot")
      CrawlOps.crawlFrontierIterate(pages, seeds, rules, maxHops = 4,
          perHostCap = 1000000, redirects = redirects, redirectCap = 2)
        .withColumn("path_kind",
          regexp_extract(col("canon_url"), "/(t|c1|c2|la|x)/", 1))
        .groupBy("hop", "path_kind")
        .agg(count(lit(1)).as("n_scheduled"),
          sum(when(col("fetched"), 1L).otherwise(0L)).as("n_fetched"),
          min("canon_url").as("first_url"),
          max("canon_url").as("last_url"))
        .orderBy("hop", "path_kind")
    }, oracle =
      // x152 mirror: the same redirect/page/robots synthesis, both
      // productive hops unrolled by ONE generator (redirectHopCtesSql —
      // resolve via the shared resolve CASE, depth+1 with the cap, min
      // depth per URL, NOT-EXISTS dedup against the cumulative crawled
      // set, longest-match admission on the TARGET domain), plus the
      // provably-empty hop 3 for loop-termination fidelity.
      s"""WITH rdq AS (SELECT doc_id, doc_id % 4 AS arm,
        |     'https://s' || (doc_id % 5)::VARCHAR || '.example-' ||
        |       (doc_id % 5)::VARCHAR || '.com' AS site
        |   FROM documents),
        | seeds AS (SELECT site || '/r/' || doc_id::VARCHAR AS canon_url
        |   FROM rdq),
        | redirs AS (
        |   SELECT site || '/r/' || doc_id::VARCHAR AS canon_url,
        |     CASE arm WHEN 0 THEN '/t/' || doc_id::VARCHAR
        |              WHEN 1 THEN '/c1/' || doc_id::VARCHAR
        |              WHEN 2 THEN '/la/' || doc_id::VARCHAR
        |              ELSE 'https://cdn.example.net/x/' ||
        |                doc_id::VARCHAR END AS location
        |   FROM rdq
        |   UNION ALL SELECT site || '/c1/' || doc_id::VARCHAR,
        |     '/c2/' || doc_id::VARCHAR FROM rdq WHERE arm = 1
        |   UNION ALL SELECT site || '/c2/' || doc_id::VARCHAR,
        |     '/t/' || doc_id::VARCHAR FROM rdq WHERE arm = 1
        |   UNION ALL SELECT site || '/la/' || doc_id::VARCHAR,
        |     '/r/' || doc_id::VARCHAR FROM rdq WHERE arm = 2),
        | pt AS (SELECT site || '/t/' || doc_id::VARCHAR AS canon_url
        |   FROM rdq WHERE arm <= 1),
        | fetchable AS (SELECT canon_url FROM pt
        |   UNION SELECT canon_url FROM redirs),
        | rdoms AS (SELECT DISTINCT 'example-' || (doc_id % 5)::VARCHAR ||
        |     '.com' AS reg_domain FROM documents
        |   UNION SELECT 'example.net'),
        | rb AS (SELECT reg_domain,
        |     CASE WHEN reg_domain = 'example.net'
        |       THEN 'User-agent: graftbot' || chr(10) || 'Disallow: /x'
        |         || chr(10) || chr(10) || 'User-agent: *' || chr(10) ||
        |         'Disallow: /' || chr(10)
        |       ELSE 'User-agent: graftbot' || chr(10) ||
        |         'Disallow: /private' || chr(10) || chr(10) ||
        |         'User-agent: *' || chr(10) || 'Disallow: /' || chr(10)
        |     END AS robots_txt
        |   FROM rdoms),
        | ${robotsParseCtesSql("rb", "graftbot")},
        | c0 AS (SELECT canon_url FROM seeds),
        | f0 AS (SELECT canon_url, 0 AS rdepth FROM seeds),
        | ${redirectHopCtesSql(1)},
        | ${redirectHopCtesSql(2)},
        | ${redirectHopCtesSql(3)},
        | sched AS (SELECT 1 AS hop, canon_url, fetched FROM f1s
        |   UNION ALL SELECT 2, canon_url, fetched FROM f2s
        |   UNION ALL SELECT 3, canon_url, fetched FROM f3s)
        | SELECT hop, regexp_extract(canon_url, '/(t|c1|c2|la|x)/', 1)
        |     AS path_kind,
        |   count(*)::BIGINT n_scheduled,
        |   sum(CASE WHEN fetched THEN 1 ELSE 0 END)::BIGINT n_fetched,
        |   min(canon_url) first_url, max(canon_url) last_url
        | FROM sched GROUP BY 1, 2 ORDER BY hop, path_kind""".stripMargin),

    // x153 — per-page robots META directives (r17; RFC 9309 §2.3.1's
    // HTML channel): the noindex/nofollow admission flags an indexing
    // or corpus pipeline honors alongside robots.txt. Seven arms
    // cycle attribute order (name-first / content-first), case
    // (NAME="ROBOTS", content="NONE"), the `none` combined token, an
    // explicit allow, a DIFFERENT meta whose content contains the
    // word "noindex" (name selectivity — must NOT count), and a
    // `noindex-x` near-token (token equality, never substring).
    "x153_meta_robots" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      d.select(col("doc_id"), metaRobotsFixture.as("html"))
        .select(col("doc_id"),
          HtmlOps.metaRobotsContent(col("html")).as("robots_content"),
          HtmlOps.metaNoindex(col("html")).as("noindex"),
          HtmlOps.metaNofollow(col("html")).as("nofollow"))
        .orderBy("doc_id")
    }, oracle =
      // x153 mirror: the same seven-arm synthesis, DuckDB's own
      // two-order robots-meta extraction (identical patterns) and the
      // same per-token trim+lower list test.
      s"""WITH mr AS (SELECT doc_id,
        |     '<html><head><title>t</title>' ||
        |     (CASE (doc_id % 7)
        |       WHEN 0 THEN '<meta name="viewport" content="noindex trap">'
        |       WHEN 1 THEN '<meta name="robots" content="noindex">'
        |       WHEN 2 THEN '<meta content="nofollow" name="robots">'
        |       WHEN 3 THEN '<meta name="robots" content="noindex, nofollow">'
        |       WHEN 4 THEN '<meta NAME="ROBOTS" content="NONE">'
        |       WHEN 5 THEN '<meta name="robots" content="index, follow">'
        |       ELSE '<meta name="robots" content="noindex-x">' END) ||
        |     '</head><body><p>Doc ' || doc_id::VARCHAR ||
        |     ' body text here.</p></body></html>' AS html
        |   FROM documents),
        | mc AS (SELECT doc_id, nullif(coalesce(
        |     nullif(regexp_extract(html,
        |       '(?is)<meta\\s(?:[^>]*?\\s)?name\\s*=\\s*"robots"\\s(?:[^>]*?\\s)?content\\s*=\\s*"([^"]*)"',
        |       1), ''),
        |     nullif(regexp_extract(html,
        |       '(?is)<meta\\s(?:[^>]*?\\s)?content\\s*=\\s*"([^"]*)"\\s(?:[^>]*?\\s)?name\\s*=\\s*"robots"',
        |       1), '')), '') AS rc
        |   FROM mr)
        | SELECT doc_id, rc AS robots_content,
        |   CASE WHEN rc IS NULL THEN false ELSE
        |     list_contains(list_transform(string_split(rc, ','),
        |       t -> lower(trim(t))), 'noindex') OR
        |     list_contains(list_transform(string_split(rc, ','),
        |       t -> lower(trim(t))), 'none') END AS noindex,
        |   CASE WHEN rc IS NULL THEN false ELSE
        |     list_contains(list_transform(string_split(rc, ','),
        |       t -> lower(trim(t))), 'nofollow') OR
        |     list_contains(list_transform(string_split(rc, ','),
        |       t -> lower(trim(t))), 'none') END AS nofollow
        | FROM mc ORDER BY doc_id""".stripMargin),

    // x154 — nofollow-aware link graph (r17): `rel="nofollow"` anchors
    // and page-level meta-nofollow pages contribute NO ranking edges
    // (the endorsement rule PageRank-class graphs run on), while plain
    // anchors do. Four anchors per page (plain cross-site, rel=
    // nofollow cross-site, rel="ugc nofollow" token list same-site,
    // rel="noopener noreferrer" same-site — which must NOT count);
    // every 7th page declares meta nofollow, excluding ALL its edges.
    // Rolled up per (src_domain, dst_domain).
    "x154_nofollow_edges" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(col("doc_id"), nofollowBase.as("base"),
        nofollowLinkFixture.as("html"))
      val anchors = pages.select(col("base"),
        HtmlOps.metaNofollow(col("html")).as("page_nofollow"),
        explode(HtmlOps.extractAnchorRels(col("html"))).as("a"))
      anchors
        .select(col("base"), col("page_nofollow"),
          col("a.nofollow").as("anchor_nofollow"),
          UrlOps.canonicalizeUrl(UrlOps.resolveUrl(col("base"),
            col("a.href"))).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy(UrlOps.domainOf(col("base")).as("src_domain"),
          UrlOps.domainOf(col("dst")).as("dst_domain"))
        .agg(count(lit(1)).as("n_edges"),
          sum(when(!col("page_nofollow") && !col("anchor_nofollow"), 1L)
            .otherwise(0L)).as("n_followed"),
          sum(when(col("anchor_nofollow"), 1L).otherwise(0L))
            .as("n_anchor_nofollow"),
          sum(when(col("page_nofollow"), 1L).otherwise(0L))
            .as("n_page_nofollow"))
        .orderBy("src_domain", "dst_domain")
    }, oracle =
      // x154 mirror: the same four-anchor synthesis, DuckDB's own
      // anchor-element extraction, open-tag slice, whitespace-token rel
      // test, page-meta test, the absolute/root-relative resolve arms
      // the fixture plants, and the identical rollup.
      s"""WITH nf1 AS (SELECT doc_id,
        |     'https://s' || (doc_id % 5)::VARCHAR || '.example-' ||
        |       (doc_id % 5)::VARCHAR || '.com/p/' || doc_id::VARCHAR
        |       AS base,
        |     '<html><head>' ||
        |     (CASE WHEN doc_id % 7 = 0
        |       THEN '<meta name="robots" content="nofollow">'
        |       ELSE '' END) ||
        |     '</head><body>' ||
        |     '<a href="https://s' || ((doc_id + 1) % 5)::VARCHAR ||
        |       '.example-' || ((doc_id + 1) % 5)::VARCHAR || '.com/f/' ||
        |       doc_id::VARCHAR || '">plain</a>' ||
        |     '<a href="https://s' || ((doc_id + 1) % 5)::VARCHAR ||
        |       '.example-' || ((doc_id + 1) % 5)::VARCHAR || '.com/nf/' ||
        |       doc_id::VARCHAR || '" rel="nofollow">nf</a>' ||
        |     '<a rel="ugc nofollow" href="/ugc/' || doc_id::VARCHAR ||
        |       '">ugc</a>' ||
        |     '<a href="/ok/' || doc_id::VARCHAR ||
        |       '" rel="noopener noreferrer">ok</a>' ||
        |     '</body></html>' AS html
        |   FROM documents),
        | nfp AS (SELECT doc_id, base, html,
        |     nullif(coalesce(
        |       nullif(regexp_extract(html,
        |         '(?is)<meta\\s(?:[^>]*?\\s)?name\\s*=\\s*"robots"\\s(?:[^>]*?\\s)?content\\s*=\\s*"([^"]*)"',
        |         1), ''),
        |       nullif(regexp_extract(html,
        |         '(?is)<meta\\s(?:[^>]*?\\s)?content\\s*=\\s*"([^"]*)"\\s(?:[^>]*?\\s)?name\\s*=\\s*"robots"',
        |         1), '')), '') AS rc
        |   FROM nf1),
        | nfm AS (SELECT doc_id, base, html,
        |     CASE WHEN rc IS NULL THEN false ELSE
        |       list_contains(list_transform(string_split(rc, ','),
        |         t -> lower(trim(t))), 'nofollow') OR
        |       list_contains(list_transform(string_split(rc, ','),
        |         t -> lower(trim(t))), 'none') END AS pnf
        |   FROM nfp),
        | ae AS (SELECT base, pnf, unnest(regexp_extract_all(html,
        |     '(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*"[^"]*"[^>]*>.*?</a\\s*>',
        |     0)) e
        |   FROM nfm),
        | ao AS (SELECT base, pnf,
        |     regexp_extract(e, '(?is)^(<a[^>]*>)', 1) op FROM ae),
        | ax AS (SELECT base, pnf,
        |     trim(regexp_extract(op,
        |       '(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*"([^"]*)"', 1)) href,
        |     list_contains(list_transform(string_split_regex(
        |       regexp_extract(op, '(?is)\\srel\\s*=\\s*"([^"]*)"', 1),
        |       '\\s+'), t -> lower(trim(t))), 'nofollow') anf
        |   FROM ao),
        | ax2 AS (SELECT base, pnf, anf,
        |     CASE WHEN regexp_matches(href,
        |         '^[A-Za-z][A-Za-z0-9+.-]*://') THEN href
        |       ELSE regexp_extract(base,
        |         '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) || href
        |     END AS dst
        |   FROM ax WHERE href <> '')
        | SELECT
        |   regexp_extract(regexp_extract(base, '^[a-z]+://([^/]+)', 1),
        |     '([^.]+\\.[^.]+)$$', 1) AS src_domain,
        |   regexp_extract(regexp_extract(dst, '^[a-z]+://([^/]+)', 1),
        |     '([^.]+\\.[^.]+)$$', 1) AS dst_domain,
        |   count(*)::BIGINT n_edges,
        |   sum(CASE WHEN NOT pnf AND NOT anf THEN 1 ELSE 0 END)::BIGINT
        |     n_followed,
        |   sum(CASE WHEN anf THEN 1 ELSE 0 END)::BIGINT n_anchor_nofollow,
        |   sum(CASE WHEN pnf THEN 1 ELSE 0 END)::BIGINT n_page_nofollow
        | FROM ax2 GROUP BY 1, 2 ORDER BY src_domain, dst_domain""".stripMargin),

    // x155 — canonical-link clustering (r17; RFC 6596): URL variants
    // that SYNTACTIC canonicalization cannot merge (?page=2 is a real
    // query param, m.-host is a real host) all declare the same
    // `<link rel="canonical">`, so declared-canonical clustering is
    // the dedup tier ABOVE UrlOps.canonicalizeUrl. Three variants per
    // article: the article itself (no canonical link — self by
    // default), a ?page=2 variant with a ROOT-RELATIVE canonical
    // href, and an m.-host variant with a PROTOCOL-RELATIVE one
    // (href-before-rel attribute order) — both resolve through
    // effectiveBase + resolveUrl like any reference.
    "x155_canonical_cluster" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val v = col("doc_id") % 3
      val gS = expr("doc_id div 3").cast("string")
      val gm = expr("(doc_id div 3) % 5").cast("string")
      val article = concat(lit("https://s"), gm, lit(".example-"), gm,
        lit(".com/article/"), gS)
      val pageUrl = when(v === 0, article)
        .when(v === 1, concat(article, lit("?page=2")))
        .otherwise(concat(lit("https://m.s"), gm, lit(".example-"), gm,
          lit(".com/article/"), gS))
      val canonTag = when(v === 1,
          concat(lit("<link rel=\"canonical\" href=\"/article/"), gS,
            lit("\">")))
        .when(v === 2,
          concat(lit("<link href=\"//s"), gm, lit(".example-"), gm,
            lit(".com/article/"), gS, lit("\" rel=\"canonical\">")))
        .otherwise(lit(""))
      val html = concat(lit("<html><head>"), canonTag,
        lit("</head><body><p>Variant "), v.cast("string"),
        lit(" of article "), gS, lit(".</p></body></html>"))
      // base and href are columns of their own projection: nested into
      // resolveUrl's references they made one method past 64 KB
      d.select(pageUrl.as("url"), html.as("html"))
        .select(col("url"),
          UrlOps.effectiveBase(col("url"),
            HtmlOps.baseHref(col("html"))).as("base"),
          HtmlOps.canonicalHref(col("html")).as("href"))
        .select(col("url"),
          UrlOps.canonicalizeUrl(coalesce(
            UrlOps.resolveUrl(col("base"), col("href")),
            col("url"))).as("canonical"))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_variants"),
          sum(when(col("url") === col("canonical"), 1L).otherwise(0L))
            .as("n_self"),
          min("url").as("first_variant"),
          max("url").as("last_variant"))
        .orderBy("canonical")
    }, oracle =
      // x155 mirror: the same three-variant synthesis; the canonical is
      // the article URL by construction for every variant (v=0 self,
      // v=1 root-relative resolve, v=2 protocol-relative resolve), so
      // the mirror groups on it directly — a Spark-side extraction or
      // resolve defect lands on a different canonical and the hash
      // catches it.
      s"""WITH cc AS (SELECT doc_id, (doc_id % 3) v,
        |     (doc_id // 3) g, ((doc_id // 3) % 5) gm FROM documents),
        | cu AS (SELECT doc_id, v,
        |     'https://s' || gm::VARCHAR || '.example-' || gm::VARCHAR ||
        |       '.com/article/' || g::VARCHAR AS article,
        |     CASE v
        |       WHEN 0 THEN 'https://s' || gm::VARCHAR || '.example-' ||
        |         gm::VARCHAR || '.com/article/' || g::VARCHAR
        |       WHEN 1 THEN 'https://s' || gm::VARCHAR || '.example-' ||
        |         gm::VARCHAR || '.com/article/' || g::VARCHAR || '?page=2'
        |       ELSE 'https://m.s' || gm::VARCHAR || '.example-' ||
        |         gm::VARCHAR || '.com/article/' || g::VARCHAR
        |     END AS url
        |   FROM cc)
        | SELECT article AS canonical, count(*)::BIGINT n_variants,
        |   sum(CASE WHEN url = article THEN 1 ELSE 0 END)::BIGINT n_self,
        |   min(url) first_variant, max(url) last_variant
        | FROM cu GROUP BY article ORDER BY canonical""".stripMargin),

    // x156 — meta-charset sniffing (r17; WHATWG §13.2.3.2): most real
    // servers send `Content-Type: text/html` with NO charset — the
    // bytes then self-declare via `<meta charset>` or the legacy
    // http-equiv form, and the HTTP header WINS when present. Three
    // arms: headerless UTF-8 bytes + modern meta; headerless
    // windows-1252 bytes + legacy meta; a header-wins conflict
    // (header iso-8859-1 beats a planted meta utf-8 — mis-precedence
    // would mojibake the accent line). Same WARC → HTTP → decode →
    // C4 chain as x147; oracle = the independent recompute.
    "x156_meta_charset" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = WarcOps.responses(
        warcMetaCharsetFixture(d), "file_id", "content")
      val decoded = HttpOps.parseResponses(pages, "payload")
        .filter(col("status_code") === 200 &&
          col("content_type") === "text/html")
        .select(uriDocId,
          coalesce(col("charset"), HtmlOps.metaCharset(col("body")))
            .as("charset_used"),
          col("body"))
        .select(col("doc_id"), col("charset_used"),
          HttpOps.decodeBody(col("body"), col("charset_used")).as("html"))
      HtmlOps.c4Pages(decoded, "doc_id", "html")
        .join(decoded.select("doc_id", "charset_used"), Seq("doc_id"))
        .select("doc_id", "charset_used", "n_lines", "text")
        .orderBy("doc_id")
    }, oracle =
      // x156 mirror: the independently-recomputed page target (the x147
      // convention — the byte round trips are the Spark side's to
      // prove) plus the arm-determined charset the sniff must land on.
      s"""${accentPagesSql(Some(1))},
        | $htmlPagesSql
        | SELECT doc_id,
        |   CASE (doc_id % 3) WHEN 0 THEN 'utf-8'
        |     WHEN 1 THEN 'windows-1252'
        |     ELSE 'iso-8859-1' END AS charset_used,
        |   n_lines, text FROM pg
        | $c4PageWhereSql
        | ORDER BY doc_id""".stripMargin),

    // x157 — per-domain boilerplate-line removal (r17;
    // HtmlOps.domainCleanPages — the site-granularity frequency rule
    // of CCNet §3.1 / RefinedWeb §3.1): two footer sentences repeat on
    // EVERY page of a domain (dropped from all of them, first page
    // included — unlike x128's keep-first corpus dedup), while a
    // pair-keyed promo line appears on exactly TWO same-domain pages
    // (under minPages — kept on both). Unique article paragraphs must
    // survive untouched.
    "x157_domain_boilerplate" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(col("doc_id"),
        concat(lit("example-"), (col("doc_id") % 5).cast("string"),
          lit(".com")).as("dom"),
        boilerplateFixture.as("html"))
      HtmlOps.domainCleanPages(pages, "doc_id", "html", "dom")
        .select("doc_id", "n_lines", "text")
        .orderBy("doc_id")
    }, oracle =
      // x157 mirror: the same synthesis, the shared strip/line CTEs,
      // DuckDB's own per-domain line census (count DISTINCT pages per
      // (domain, line), >= 3), NOT-EXISTS removal, and the same page
      // tail WITHOUT the corpus keep-first dedup (domainCleanPages
      // removes, never keeps-first).
      s"""WITH hb AS (SELECT doc_id,
        |     '<html><body><p>' ||
        |     replace(text, ' window ', '.</p><p>') || '.</p>' ||
        |     '<p>Every visitor must accept the cookie policy of site ' ||
        |       (doc_id % 5)::VARCHAR || ' now.</p>' ||
        |     '<p>All content on site ' || (doc_id % 5)::VARCHAR ||
        |       ' is reserved by the owners.</p>' ||
        |     '<p>Pair ' || (doc_id // 10)::VARCHAR || '-' ||
        |       (doc_id % 5)::VARCHAR ||
        |       ' subscribers receive the special promo today.</p>' ||
        |     '</body></html>' AS html
        |   FROM documents),
        | ${htmlStripCtesSql("hb")},
        | cen AS (SELECT (doc_id % 5) dom, line FROM kept
        |   GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3),
        | kl AS (SELECT k.doc_id, k.line_no, k.line FROM kept k
        |   WHERE NOT EXISTS (SELECT 1 FROM cen c
        |     WHERE c.dom = (k.doc_id % 5) AND c.line = k.line)),
        | pg AS (SELECT doc_id, count(*)::BIGINT AS n_lines,
        |     string_agg(line, chr(10) ORDER BY line_no) AS text
        |   FROM kl GROUP BY doc_id)
        | SELECT doc_id, n_lines, text FROM pg
        | $c4PageWhereSql
        | ORDER BY doc_id""".stripMargin),

    // x158 — crawler-trap detection (r17; CrawlOps.trapTemplates —
    // Mercator §3.3's trap problem): per (domain, URL template), how
    // many URLs minted vs distinct payloads served. Three spaces per
    // domain: articles (every URL its own payload — never a trap), a
    // calendar space (every URL the SAME payload — flags once the
    // domain mints >= 20), and a session-id query space (3 payloads —
    // the sorted-param-NAMES template collapses every sid). Integral
    // basis points; exact two-stage distinct.
    "x158_trap_templates" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val m = (col("doc_id") % 5).cast("string")
      val site = concat(lit("https://s"), m, lit(".example-"), m,
        lit(".com"))
      val idS = col("doc_id").cast("string")
      val urls = d.select(explode(array(
          struct(concat(site, lit("/art/"), idS).as("url"),
            md5(concat(lit("a"), idS)).as("digest")),
          struct(concat(site, lit("/cal/2020/"), idS).as("url"),
            md5(concat(lit("cal"), m)).as("digest")),
          struct(concat(site, lit("/list?sid="), idS, lit("&page=1"))
              .as("url"),
            md5(concat(lit("s"), m, (col("doc_id") % 3).cast("string")))
              .as("digest")))).as("e"))
        .select(col("e.url").as("url"), col("e.digest").as("digest"))
      CrawlOps.trapTemplates(urls)
        .orderBy("reg_domain", "template")
    }, oracle =
      // x158 mirror: the synthesis constructs the templates the Spark
      // side must COMPUTE (digit runs -> {n}, sorted query names) — a
      // template-kernel defect lands on different strings and the hash
      // catches it; the rollup is the same exact two-stage distinct.
      s"""WITH tu AS (
        |   SELECT (doc_id % 5) m, '/art/{n}' tmpl,
        |     md5('a' || doc_id::VARCHAR) digest FROM documents
        |   UNION ALL SELECT (doc_id % 5), '/cal/{n}/{n}',
        |     md5('cal' || (doc_id % 5)::VARCHAR) FROM documents
        |   UNION ALL SELECT (doc_id % 5), '/list?page&sid',
        |     md5('s' || (doc_id % 5)::VARCHAR || (doc_id % 3)::VARCHAR)
        |     FROM documents),
        | g AS (SELECT 'example-' || m::VARCHAR || '.com' reg_domain,
        |     tmpl AS "template", count(*)::BIGINT n_urls,
        |     count(DISTINCT digest)::BIGINT n_digests
        |   FROM tu GROUP BY 1, 2)
        | SELECT reg_domain, "template", n_urls, n_digests,
        |   ((n_digests * 10000) // greatest(n_urls, 1))::BIGINT
        |     distinct_bp,
        |   (n_urls >= 20 AND
        |    ((n_digests * 10000) // greatest(n_urls, 1)) <= 2000)
        |     AS is_trap
        | FROM g ORDER BY reg_domain, "template"""".stripMargin),

    // x159 — conditional-revalidation planning (r17;
    // CrawlOps.revalidationPlan — RFC 9111 §4.3.1): the next fetch of
    // each stored URL carries If-None-Match when its LATEST capture
    // had an ETag, If-Modified-Since when only Last-Modified,
    // unconditional otherwise — ranked by the same capture-history
    // priority as x149. The x149 three-capture synthesis, with ETags
    // on a third of URLs and Last-Modified on two thirds (so every
    // mode arm is populated and etag-beats-lastmod is exercised).
    // r18 arm (VERDICT r17 #6): every 5th URL carries a sitemap
    // lastmod NEWER than its last capture — declared_newer upgrades
    // it to an UNCONDITIONAL fetch (even over an ETag: a conditional
    // cannot 304 when the change is already evidenced), drops the
    // validator, and boosts priority by 10000.
    "x159_revalidation_plan" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val caps = captureHistory(d)
        .withColumn("digest", md5(concat(col("doc_id").cast("string"),
          lit("_v"), col("version").cast("string"))))
        .withColumn("etag",
          when(col("doc_id") % 3 === 0,
            concat(lit("\"v"), col("k").cast("string"), lit("-"),
              col("doc_id").cast("string"), lit("\"")))
            .otherwise(lit(null).cast("string")))
        .withColumn("last_modified",
          when(col("doc_id") % 3 <= 1,
            concat(lit("Wed, 0"), (lit(1) + col("k") * 2).cast("string"),
              lit(" Jan 2020 00:00:00 GMT")))
            .otherwise(lit(null).cast("string")))
      val sitemap = d.filter(col("doc_id") % 5 === 0)
        .select(docUrl.as("url"), lit("2020-02-10").as("lastmod"))
      CrawlOps.revalidationPlan(caps, "2020-02-15",
          sitemapLastmod = sitemap)
        .orderBy("url")
    }, oracle =
      // x159 mirror: the x149 capture synthesis with validator arms,
      // DuckDB's own latest-capture window (same date-desc digest-desc
      // tie-break), the declared-newer-beats-etag-beats-lastmod mode
      // CASE, and the same integral priority chain with the +10000
      // declared-newer bonus (every 5th URL's sitemap row).
      s"""WITH caps AS (SELECT
        |     'https://example.com/doc/' || doc_id::VARCHAR AS url,
        |     '2020-01-' ||
        |       lpad((1 + (doc_id % 9) + t.k * 7)::VARCHAR, 2, '0')
        |       AS capture_date,
        |     md5(doc_id::VARCHAR || '_v' ||
        |       (CASE WHEN doc_id % 3 = 0 THEN t.k
        |             WHEN doc_id % 3 = 1 THEN
        |               (CASE WHEN t.k >= 2 THEN 1 ELSE 0 END)
        |             ELSE 0 END)::VARCHAR) AS digest,
        |     CASE WHEN doc_id % 3 = 0 THEN '"v' || t.k::VARCHAR || '-' ||
        |       doc_id::VARCHAR || '"' END AS etag,
        |     CASE WHEN doc_id % 3 <= 1 THEN 'Wed, 0' ||
        |       (1 + t.k * 2)::VARCHAR || ' Jan 2020 00:00:00 GMT'
        |       END AS lm
        |   FROM documents
        |   CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) t),
        | lt AS (SELECT url, etag, lm, row_number() OVER
        |     (PARTITION BY url ORDER BY capture_date DESC, digest DESC)
        |     rk FROM caps),
        | l1 AS (SELECT url, etag, lm FROM lt WHERE rk = 1),
        | $captureChangesSql,
        | sm AS (SELECT 'https://example.com/doc/' || doc_id::VARCHAR
        |       AS url, '2020-02-10' AS lastmod
        |   FROM documents WHERE doc_id % 5 = 0),
        | ag2 AS (SELECT ag.url, n_changes,
        |     date_diff('day', f::DATE, l::DATE)::BIGINT span_days,
        |     date_diff('day', l::DATE, DATE '2020-02-15')::BIGINT
        |       staleness_days,
        |     (sm.lastmod IS NOT NULL AND sm.lastmod::DATE > l::DATE)
        |       AS declared_newer
        |   FROM ag LEFT JOIN sm USING (url))
        | SELECT a.url,
        |   CASE WHEN a.declared_newer THEN 'unconditional'
        |        WHEN l1.etag IS NOT NULL THEN 'if-none-match'
        |        WHEN l1.lm IS NOT NULL THEN 'if-modified-since'
        |        ELSE 'unconditional' END AS mode,
        |   CASE WHEN a.declared_newer THEN NULL
        |        ELSE coalesce(l1.etag, l1.lm) END AS validator,
        |   a.declared_newer,
        |   staleness_days,
        |   ((n_changes * 10000) // greatest(span_days, 1))::BIGINT
        |     change_rate_bp,
        |   (staleness_days *
        |     ((n_changes * 10000) // greatest(span_days, 1)) +
        |     (CASE WHEN a.declared_newer THEN 10000 ELSE 0 END))::BIGINT
        |     priority
        | FROM ag2 a JOIN l1 USING (url) ORDER BY url""".stripMargin),

    // x165 — deduplicated WARC store round trip (r17; WARC 1.1
    // §6.7.2, the Common Crawl storage convention): write the x149
    // capture history as a DEDUPLICATED store — first capture per
    // payload digest a full response, every refetch of unchanged
    // content a body-less revisit — then parse back, resolve the
    // revisits by digest, and recover every capture's payload from
    // its original. A third of URLs change every capture (no
    // revisits), a third once (one revisit then a new response), a
    // third never (two revisits); row-identity of the recovered
    // payloads proves the write/resolve pair is a lossless inverse.
    // x166 — BOM charset precedence (r17; WHATWG §13.2.3.2's ACTUAL
    // order: byte-order mark > Content-Type header > meta): a UTF-8
    // BOM must beat a LYING iso-8859-1 header (mis-precedence
    // mojibakes the accent line), and UTF-16LE/BE bodies — whose
    // interleaved NULs make header/meta sniffing useless, exactly why
    // the BOM outranks them — must decode through their BOMs with the
    // leading U+FEFF stripped. Fourth arm = no BOM, header utf-8 (the
    // coalesce falls through). All four arms land row-identical on
    // the same recomputed C4 target.
    "x166_bom_charset" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val bomArm = col("doc_id") % 4
      val view = when(bomArm === 0, concat(lit("ï»¿"),
          decode(encode(accentPage, "UTF-8"), "ISO-8859-1")))
        .when(bomArm === 1, concat(lit("ÿþ"),
          decode(encode(accentPage, "UTF-16LE"), "ISO-8859-1")))
        .when(bomArm === 2, concat(lit("þÿ"),
          decode(encode(accentPage, "UTF-16BE"), "ISO-8859-1")))
        .otherwise(decode(encode(accentPage, "UTF-8"), "ISO-8859-1"))
      val ct = when(bomArm === 0, lit("text/html; charset=iso-8859-1"))
        .when(bomArm === 3, lit("text/html; charset=utf-8"))
        .otherwise(lit("text/html"))
      val msgs = d.select(col("doc_id"),
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct,
          lit("\r\n\r\n"), view).as("msg"))
      val routed = HttpOps.parseResponses(msgs, "msg")
        .select(col("doc_id"),
          coalesce(HttpOps.bomCharset(col("body")), col("charset"),
            HtmlOps.metaCharset(col("body"))).as("charset_used"),
          col("body"))
        .select(col("doc_id"), col("charset_used"),
          HttpOps.stripBom(HttpOps.decodeBody(col("body"),
            col("charset_used"))).as("html"))
      HtmlOps.c4Pages(routed, "doc_id", "html")
        .join(routed.select("doc_id", "charset_used"), Seq("doc_id"))
        .select("doc_id", "charset_used", "n_lines", "text")
        .orderBy("doc_id")
    }, oracle =
      // x166 mirror: the independently-recomputed accent target (DuckDB
      // cannot decode UTF-16 — the byte round trips are the Spark
      // side's to prove) plus the arm-determined charset the precedence
      // chain must land on.
      s"""${accentPagesSql(None)},
        | $htmlPagesSql
        | SELECT doc_id,
        |   CASE (doc_id % 4) WHEN 1 THEN 'utf-16le'
        |     WHEN 2 THEN 'utf-16be'
        |     ELSE 'utf-8' END AS charset_used,
        |   n_lines, text FROM pg
        | $c4PageWhereSql
        | ORDER BY doc_id""".stripMargin),

    "x165_dedup_store" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val caps = storeCaptures(d)
      val recs = WarcOps.dedupStoreRecords(caps)
        .withColumn("file_id", expr("doc_id div 8"))
      val files = respread(recs.groupBy("file_id")
        .agg(concat_ws("", array_sort(collect_list(
            struct(col("doc_id"), col("k"), col("record"))))
          .getField("record")).as("content")))
      // parsed feeds THREE consumers (the response rows, the revisit
      // resolution, and the revisit payload join) — without the barrier
      // the synth+assembly+parse chain re-ran per consumer (r20, the
      // x125 multi-consumer discipline; fixture-file-count-sized rows)
      val parsed = WarcOps.parseRecords(files, "file_id", "content")
        .localCheckpoint()
      val resp = parsed.filter(col("warc_type") === "response")
      val responses = resp.select(col("target_uri").as("url"),
        col("warc_date").as("capture_date"),
        lit("response").as("warc_type"),
        lit(null).cast("string").as("original_uri"),
        col("payload").as("payload_text"))
      val revisits = WarcOps.resolveRevisits(parsed)
        .join(resp.select(col("payload_digest"),
          col("payload").as("payload_text")), Seq("payload_digest"))
        .select(col("target_uri").as("url"),
          col("warc_date").as("capture_date"),
          lit("revisit").as("warc_type"), col("original_uri"),
          col("payload_text"))
      responses.unionByName(revisits)
        .orderBy("url", "capture_date")
    }, oracle =
      // x165 mirror: the same capture/payload synthesis, DuckDB's own
      // first-per-digest window (same date/url order), the same
      // response/revisit classification, and payload recovery through
      // the digest join — the store strings themselves are the Spark
      // side's to prove.
      s"""WITH ${captureHistorySql("dsc")},
        | dsp AS (SELECT url, capture_date,
        |     'Body v' || ver::VARCHAR || ' of doc ' ||
        |       regexp_extract(url, '/doc/([0-9]+)$$', 1) || '.'
        |       AS payload
        |   FROM dsc),
        | dsr AS (SELECT *, md5(payload) AS digest,
        |     row_number() OVER (PARTITION BY md5(payload)
        |       ORDER BY capture_date, url) AS rn
        |   FROM dsp),
        | dso AS (SELECT digest, url AS orig_uri,
        |     payload AS orig_payload
        |   FROM dsr WHERE rn = 1)
        | SELECT r.url, r.capture_date,
        |   CASE WHEN r.rn = 1 THEN 'response' ELSE 'revisit' END
        |     AS warc_type,
        |   CASE WHEN r.rn = 1 THEN NULL ELSE o.orig_uri END
        |     AS original_uri,
        |   o.orig_payload AS payload_text
        | FROM dsr r JOIN dso o USING (digest)
        | ORDER BY url, capture_date""".stripMargin),

    // x167 — dedup-store savings audit (r17): the table a storage
    // owner reads before turning revisit-writing on — per change
    // class (never / once / every-capture), how many payload chars
    // the dedup store avoided writing. Expected shape by
    // construction: the always-changing third saves 0 bp, the
    // change-once third ~1/3 of its payload bytes, the never-changing
    // third ~2/3 (two of three captures collapse to revisits).
    "x167_store_savings" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val caps = storeCaptures(d)
      WarcOps.dedupStoreRecords(caps)
        .groupBy((col("doc_id") % 3).as("change_class"))
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("is_revisit"), 1L).otherwise(0L))
            .as("n_revisits"),
          sum(length(col("payload")).cast(LongType)).as("payload_chars"),
          sum(when(!col("is_revisit"),
            length(col("payload")).cast(LongType)).otherwise(0L))
            .as("stored_payload_chars"))
        .withColumn("saved_bp", expr(
          "(payload_chars - stored_payload_chars) * 10000" +
            " div greatest(payload_chars, 1L)"))
        .orderBy("change_class")
    }, oracle =
      // x167 mirror: the x165 synthesis + window, rolled up per change
      // class with the same integral savings arithmetic.
      s"""WITH ssc AS (SELECT doc_id, t.k,
        |     'https://example.com/doc/' || doc_id::VARCHAR AS url,
        |     '2020-01-' ||
        |       lpad((1 + (doc_id % 9) + t.k * 7)::VARCHAR, 2, '0')
        |       AS capture_date,
        |     'Body v' || (CASE WHEN doc_id % 3 = 0 THEN t.k
        |           WHEN doc_id % 3 = 1 THEN
        |             (CASE WHEN t.k >= 2 THEN 1 ELSE 0 END)
        |           ELSE 0 END)::VARCHAR || ' of doc ' ||
        |       doc_id::VARCHAR || '.' AS payload
        |   FROM documents
        |   CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) t),
        | ssr AS (SELECT doc_id, payload,
        |     row_number() OVER (PARTITION BY md5(payload)
        |       ORDER BY capture_date, url) AS rn
        |   FROM ssc),
        | ssg AS (SELECT (doc_id % 3) AS change_class,
        |     count(*)::BIGINT n_records,
        |     sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT n_revisits,
        |     sum(length(payload))::BIGINT payload_chars,
        |     sum(CASE WHEN rn = 1 THEN length(payload)
        |       ELSE 0 END)::BIGINT stored_payload_chars
        |   FROM ssr GROUP BY 1)
        | SELECT change_class, n_records, n_revisits, payload_chars,
        |   stored_payload_chars,
        |   ((payload_chars - stored_payload_chars) * 10000 //
        |     greatest(payload_chars, 1))::BIGINT AS saved_bp
        | FROM ssg ORDER BY change_class""".stripMargin),

    // x164 — WET conversion-record round trip (r17): the OUTPUT
    // direction of the first mile — extracted pages re-wrapped as
    // WARC `conversion` records (the Common Crawl WET artifact),
    // grouped into files, then parsed BACK through the same ingest
    // tier and utf-8-decoded. Text carries real non-ASCII (the accent
    // line), so Content-Length is a true BYTE count via the UTF-8
    // view; row-identity of the recovered text against the
    // independently-recomputed C4 target proves write → parse →
    // decode lossless, and length_ok=true on every row proves the
    // byte accounting.
    "x164_wet_roundtrip" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = HtmlOps.c4Pages(
        d.select(col("doc_id"), accentPage.as("html")), "doc_id", "html")
      val wet = pages.select(col("doc_id"),
        expr("doc_id div 8").as("file_id"),
        WarcOps.conversionRecord(docUrl, lit("2020-02-01T00:00:00Z"),
          col("text")).as("r"))
      val files = warcFiles(wet, "doc_id")
      WarcOps.parseRecords(files, "file_id", "content")
        .filter(col("warc_type") === "conversion")
        .select(uriDocId,
          col("refers_to"), col("content_length"), col("length_ok"),
          HttpOps.decodeBody(col("payload"), lit("utf-8")).as("text"))
        .orderBy("doc_id")
    }, oracle =
      // x164 mirror: the independently-recomputed C4 accent target (the
      // x150 convention), with Content-Length as DuckDB's own UTF-8
      // byte count (octet_length) and length_ok true by construction —
      // the Spark side must land the SAME bytes through write → split →
      // slice → decode.
      s"""${accentPagesSql(None)},
        | $htmlPagesSql
        | SELECT doc_id,
        |   'https://example.com/doc/' || doc_id::VARCHAR AS refers_to,
        |   octet_length(encode(text))::BIGINT AS content_length,
        |   true AS length_ok, text
        | FROM pg
        | $c4PageWhereSql
        | ORDER BY doc_id""".stripMargin),

    // x162 — magic-byte media-type sniffing (r17; the WHATWG
    // MIME-sniffing idea at the signature tier): real servers
    // mislabel constantly — a pipeline that trusts Content-Type
    // routes PDFs and gzip blobs into the HTML tier. Five arms: an
    // honest html page; a PDF served as text/html (the lying server —
    // the signature must OVERRIDE); a PNG served as image/png
    // (agreement); a gzip blob served as text/plain (override); and
    // an html page served as application/octet-stream (the sniffable
    // declaration — the `<` heuristic rescues it). Signature bytes
    // travel as latin1-view chars, constructed with chr() in the
    // mirror.
    "x162_media_sniff" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val arm = col("doc_id") % 5
      val idS = col("doc_id").cast("string")
      val body = when(arm === 0,
          concat(lit("<html><body>page "), idS, lit("</body></html>")))
        .when(arm === 1, concat(lit("%PDF-1.7 obj "), idS))
        .when(arm === 2,
          concat(lit("\u0089PNG\r\n\u001a\nIHDRfake"), idS))
        .when(arm === 3, concat(lit("\u001f\u008bgzblob "), idS))
        .otherwise(concat(lit("  <!DOCTYPE html><p>octet "), idS,
          lit("</p>")))
      val ct = when(arm === 0 || arm === 1, lit("text/html"))
        .when(arm === 2, lit("image/png"))
        .when(arm === 3, lit("text/plain"))
        .otherwise(lit("application/octet-stream"))
      val msgs = d.select(col("doc_id"),
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct,
          lit("\r\n\r\n"), body).as("msg"))
      HttpOps.parseResponses(msgs, "msg")
        .select(col("doc_id"), col("content_type").as("declared"),
          HttpOps.sniffMediaType(col("body")).as("sniffed"))
        .withColumn("final_type",
          HttpOps.effectiveMediaType(col("declared"), col("sniffed")))
        .withColumn("mislabeled", col("final_type") =!= col("declared"))
        .orderBy("doc_id")
    }, oracle =
      // x162 mirror: the same five-arm synthesis (signature bytes via
      // chr()), DuckDB's own prefix/heuristic sniff CASE, the same
      // override precedence, the same mislabel test.
      s"""WITH sm AS (SELECT doc_id,
        |     CASE (doc_id % 5)
        |       WHEN 0 THEN '<html><body>page ' || doc_id::VARCHAR ||
        |         '</body></html>'
        |       WHEN 1 THEN '%PDF-1.7 obj ' || doc_id::VARCHAR
        |       WHEN 2 THEN chr(137) || 'PNG' || chr(13) || chr(10) ||
        |         chr(26) || chr(10) || 'IHDRfake' || doc_id::VARCHAR
        |       WHEN 3 THEN chr(31) || chr(139) || 'gzblob ' ||
        |         doc_id::VARCHAR
        |       ELSE '  <!DOCTYPE html><p>octet ' || doc_id::VARCHAR ||
        |         '</p>' END AS body,
        |     CASE (doc_id % 5)
        |       WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/html'
        |       WHEN 2 THEN 'image/png' WHEN 3 THEN 'text/plain'
        |       ELSE 'application/octet-stream' END AS declared
        |   FROM documents),
        | sn AS (SELECT doc_id, declared,
        |     CASE
        |       WHEN starts_with(body, '%PDF-') THEN 'application/pdf'
        |       WHEN starts_with(body, chr(137) || 'PNG' || chr(13) ||
        |         chr(10) || chr(26) || chr(10)) THEN 'image/png'
        |       WHEN starts_with(body, chr(255) || chr(216) || chr(255))
        |         THEN 'image/jpeg'
        |       WHEN starts_with(body, 'GIF87a') OR
        |         starts_with(body, 'GIF89a') THEN 'image/gif'
        |       WHEN starts_with(body, 'RIFF') AND
        |         substr(body, 9, 4) = 'WAVE' THEN 'audio/wav'
        |       WHEN starts_with(body, 'RIFF') AND
        |         substr(body, 9, 4) = 'WEBP' THEN 'image/webp'
        |       WHEN starts_with(body, chr(31) || chr(139))
        |         THEN 'application/gzip'
        |       WHEN starts_with(body, 'PK' || chr(3) || chr(4))
        |         THEN 'application/zip'
        |       WHEN regexp_matches(body, '^\\s*<') THEN 'text/html'
        |       ELSE NULL END AS sniffed
        |   FROM sm),
        | sf AS (SELECT doc_id, declared, sniffed,
        |     CASE WHEN sniffed IS NOT NULL AND sniffed <> 'text/html'
        |         THEN sniffed
        |       WHEN declared IS NULL OR
        |         declared = 'application/octet-stream'
        |         THEN coalesce(sniffed, declared)
        |       ELSE declared END AS final_type
        |   FROM sn)
        | SELECT doc_id, declared, sniffed, final_type,
        |   (final_type <> declared) AS mislabeled
        | FROM sf ORDER BY doc_id""".stripMargin),

    // x163 — soft-404 detection (r17; Bar-Yossef et al. WWW'04): 200
    // answers that ARE error pages. Four arms per domain: a normal
    // article (clean); a page whose digest equals the domain's
    // known-bogus-URL probe digest (probe-digest — whatever its
    // title); a "Page Not Found" title with a unique digest
    // (title-pattern); and a "does not exist" phrasing (the second
    // pattern arm). Probe table broadcast; precedence probe > title.
    "x163_soft404" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val m = (col("doc_id") % 5).cast("string")
      val arm = col("doc_id") % 4
      val idS = col("doc_id").cast("string")
      val title = when(arm === 2, lit("Page Not Found"))
        .when(arm === 3,
          lit("Oops, this article does not exist anymore"))
        .otherwise(concat(lit("Article "), idS))
      val pages = d.select(
        concat(lit("https://s"), m, lit(".example-"), m, lit(".com/a/"),
          idS).as("url"),
        concat(lit("example-"), m, lit(".com")).as("reg_domain"),
        when(arm === 1, md5(concat(lit("err"), m)))
          .otherwise(md5(concat(lit("p"), idS))).as("digest"),
        concat(lit("<html><head><title>"), title,
          lit("</title></head><body>x</body></html>")).as("html"))
      val probes = d.select(
          concat(lit("example-"), m, lit(".com")).as("reg_domain"))
        .distinct()
        .withColumn("probe_digest",
          md5(concat(lit("err"), regexp_extract(col("reg_domain"),
            "example-([0-9]+)", 1))))
      CrawlOps.soft404Flags(pages, probes)
        .orderBy("url")
    }, oracle =
      // x163 mirror: the same four-arm synthesis, DuckDB's own title
      // extraction (same regex + whitespace collapse), the same probe
      // join and precedence.
      s"""WITH sp AS (SELECT doc_id, (doc_id % 5) m, (doc_id % 4) arm,
        |     CASE (doc_id % 4)
        |       WHEN 2 THEN 'Page Not Found'
        |       WHEN 3 THEN 'Oops, this article does not exist anymore'
        |       ELSE 'Article ' || doc_id::VARCHAR END AS title
        |   FROM documents),
        | pg AS (SELECT
        |     'https://s' || m::VARCHAR || '.example-' || m::VARCHAR ||
        |       '.com/a/' || doc_id::VARCHAR AS url,
        |     'example-' || m::VARCHAR || '.com' AS reg_domain,
        |     CASE WHEN arm = 1 THEN md5('err' || m::VARCHAR)
        |          ELSE md5('p' || doc_id::VARCHAR) END AS digest,
        |     '<html><head><title>' || title ||
        |       '</title></head><body>x</body></html>' AS html,
        |     m
        |   FROM sp),
        | pr AS (SELECT DISTINCT 'example-' || m::VARCHAR || '.com'
        |       AS reg_domain, md5('err' || m::VARCHAR) AS probe
        |   FROM sp),
        | fl AS (SELECT pg.url, pg.reg_domain,
        |     CASE WHEN pg.digest = pr.probe THEN 'probe-digest'
        |       WHEN regexp_matches(lower(trim(regexp_replace(
        |           regexp_extract(pg.html,
        |             '(?is)<title[^>]*>(.*?)</title\\s*>', 1),
        |           '\\s+', ' ', 'g'))),
        |         'not found|does not exist|error 404')
        |         THEN 'title-pattern'
        |       ELSE NULL END AS soft404_reason
        |   FROM pg LEFT JOIN pr USING (reg_domain))
        | SELECT url, reg_domain,
        |   (soft404_reason IS NOT NULL) AS soft404, soft404_reason
        | FROM fl ORDER BY url""".stripMargin),

    // x161 — HITS hubs & authorities (r17; Kleinberg 1999): the OTHER
    // classic link signal — hubs (directory pages pointing at good
    // authorities) vs authorities (content pages good hubs point at),
    // the two lists a seed-selection policy wants separately. Exact
    // integer power iteration with max-normalization per half-step
    // (order-preserving and engine-portable where the textbook L2
    // norm is not); same page-level edge stream as x142; 2 iterations
    // unrolled in the mirror.
    "x161_hits" -> QueryCase({ (s, dir) =>
      val edges = pageLinkEdges(spread(t(s, dir, "documents")))
      GraphOps.hitsInt(edges, iterations = 2)
        .orderBy("node")
    }, oracle =
      // x161 mirror: the x142 link synthesis, canon chain, and page
      // edge CTEs, then TWO unrolled HITS iterations — each half-step a
      // keyed join + sum + 1-row max normalization with the same
      // integral div.
      s"""WITH $linkSynthCtesSql,
        | ${urlCanonCtesOver("lr", "doc_id")},
        | e0 AS (SELECT lb.base AS src, u.canon_url AS dst
        |   FROM ur u JOIN lb USING (doc_id)
        |   WHERE u.canon_url IS NOT NULL AND u.canon_url <> lb.base),
        | e AS (SELECT src, dst, count(*)::BIGINT w FROM e0
        |   GROUP BY src, dst),
        | nodes AS (SELECT src AS node FROM e
        |   UNION SELECT dst FROM e),
        | h0 AS (SELECT node, 1000000::BIGINT h FROM nodes),
        | a1r AS (SELECT e.dst AS node, sum(h0.h * e.w)::BIGINT a
        |   FROM e JOIN h0 ON e.src = h0.node GROUP BY e.dst),
        | a1m AS (SELECT greatest(max(a), 1) m FROM a1r),
        | a1 AS (SELECT n.node,
        |     ((coalesce(a1r.a, 0) * 1000000) // a1m.m)::BIGINT a
        |   FROM nodes n LEFT JOIN a1r USING (node) CROSS JOIN a1m),
        | h1r AS (SELECT e.src AS node, sum(a1.a * e.w)::BIGINT h
        |   FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
        | h1m AS (SELECT greatest(max(h), 1) m FROM h1r),
        | h1 AS (SELECT n.node,
        |     ((coalesce(h1r.h, 0) * 1000000) // h1m.m)::BIGINT h
        |   FROM nodes n LEFT JOIN h1r USING (node) CROSS JOIN h1m),
        | a2r AS (SELECT e.dst AS node, sum(h1.h * e.w)::BIGINT a
        |   FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
        | a2m AS (SELECT greatest(max(a), 1) m FROM a2r),
        | a2 AS (SELECT n.node,
        |     ((coalesce(a2r.a, 0) * 1000000) // a2m.m)::BIGINT a
        |   FROM nodes n LEFT JOIN a2r USING (node) CROSS JOIN a2m),
        | h2r AS (SELECT e.src AS node, sum(a2.a * e.w)::BIGINT h
        |   FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
        | h2m AS (SELECT greatest(max(h), 1) m FROM h2r),
        | h2 AS (SELECT n.node,
        |     ((coalesce(h2r.h, 0) * 1000000) // h2m.m)::BIGINT h
        |   FROM nodes n LEFT JOIN h2r USING (node) CROSS JOIN h2m)
        | SELECT n.node, a2.a AS authority, h2.h AS hub
        | FROM nodes n JOIN a2 USING (node) JOIN h2 USING (node)
        | ORDER BY node""".stripMargin),

    // x160 — domain-level PageRank (r17): collapse the page link
    // graph to registered domains (inter-domain edges only, weight =
    // page-edge count) and run the same exact integer power iteration
    // — the domain ranking crawl schedulers actually prioritize by
    // (Common Crawl publishes exactly this artifact). Same link
    // synthesis as x142; 3 iterations over the 6-node domain graph.
    "x160_domain_rank" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val pages = d.select(col("doc_id"), linkBase.as("base"),
        linkHtmlFixture.as("html"))
      val links = resolvedCanon(pages.select(col("base"),
          explode(HtmlOps.extractLinks(col("html"))).as("ref")),
        Seq("base"), "ref")
      val domEdges = links
        .select(UrlOps.domainOf(col("base")).as("src"),
          UrlOps.domainOf(col("canon_url")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("w"))
      GraphOps.pageRankInt(domEdges, iterations = 3)
        .orderBy("node")
    }, oracle =
      // x160 mirror: the x142 link synthesis and canon chain, collapsed
      // to inter-domain edges (weight = page-edge count), then THREE
      // unrolled integer power iterations with the same base/damping
      // constants.
      s"""WITH $linkSynthCtesSql,
        | ${urlCanonCtesOver("lr", "doc_id")},
        | de0 AS (SELECT lb.src_domain AS s, u.reg_domain AS t
        |   FROM ur u JOIN lb USING (doc_id)
        |   WHERE u.canon_url IS NOT NULL AND lb.src_domain <> u.reg_domain),
        | de AS (SELECT s AS src, t AS dst, count(*)::BIGINT w FROM de0
        |   GROUP BY s, t),
        | dn AS (SELECT src AS node FROM de
        |   UNION SELECT dst FROM de),
        | dow AS (SELECT src, sum(w)::BIGINT out_w FROM de GROUP BY src),
        | dr0 AS (SELECT node, 1000000::BIGINT r FROM dn),
        | di1 AS (SELECT de.dst AS node,
        |     sum((dr0.r * de.w) // dow.out_w)::BIGINT s
        |   FROM de JOIN dr0 ON de.src = dr0.node
        |   JOIN dow ON de.src = dow.src GROUP BY de.dst),
        | dr1 AS (SELECT n.node,
        |     (150000 + (85 * coalesce(di1.s, 0)) // 100)::BIGINT r
        |   FROM dn n LEFT JOIN di1 USING (node)),
        | di2 AS (SELECT de.dst AS node,
        |     sum((dr1.r * de.w) // dow.out_w)::BIGINT s
        |   FROM de JOIN dr1 ON de.src = dr1.node
        |   JOIN dow ON de.src = dow.src GROUP BY de.dst),
        | dr2 AS (SELECT n.node,
        |     (150000 + (85 * coalesce(di2.s, 0)) // 100)::BIGINT r
        |   FROM dn n LEFT JOIN di2 USING (node)),
        | di3 AS (SELECT de.dst AS node,
        |     sum((dr2.r * de.w) // dow.out_w)::BIGINT s
        |   FROM de JOIN dr2 ON de.src = dr2.node
        |   JOIN dow ON de.src = dow.src GROUP BY de.dst),
        | dr3 AS (SELECT n.node,
        |     (150000 + (85 * coalesce(di3.s, 0)) // 100)::BIGINT r
        |   FROM dn n LEFT JOIN di3 USING (node))
        | SELECT node, r AS rank FROM dr3 ORDER BY node""".stripMargin),

    // x168 — LANGUAGE-AWARE Gopher battery (r18, VERDICT r17 #2 — the
    // CCNet discipline): three planted language arms (en/fr/de,
    // labeled by the REAL x18 langId), filtered once under the
    // English-only config and once under per-language profiles, with
    // the x105 per-group funnel showing the difference: the English
    // config silently eats BOTH non-English arms (their stopword
    // probes miss), the language-aware pass keeps all three. Profiles
    // broadcast; the corpus never shuffles for the filter (plan-gated).
    "x168_lang_gopher" -> QueryCase({ (s, dir) =>
      import s.implicits._
      val d = spread(t(s, dir, "documents"))
      val txt = when(col("doc_id") % 3 === 0, lit(langEnText))
        .when(col("doc_id") % 3 === 1, lit(langFrText))
        .otherwise(lit(langDeText))
      val docs = d.select(col("doc_id"), txt.as("text"))
      val lang = TextOps.langId(docs)
        .select(col("doc_id"), col("text"), col("pred_lang").as("lang"))
      val profiles = Seq(
        ("en", TextOps.GopherStopProbe, 2L, 10L, 100000L, 300L, 1000L, 8000L),
        ("fr", langFrStops, 2L, 10L, 100000L, 250L, 1000L, 8000L),
        ("de", langDeStops, 2L, 10L, 100000L, 250L, 1000L, 8000L))
        .toDF(GopherProfileCols: _*)
      gopherFunnel(lang, profiles)
    }, oracle = {
      // x168 mirror: the same three planted texts, the x18 trigram
      // langId, an inline profile VALUES table, the Gopher signal
      // arithmetic (all integral), and the three funnel stages unioned.
      // relational trigram scoring (triScoreCtesSql — r19)
      val engArr = sqlArr(TextOps.GopherStopProbe)
      s"""WITH d AS (SELECT doc_id,
        |     CASE (doc_id % 3) WHEN 0 THEN '$langEnText'
        |       WHEN 1 THEN '$langFrText'
        |       ELSE '$langDeText' END AS text
        |   FROM documents),
        | tr AS (SELECT doc_id, text, list_distinct(list_transform(
        |     range(1, greatest(len(text)-2,0)+1),
        |     i -> substr(text,i::INT,3))) tri FROM d),
        | $triScoreCtesSql,
        | l AS (SELECT tr.doc_id, tr.text,
        |     CASE WHEN mm.m.hits IS NULL THEN 'und'
        |          ELSE mm.m.lang END AS lang
        |   FROM tr LEFT JOIN mm ON mm.doc_id = tr.doc_id),
        | prof AS (SELECT * FROM (VALUES
        |     ('en', $engArr, 2, 10, 300),
        |     ('fr', ${sqlArr(langFrStops)}, 2, 10, 250),
        |     ('de', ${sqlArr(langDeStops)}, 2, 10, 250))
        |   p(lang, stop_words, min_stop_hits, min_words,
        |     min_word_len_centi)),
        | sig AS (SELECT doc_id, text, lang,
        |     $gopherSignalsSql,
        |     len(list_filter(list_distinct(string_split(text, ' ')),
        |       w -> list_contains($engArr, w)))::BIGINT eng_stops
        |   FROM l),
        | aware AS (SELECT s.*,
        |     len(list_filter(list_distinct(string_split(s.text, ' ')),
        |       w -> list_contains(coalesce(p.stop_words, $engArr), w)))
        |       ::BIGINT lang_stops,
        |     coalesce(p.min_stop_hits, 2) msh,
        |     coalesce(p.min_words, 50) mw,
        |     coalesce(p.min_word_len_centi, 300) mwl
        |   FROM sig s LEFT JOIN prof p USING (lang)),
        | $gopherEnglishSql,
        | kaw AS (SELECT * FROM aware
        |   WHERE n_words >= mw AND n_words <= 100000
        |     AND wl >= mwl AND wl <= 1000 AND dup_bp <= 3000
        |     AND alpha_bp >= 8000 AND sym_bp <= 1000
        |     AND lang_stops >= msh)
        | $gopherFunnelSql""".stripMargin
    }),

    // x169 — LANGUAGE-AWARE C4 line rules (r18, the x168 sibling at
    // the LINE tier): an en/ja page fixture through c4KeptLinesByLang —
    // the English terminal-punctuation and ≥3-words rules drop EVERY
    // line of a space-free Japanese page (sentences end in 。 and
    // space-split to one "word"); the ja profile (term 。！？」,
    // min_line_words 1, min_line_chars 3) keeps exactly the real
    // sentences. The en arm carries NO profile row, proving the
    // English-defaults fallback bit-for-bit.
    "x169_c4_lang_lines" -> QueryCase({ (s, dir) =>
      import s.implicits._
      val d = spread(t(s, dir, "documents"))
      val arm = col("doc_id") % 2
      val docs = d.select(col("doc_id"),
        when(arm === 0, lit("en")).otherwise(lit("ja")).as("lang"),
        when(arm === 0, lit(langEnHtml)).otherwise(lit(langJaHtml))
          .as("html"))
      val profiles = Seq(
        ("ja", Seq("。", "！", "？", "」"), 1L, 3L))
        .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
      HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html", profiles)
        .orderBy("doc_id", "line_no")
    }, oracle =
      // x169 mirror: the same en/ja page synthesis, the SAME strip/line
      // CTEs as x127 (htmlStripCtesSql — the ONE definition, used through
      // `ln`; its English `kept` tail is unused here), then the
      // language-parameterized line rules over an inline profile table.
      s"""WITH d0 AS (SELECT doc_id,
        |     CASE (doc_id % 2) WHEN 0 THEN 'en' ELSE 'ja' END AS lang,
        |     CASE (doc_id % 2) WHEN 0 THEN '$langEnHtml'
        |       ELSE '$langJaHtml' END AS html
        |   FROM documents),
        | h2 AS (SELECT doc_id, html FROM d0),
        | ${htmlStripCtesSql("h2")},
        | prof AS (SELECT * FROM (VALUES
        |     ('ja', ['。','！','？','」'], 1, 3))
        |   p(lang, term_chars, min_line_words, min_line_chars)),
        | $c4LangLinesSql
        | ORDER BY doc_id, line_no""".stripMargin),

    // x170 — WAT metadata records (r18, VERDICT r17 #3): the third leg
    // of the Common Crawl WARC/WAT/WET artifact triple — per-page JSON
    // metadata (links, title, headers) wrapped as WARC `metadata`
    // records, grouped into files, then parsed BACK through the same
    // ingest tier, utf-8-decoded, and from_json'd. The title carries a
    // real non-ASCII em dash, so Content-Length is a true BYTE count
    // (length_ok=true on every row proves the accounting); row-identity
    // of the recovered fields against the independently-recomputed
    // targets proves write → parse → decode → JSON-decode lossless.
    "x170_wat_roundtrip" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val idS = col("doc_id").cast("string")
      val html = concat(lit("<head><title>Page "), idS,
        lit(" — News</title></head>"), linkHtmlFixture)
      val meta = d.select(col("doc_id"), linkBase.as("uri"),
        html.as("html"))
        .select(col("doc_id"), col("uri"),
          HtmlOps.title(col("html")).as("title"),
          HtmlOps.extractLinks(col("html")).as("links"),
          map(lit("content-type"), lit("text/html"),
            lit("status"), lit("200")).as("headers"))
      val wat = meta.select(col("doc_id"),
        expr("doc_id div 8").as("file_id"),
        WarcOps.watRecord(col("uri"), lit("2020-03-01T00:00:00Z"),
          to_json(struct(col("uri"), col("title"), col("links"),
            col("headers")))).as("r"))
      val files = warcFiles(wat, "doc_id")
      WarcOps.parseRecords(files, "file_id", "content")
        .filter(col("warc_type") === "metadata")
        .withColumn("j", HttpOps.decodeBody(col("payload"), lit("utf-8")))
        .withColumn("m", expr("from_json(j, 'uri STRING, title STRING, " +
          "links ARRAY<STRING>, headers MAP<STRING,STRING>')"))
        .select(
          expr("CAST(regexp_extract(target_uri, '/dir/page/([0-9]+)$', 1)" +
            " AS BIGINT)").as("doc_id"),
          col("target_uri").as("uri"),
          col("m.title").as("title"),
          size(col("m.links")).cast(LongType).as("n_links"),
          concat_ws("|", col("m.links")).as("links"),
          element_at(col("m.headers"), "content-type").as("content_type"),
          col("length_ok"))
        .orderBy("doc_id")
    }, oracle =
      // x170 mirror: the recovered WAT fields are the Spark side's to
      // prove (DuckDB cannot replay the WARC envelope or Spark's JSON
      // serialization) — the oracle independently recomputes every
      // TARGET: the same link synthesis (linkSynthCtesSql, the ONE
      // definition), the links list in document order, the em-dash
      // title, and the constant header; length_ok true by construction.
      s"""WITH $linkSynthCtesSql,
        | wl AS (SELECT doc_id, base,
        |     list_filter(list_transform(regexp_extract_all(html,
        |       '(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*"([^"]*)"', 1),
        |       r -> trim(r)), r -> r <> '') AS links
        |   FROM lb)
        | SELECT doc_id, base AS uri,
        |   'Page ' || doc_id::VARCHAR || ' — News' AS title,
        |   len(links)::BIGINT AS n_links,
        |   array_to_string(links, '|') AS links,
        |   'text/html' AS content_type, true AS length_ok
        | FROM wl ORDER BY doc_id""".stripMargin),

    // x171 — per-HOST politeness (r18, VERDICT r17 #5): two hosts on
    // one registered domain schedule INDEPENDENTLY — ten hub pages on
    // blog./shop. subdomains of five domains, each linking six URLs on
    // its own host; with the cap keyed on host every (domain, host)
    // slot window fills to 4 (8 scheduled per domain), where a
    // domain-keyed cap would stop at 4 total. Robots cover a dummy
    // domain only (absent domains are unrestricted — RFC 9309), so
    // the window is the only gate.
    "x171_crawl_per_host" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val hubs = d.filter(col("doc_id") < 10)
        .select(col("doc_id"), (col("doc_id") % 5).cast("string").as("m"),
          when(expr("doc_id div 5") === 0, lit("blog"))
            .otherwise(lit("shop")).as("sub"))
        .withColumn("origin", concat(lit("https://"), col("sub"),
          lit(".example-"), col("m"), lit(".com")))
      val pages = hubs.select(
        concat(col("origin"), lit("/hub")).as("canon_url"),
        concat(lit("<html><body>"),
          concat_ws("", transform(sequence(lit(0), lit(5)),
            k => concat(lit("<a href=\"/a/"), k.cast("string"),
              lit("\">l</a>")))),
          lit("</body></html>")).as("html"))
      val seeds = pages.select("canon_url")
      val rules = RobotsOps.parseRules(
        d.sparkSession.range(1)
          .select(lit("unrelated.example").as("reg_domain"),
            lit("User-agent: *\nDisallow: /private\n").as("robots_txt")),
        "graftbot")
      CrawlOps.crawlFrontierIterate(pages, seeds, rules, maxHops = 2)
        .groupBy("hop", "reg_domain", "host")
        .agg(count(lit(1)).as("n_scheduled"),
          sum(when(col("fetched"), 1L).otherwise(0L)).as("n_fetched"),
          min("canon_url").as("first_url"))
        .orderBy("hop", "reg_domain", "host")
    }, oracle =
      // x171 mirror: the same hub synthesis, six per-host candidates,
      // the per-HOST cap-4 window; no robots table touches these
      // domains so the window is the only gate. All candidates are
      // misses (the corpus holds only hubs) — n_fetched 0 by
      // construction, hop 2 empty.
      s"""WITH hb AS (SELECT doc_id, (doc_id % 5)::VARCHAR m,
        |     (CASE WHEN doc_id // 5 = 0 THEN 'blog' ELSE 'shop' END) sub
        |   FROM documents WHERE doc_id < 10),
        | org AS (SELECT doc_id,
        |     'https://' || sub || '.example-' || m || '.com' AS origin,
        |     sub || '.example-' || m || '.com' AS host,
        |     'example-' || m || '.com' AS reg_domain
        |   FROM hb),
        | cand AS (SELECT DISTINCT
        |     origin || '/a/' || k::VARCHAR AS canon_url, host, reg_domain
        |   FROM org CROSS JOIN (SELECT unnest(range(0, 6)) k)),
        | sched AS (SELECT canon_url, host, reg_domain,
        |     row_number() OVER (PARTITION BY host ORDER BY canon_url) rn
        |   FROM cand)
        | SELECT 1::BIGINT hop, reg_domain, host,
        |   count(*)::BIGINT n_scheduled, 0::BIGINT n_fetched,
        |   min(canon_url) first_url
        | FROM sched WHERE rn <= 4 GROUP BY reg_domain, host
        | ORDER BY hop, reg_domain, host""".stripMargin),

    // x172 — the COMPLETE language router (r18, share-thresholded r19 —
    // closes x18's declared CJK boundary now that the legacy-charset
    // decode lands CJK pages in the corpus): Unicode-SCRIPT evidence
    // first (kana → ja, hangul → ko, thai → th, han-only → zh — exact
    // codepoint counts per block, each arm gated on the script holding
    // ≥ ScriptShareBp of non-whitespace codepoints), the x18 trigram
    // tier for text the router calls und. Seven planted arms: ja
    // (kana+kanji), ko, zh (han only), th, the x168 en/fr texts riding
    // the trigram tier, and (r19, VERDICT r18 #1) the MIXED-SCRIPT arm —
    // an English page quoting one kana phrase, which the r18
    // absolute-count precedence flipped to ja and which must now stay
    // en — every route populated, both evidence tiers in the output.
    "x172_lang_router" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val arm = col("doc_id") % 7
      val txt = when(arm === 0, lit(langJaText))
        .when(arm === 1, lit(langKoText))
        .when(arm === 2, lit(langZhText))
        .when(arm === 3, lit(langThText))
        .when(arm === 4, lit(langEnText))
        .when(arm === 5, lit(langFrText))
        .otherwise(lit(langEnMixedText))
      TextOps.langIdRouted(d.select(col("doc_id"), txt.as("text")))
        .select("doc_id", "n_hira", "n_kata", "n_hangul", "n_han",
          "n_thai", "script_lang", "pred_lang", "pred_hits")
        .orderBy("doc_id")
    }, oracle = {
      // x172 mirror: the same seven planted texts (incl. the r19
      // mixed-script arm), per-script codepoint counts via the same
      // literal BMP character-class ranges (RE2 and java.util.regex
      // agree on literal ranges; both engines' length() counts
      // codepoints on BMP text), the same SHARE-gated script precedence
      // (multiply form — integer-exact), and the x18 trigram
      // struct-argmax over the LATIN profile group for the
      // fall-through (no non-latin-alphabet arm is planted here — x173
      // exercises the per-script routing).
      s"""WITH d AS (SELECT doc_id,
        |     CASE (doc_id % 7) WHEN 0 THEN '$langJaText'
        |       WHEN 1 THEN '$langKoText'
        |       WHEN 2 THEN '$langZhText'
        |       WHEN 3 THEN '$langThText'
        |       WHEN 4 THEN '$langEnText'
        |       WHEN 5 THEN '$langFrText'
        |       ELSE '$langEnMixedText' END AS text
        |   FROM documents),
        | $scriptLangCtesSql,
        | tr AS (SELECT doc_id, list_distinct(list_transform(
        |     range(1, greatest(len(text)-2,0)+1),
        |     i -> substr(text,i::INT,3))) tri FROM d),
        | $triScoreCtesSql
        | SELECT s.doc_id, n_hira, n_kata, n_hangul, n_han, n_thai,
        |   script_lang,
        |   CASE WHEN s.script_lang IN ('ja','ko','th','zh')
        |          THEN s.script_lang
        |        WHEN hg.m.hits IS NULL THEN 'und'
        |        ELSE hg.m.lang END AS pred_lang,
        |   coalesce(hg.m.hits, 0)::BIGINT AS pred_hits
        | FROM sl s LEFT JOIN hitg hg ON hg.doc_id = s.doc_id
        |   AND hg.grp = $routedGrpSql
        | ORDER BY s.doc_id""".stripMargin
    }),

    // x173 — the NON-LATIN alphabetic web + the broadened latin tier
    // (r19, VERDICT r18 #2/#4): eleven planted arms — ru/uk (Cyrillic),
    // ar/fa (Arabic), el (Greek), he (Hebrew), hi (Devanagari), and
    // it/pt/nl/pl riding the broadened latin trigram tier — through the
    // same router. Script evidence routes to PER-SCRIPT trigram
    // profiles (ru/uk compete only under cyrl, ar/fa only under arab),
    // so a latin brand name inside a Cyrillic page can never steal it
    // for English; every route populated, the per-script counts and
    // both tiers' evidence in the output.
    "x173_script_router_ext" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val arm = col("doc_id") % 11
      val txt = when(arm === 0, lit(langRuText))
        .when(arm === 1, lit(langUkText))
        .when(arm === 2, lit(langArText))
        .when(arm === 3, lit(langFaText))
        .when(arm === 4, lit(langElText))
        .when(arm === 5, lit(langHeText))
        .when(arm === 6, lit(langHiText))
        .when(arm === 7, lit(langItText))
        .when(arm === 8, lit(langPtText))
        .when(arm === 9, lit(langNlText))
        .otherwise(lit(langPlText))
      TextOps.langIdRouted(d.select(col("doc_id"), txt.as("text")))
        .select("doc_id", "n_cyrl", "n_arab", "n_grek", "n_hebr",
          "n_deva", "script_lang", "pred_lang", "pred_hits")
        .orderBy("doc_id")
    }, oracle = {
      // x173 mirror: the same eleven planted texts, the same share-gated
      // script CASE, and the PER-GROUP trigram argmax — one list_max per
      // script group, routed by the script label exactly like
      // langIdRouted's allowed-set filter.
      s"""WITH d AS (SELECT doc_id,
        |     CASE (doc_id % 11) WHEN 0 THEN '$langRuText'
        |       WHEN 1 THEN '$langUkText'
        |       WHEN 2 THEN '$langArText'
        |       WHEN 3 THEN '$langFaText'
        |       WHEN 4 THEN '$langElText'
        |       WHEN 5 THEN '$langHeText'
        |       WHEN 6 THEN '$langHiText'
        |       WHEN 7 THEN '$langItText'
        |       WHEN 8 THEN '$langPtText'
        |       WHEN 9 THEN '$langNlText'
        |       ELSE '$langPlText' END AS text
        |   FROM documents),
        | $scriptLangCtesSql,
        | tr AS (SELECT doc_id, list_distinct(list_transform(
        |     range(1, greatest(len(text)-2,0)+1),
        |     i -> substr(text,i::INT,3))) tri FROM d),
        | $triScoreCtesSql
        | SELECT s.doc_id, n_cyrl, n_arab, n_grek, n_hebr, n_deva,
        |   script_lang,
        |   CASE WHEN s.script_lang IN ('ja','ko','th','zh')
        |          THEN s.script_lang
        |        WHEN hg.m.hits IS NULL THEN 'und'
        |        ELSE hg.m.lang END AS pred_lang,
        |   coalesce(hg.m.hits, 0)::BIGINT AS pred_hits
        | FROM sl s LEFT JOIN hitg hg ON hg.doc_id = s.doc_id
        |   AND hg.grp = $routedGrpSql
        | ORDER BY s.doc_id""".stripMargin
    }),

    // x174 — language-aware Gopher over the NON-LATIN web (r19, the
    // x168 funnel re-run where it matters most): en/ru/ar/el/he/hi
    // arms labeled by the REAL router (langIdRouted — script tier,
    // not trigram), filtered once under the English-only config and
    // once under per-language profiles. The English config eats EVERY
    // non-latin arm twice over — their stopword probes miss AND the
    // [a-zA-Z] alphabetic-word floor reads every Cyrillic/Arabic/
    // Greek/Hebrew/Devanagari word as non-alphabetic — so their
    // profiles set min_alpha_bp 0 and their own stopword probes; the
    // funnel proves the fallback no longer eats any of them.
    // Profiles broadcast; the corpus never shuffles.
    "x174_lang_gopher_ext" -> QueryCase({ (s, dir) =>
      import s.implicits._
      val d = spread(t(s, dir, "documents"))
      val arm = col("doc_id") % 6
      val txt = when(arm === 0, lit(langEnText))
        .when(arm === 1, lit(langRuText))
        .when(arm === 2, lit(langArText))
        .when(arm === 3, lit(langElText))
        .when(arm === 4, lit(langHeText))
        .otherwise(lit(langHiText))
      val docs = d.select(col("doc_id"), txt.as("text"))
      val lang = TextOps.langIdRouted(docs)
        .select(col("doc_id"), col("text"), col("pred_lang").as("lang"))
      val profiles = Seq(
        ("en", TextOps.GopherStopProbe, 2L, 10L, 100000L, 300L, 1000L, 8000L),
        ("ru", langRuStops, 2L, 10L, 100000L, 250L, 1000L, 0L),
        ("ar", langArStops, 2L, 10L, 100000L, 250L, 1000L, 0L),
        ("el", langElStops, 2L, 10L, 100000L, 250L, 1000L, 0L),
        ("he", langHeStops, 2L, 10L, 100000L, 250L, 1000L, 0L),
        ("hi", langHiStops, 2L, 10L, 100000L, 250L, 1000L, 0L))
        .toDF(GopherProfileCols: _*)
      gopherFunnel(lang, profiles)
    }, oracle = {
      // x174 mirror: the x168 funnel arithmetic with the lang labels
      // coming from the ROUTER (share-gated script CASE + per-group
      // trigram argmax) and a profile table that carries min_alpha_bp —
      // the ru/ar profiles set it to 0 because the [a-zA-Z] alphabetic
      // floor reads every non-latin word as non-alphabetic.
      val engArr = sqlArr(TextOps.GopherStopProbe)
      s"""WITH d AS (SELECT doc_id,
        |     CASE (doc_id % 6) WHEN 0 THEN '$langEnText'
        |       WHEN 1 THEN '$langRuText'
        |       WHEN 2 THEN '$langArText'
        |       WHEN 3 THEN '$langElText'
        |       WHEN 4 THEN '$langHeText'
        |       ELSE '$langHiText' END AS text
        |   FROM documents),
        | $scriptLangCtesSql,
        | tr AS (SELECT doc_id, list_distinct(list_transform(
        |     range(1, greatest(len(text)-2,0)+1),
        |     i -> substr(text,i::INT,3))) tri FROM d),
        | $triScoreCtesSql,
        | l AS (SELECT s.doc_id, s.text,
        |     CASE WHEN s.script_lang IN ('ja','ko','th','zh')
        |            THEN s.script_lang
        |          WHEN hg.m.hits IS NULL THEN 'und'
        |          ELSE hg.m.lang END AS lang
        |   FROM sl s LEFT JOIN hitg hg ON hg.doc_id = s.doc_id
        |     AND hg.grp = $routedGrpSql),
        | prof AS (SELECT * FROM (VALUES
        |     ('en', $engArr, 2, 10, 300, 8000),
        |     ('ru', ${sqlArr(langRuStops)}, 2, 10, 250, 0),
        |     ('ar', ${sqlArr(langArStops)}, 2, 10, 250, 0),
        |     ('el', ${sqlArr(langElStops)}, 2, 10, 250, 0),
        |     ('he', ${sqlArr(langHeStops)}, 2, 10, 250, 0),
        |     ('hi', ${sqlArr(langHiStops)}, 2, 10, 250, 0))
        |   p(lang, stop_words, min_stop_hits, min_words,
        |     min_word_len_centi, min_alpha_bp)),
        | sig AS (SELECT doc_id, text, lang,
        |     $gopherSignalsSql,
        |     len(list_filter(list_distinct(string_split(text, ' ')),
        |       w -> list_contains($engArr, w)))::BIGINT eng_stops
        |   FROM l),
        | aware AS (SELECT s.*,
        |     len(list_filter(list_distinct(string_split(s.text, ' ')),
        |       w -> list_contains(coalesce(p.stop_words, $engArr), w)))
        |       ::BIGINT lang_stops,
        |     coalesce(p.min_stop_hits, 2) msh,
        |     coalesce(p.min_words, 50) mw,
        |     coalesce(p.min_word_len_centi, 300) mwl,
        |     coalesce(p.min_alpha_bp, 8000) mab
        |   FROM sig s LEFT JOIN prof p USING (lang)),
        | $gopherEnglishSql,
        | kaw AS (SELECT * FROM aware
        |   WHERE n_words >= mw AND n_words <= 100000
        |     AND wl >= mwl AND wl <= 1000 AND dup_bp <= 3000
        |     AND alpha_bp >= mab AND sym_bp <= 1000
        |     AND lang_stops >= msh)
        | $gopherFunnelSql""".stripMargin
    }),

    // x175 — PDF text extraction (r19, VERDICT r18 #3; the x150
    // row-identity convention — DuckDB cannot inflate a content
    // stream, so the oracle recomputes every TARGET independently):
    // five arms per doc through the REAL envelope route — sniff →
    // effectiveMediaType → pdfText. Arm 0: a FlateDecode content
    // stream (REAL zlib bytes via DeflateBytes) with Tj/T* text ops;
    // arm 1: a filterless raw stream with a TJ kerning array and the
    // \( \) \\ escapes; arm 2: a stream DECLARED /FlateDecode whose
    // bytes do not inflate — the malformed document, whose text must
    // be the auditable NULL; arm 3: the LYING SERVER — a real PDF
    // served as text/html, which the signature override must still
    // route to the PDF tier; arm 4 (r20, VERDICT r19 #3): UTF-16BE
    // text strings — a literal string and a hex string both opening
    // with the FE FF BOM (ISO 32000-1 §7.9.2.2), carrying REAL
    // Japanese text that must decode, not mojibake, plus a BOM-less
    // latin literal on the same page (the two regimes coexist). No
    // xref tables are synthesized: the kernel's stream scan (its
    // documented contract) never consults them.
    "x175_pdf_extract" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val idS = col("doc_id").cast("string")
      val arm = col("doc_id") % 5
      val contentTj = concat(lit("BT /F1 12 Tf 72 720 Td (Report "), idS,
        lit(" first line.) Tj T* (Second line with accents: café "), idS,
        lit(".) Tj ET"))
      val contentLying = concat(
        lit("BT /F1 12 Tf 72 720 Td (Hidden report "), idS,
        lit(" behind a lying header.) Tj ET"))
      val contentTJ = concat(
        lit("BT 72 720 Td [(Table ) 20 (of) -20 ( contents)] TJ T* " +
          "(Escaped \\(parens\\) and backslash \\\\ here "), idS,
        lit(".) Tj ET"))
      val contentU16 = concat(
        lit("BT /F1 12 Tf 72 720 Td (" + u16beView(pdfJaHeadline) +
          ") Tj T* (Latin tail "), idS,
        lit(".) Tj T* <" + u16beHex(pdfJaSecond) + "> Tj ET"))
      // stream payload view: real zlib bytes (arm 0/3), the raw ops
      // (arm 1/4), or garbage under a /FlateDecode declaration (arm 2)
      val flateView = decode(bridge1(graft.functions.DeflateBytes(_),
        when(arm === 3, contentLying).otherwise(contentTj)), "ISO-8859-1")
      val streamView = when(arm === 1, contentTJ)
        .when(arm === 4, contentU16)
        .when(arm === 2, lit("this is not a deflate stream at all"))
        .otherwise(flateView)
      val filterDecl = when(arm === 1 || arm === 4, lit(""))
        .otherwise(lit(" /Filter /FlateDecode"))
      val pdf = concat(
        lit("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\n" +
          "endobj\n2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n" +
          "endobj\n3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents " +
          "4 0 R >>\nendobj\n4 0 obj\n<< /Length "),
        length(streamView).cast("string"), filterDecl,
        lit(" >>\nstream\n"), streamView,
        lit("\nendstream\nendobj\n%%EOF"))
      val ct = when(arm === 3, lit("text/html"))
        .otherwise(lit("application/pdf"))
      val msgs = d.select(col("doc_id"),
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct,
          lit("\r\n\r\n"), pdf).as("msg"))
      HttpOps.parseResponses(msgs, "msg")
        .select(col("doc_id"), col("content_type").as("declared"),
          HttpOps.effectiveMediaType(col("content_type"),
            HttpOps.sniffMediaType(col("body"))).as("final_type"),
          col("body"))
        .withColumn("pdf_text",
          when(col("final_type") === "application/pdf",
            HttpOps.pdfText(col("body"))))
        .select("doc_id", "declared", "final_type", "pdf_text")
        .orderBy("doc_id")
    }, oracle =
      // x175 mirror: the extracted text is the Spark side's to PROVE
      // (DuckDB cannot inflate a FlateDecode stream or walk the BOM'd
      // string decode) — the oracle recomputes each arm's TARGET text
      // independently (the x150 row-identity convention): the same
      // Tj/T* line pair, the TJ concatenation with its escapes resolved
      // by hand, NULL for the malformed-Flate arm, the lying-server
      // arm's text under its text/html declaration, and the UTF-16BE
      // arm's REAL Japanese lines (interpolated from the one fixture
      // definition) around the BOM-less latin tail.
      s"""SELECT doc_id,
        | CASE WHEN doc_id % 5 = 3 THEN 'text/html'
        |      ELSE 'application/pdf' END AS declared,
        | 'application/pdf' AS final_type,
        | CASE doc_id % 5
        |   WHEN 0 THEN 'Report ' || doc_id::VARCHAR || ' first line.'
        |     || chr(10) || 'Second line with accents: café '
        |     || doc_id::VARCHAR || '.'
        |   WHEN 1 THEN 'Table of contents' || chr(10)
        |     || 'Escaped (parens) and backslash \\ here '
        |     || doc_id::VARCHAR || '.'
        |   WHEN 2 THEN NULL
        |   WHEN 4 THEN '$pdfJaHeadline' || chr(10)
        |     || 'Latin tail ' || doc_id::VARCHAR || '.' || chr(10)
        |     || '$pdfJaSecond'
        |   ELSE 'Hidden report ' || doc_id::VARCHAR
        |     || ' behind a lying header.' END AS pdf_text
        | FROM documents ORDER BY doc_id""".stripMargin),

    // x176 — the FIRST-MILE → TRAINING-MANIFEST capstone (r19, VERDICT
    // r18 #7): the whole r15–r19 stack in ONE oracle-gated composite —
    // `.warc.gz` (per-record gzip members) → HTTP envelope (gzip
    // content coding on even docs, chunked transfer coding on odd) →
    // charset decode (ja pages travel as REAL shift_jis bytes; en/fr
    // as UTF-8) → the r19 language router (script tier for ja, trigram
    // tier for en/fr) → language-aware C4 line rules (ja profile:
    // 。-terminal, 1-word lines) → language-aware Gopher (ja profile:
    // alpha floor 0, wide word-len band) → OPH near-dup dedup over
    // char-6 shingles at 0.9 (each (lang, doc_id div 6) group plants
    // an EXACT duplicate pair; the md5 group token keeps cross-group
    // Jaccard ~0.5, far under threshold) → token-budget mixture
    // (en .4 / fr .3 / ja .3 — chars as the token proxy, the honest
    // unit a space-free script shares) → GPT-style sequence packing.
    // r20 (VERDICT r19 #2): two of every eight docs travel as
    // application/pdf — the x162 media-type route sends them through
    // the x175 PdfToText kernel (the ja paragraph as a UTF-16BE hex
    // string) instead of the charset/HTML tier, and the SAME
    // router→C4→Gopher→dedup→mixture→packing chain consumes the
    // result; a pdf doc can be near-dup-dropped against an html doc
    // (cross-format dedup). Output: the per-(stage, lang/src-cohort)
    // funnel — extracted / quality / deduped / mixture / packed — doc
    // counts and token sums, the integration proof that the tiers
    // compose without a seam, with the `…/pdf` cohorts surviving to
    // `packed` read straight off the rows. Every fifth doc plants a
    // "too short." page that the quality tier must eat in every
    // language. Oracle = the independently-recomputed chain over the
    // PLAINTEXT synthesis (the x139/x150 convention: DuckDB cannot
    // gunzip, dechunk, decode shift_jis, or walk a PDF stream —
    // funnel identity proves the envelope tiers were lossless).
    "x176_first_mile_capstone" -> QueryCase({ (s, dir) =>
      import s.implicits._
      val d = spread(t(s, dir, "documents"))
      val l3 = col("doc_id") % 3
      val isShort = col("doc_id") % 5 === 4
      val md5g = md5(expr("doc_id div 6").cast("string"))
      // line 1 as the DECLARED-CHARSET byte view: the ja paragraph's
      // real windows-31j bytes (shift_jis superset — the WHATWG label),
      // the fr paragraph's real UTF-8 bytes; ASCII is identity in both
      val line1View = when(isShort, lit("too short."))
        .when(l3 === 0, lit(capEnPara))
        .when(l3 === 1, decode(encode(lit(capFrPara), "UTF-8"), "ISO-8859-1"))
        .otherwise(lit(sjisView(capJaPara)))
      // line 2 carries the group token TWICE (md5 + its reverse): the
      // group-unique shingle mass then rivals the shared paragraph's,
      // which keeps the OPH hot-bucket (the all-minima-from-the-shared-
      // paragraph signature) small — without it, cross-group banding
      // collisions grow a bucket that both engines must pay
      // quadratically to verify (measured: the DuckDB mirror blew past
      // the bench window at sf0.1 before this)
      val htmlView = concat(lit("<html><body><p>"), line1View,
        lit("</p><p>ref "), md5g, lit(" "), reverse(md5g),
        lit(" end.</p><p>" + capJsLine + "</p></body></html>"))
      // the PDF slice (r20, VERDICT r19 #2): two of every eight docs
      // — one on the gzip coding, one on the chunked coding — travel
      // as application/pdf instead of HTML, carrying the SAME two
      // content lines as PDF text operators (no js boilerplate — a
      // PDF has no "enable javascript" chrome): en/fr/short line1 as
      // a latin1 literal string, the ja paragraph as a UTF-16BE HEX
      // string (the x175 arm-4 tier — a PDF is how non-latin text
      // actually reaches a crawl without a charset header)
      val isPdf = (col("doc_id") % 8).isin(2, 5)
      val pdfLine1Tok = when(isShort, lit("(too short.)"))
        .when(l3 === 0, lit("(" + capEnPara + ")"))
        .when(l3 === 1, lit("(" + capFrPara + ")"))
        .otherwise(lit("<" + u16beHex(capJaPara) + ">"))
      val pdfContent = concat(lit("BT "), pdfLine1Tok,
        lit(" Tj T* (ref "), md5g, lit(" "), reverse(md5g),
        lit(" end.) Tj ET"))
      val pdfView = concat(
        lit("%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\n" +
          "endobj\n4 0 obj\n<< /Length "),
        length(pdfContent).cast("string"),
        lit(" >>\nstream\n"), pdfContent,
        lit("\nendstream\nendobj\n%%EOF"))
      val bodyView = when(isPdf, pdfView).otherwise(htmlView)
      val cs = when(l3 === 2, lit("shift_jis")).otherwise(lit("utf-8"))
      val gzView = decode(bridge1(graft.functions.GzipBytes(_), bodyView),
        "ISO-8859-1")
      val c1 = substring(bodyView, 1, 64)
      val c2 = substring(bodyView, 65, Int.MaxValue - 64)
      val chunked = concat(
        hex(length(c1)), lit("\r\n"), c1, lit("\r\n"),
        hex(length(c2)), lit("\r\n"), c2, lit("\r\n0\r\n\r\n"))
      val ctHdr = when(isPdf, lit("application/pdf"))
        .otherwise(concat(lit("text/html; charset="), cs))
      val httpMsg = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: "), ctHdr,
        when(col("doc_id") % 2 === 0,
          concat(lit("\r\nContent-Encoding: gzip\r\nContent-Length: "),
            length(gzView).cast("string"), lit("\r\n\r\n"), gzView))
          .otherwise(concat(
            lit("\r\nTransfer-Encoding: chunked\r\n\r\n"), chunked)))
      val files = warcHttpFiles(d, Seq(), httpMsg, gz = true,
        date = lit("2020-03-01T00:00:00Z"))
      // ---- the engine chain under test ----
      val pages = WarcOps.responses(
        files.select(col("file_id"),
          WarcOps.gunzipText(col("gz")).as("content")),
        "file_id", "content")
      // MATERIALIZE at the decode+extract boundary (the x125
      // multi-consumer discipline, here against Catalyst's
      // CollapseProject): the router evaluates ~25 expressions over
      // `ptext`, and without a barrier each one inlines its OWN copy
      // of the gunzip → envelope-split → charset-decode → tag-strip
      // chain — measured 80 s of a 130 s run at sf0.1; with the one
      // page-count-sized checkpoint the router stage is seconds
      val body = HttpOps.decodeBody(col("body"), col("charset"))
      // the media-type ROUTE (x162's effectiveMediaType): html decodes
      // through the charset tier, pdf through the PdfToText kernel —
      // the extracted text then joins ONE downstream chain, with the
      // source format carried as provenance (`src`) so the funnel can
      // show the PDF slice surviving to `packed`.
      // TWO materialization boundaries here (the r19 CollapseProject
      // lesson, measured again in r20): the route needs the media type
      // in a filter plus three projections, and each copy would inline
      // its OWN gunzip→dechunk envelope chain (~8 copies — x176 went
      // 11.5 s → 33.5 s when the route was first fused). Boundary 1
      // materializes the parsed envelope (body + headers); the route
      // and decode then run over STORED columns, and boundary 2 (the
      // pre-existing one) materializes the extracted text for the
      // ~25-expression router fan-out downstream.
      val envelope = HttpOps.parseResponses(pages, "payload")
        .filter(col("status_code") === 200)
        .select(uriDocId, col("content_type"), col("charset"), col("body"))
        .localCheckpoint()
      val mt = HttpOps.effectiveMediaType(col("content_type"),
        HttpOps.sniffMediaType(col("body")))
      val extracted = when(mt === "application/pdf",
        HttpOps.pdfText(col("body"))).otherwise(body)
      val routed = envelope
        .filter(mt.isin("text/html", "application/pdf"))
        .select(col("doc_id"),
          when(mt === "application/pdf", lit("pdf"))
            .otherwise(lit("html")).as("src"),
          extracted.as("html"),
          HtmlOps.htmlToText(extracted).as("ptext"))
        .localCheckpoint()
      val labeled = TextOps.langIdRouted(routed, "ptext")
        .select(col("doc_id"), col("html"), col("src"),
          col("pred_lang").as("lang"))
      val c4Profiles = Seq(("ja", Seq("。", "."), 1L, 3L))
        .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
      val lines = HtmlOps.c4KeptLinesByLang(labeled, "doc_id", "html",
        c4Profiles, carry = Seq("src"))
      val docsText = lines.groupBy(col("doc_id"), col("lang"), col("src"))
        .agg(concat_ws("\n", array_sort(collect_list(
            struct(col("line_no"), col("line")))).getField("line"))
          .as("text"))
        .withColumn("n_tokens", length(col("text")).cast(LongType))
        .localCheckpoint()
      val gProfiles = Seq(
        ("en", TextOps.GopherStopProbe, 2L, 10L, 100000L, 300L, 1000L, 8000L),
        ("fr", capFrStops, 2L, 10L, 100000L, 250L, 1000L, 8000L),
        ("ja", Seq("の"), 0L, 1L, 100000L, 1L, 100000L, 0L))
        .toDF("lang", "stop_words", "min_stop_hits", "min_words",
          "max_words", "min_word_len_centi", "max_word_len_centi",
          "min_alpha_bp")
      val quality = TextOps.gopherFilterByLang(docsText, gProfiles)
        .filter(col("keep"))
        .select("doc_id", "lang", "src", "text", "n_tokens")
        .localCheckpoint()
      // maxBucket 100: the shared paragraph makes one band signature
      // (all four minima from the paragraph's shingles) corpus-hot —
      // the exact bucket class the cap exists for at 100 TB. Planted
      // pairs are identical docs, so they collide in ALL four bands
      // and the probability every one of them is the hot signature is
      // ~(0.09)^4 — each pair keeps a private small bucket and is
      // found; the cap only sheds the quadratic cross-group bucket.
      val pairs = DedupOps.nearDupPairs(quality, "doc_id",
        TextOps.charShingles(col("text"), 6), 0.9, oph = true,
        maxBucket = 100)
      val dropd = DedupOps.connectedComponents(pairs)
        .filter(col("comp") < col("id"))
        .select(col("id").as("doc_id"))
      val deduped = quality.join(dropd, Seq("doc_id"), "left_anti")
      val mix = SampleOps.tokenBudgetMixture(deduped, "doc_id", "lang",
          "n_tokens", Seq("en" -> 0.4, "fr" -> 0.3, "ja" -> 0.3))
        .select("doc_id", "lang", "src", "n_tokens")
        .localCheckpoint()
      val packed = SampleOps.packSequences(
          mix.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", seqLen = 128)
        .join(mix.select(col("doc_id"), col("lang"), col("src")),
          Seq("doc_id"))
        .withColumn("n_tokens", col("n_toks"))
      // the funnel reports per (lang, source-format) cohort — the
      // integration proof VERDICT r19 #2 asked for reads straight off
      // the `…/pdf` rows surviving every stage to `packed`
      def coh(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "cohort", concat_ws("/", col("lang"), col("src")))
      StatOps.funnelReportBy(Seq(
          "extracted" -> coh(docsText), "quality" -> coh(quality),
          "deduped" -> coh(deduped), "mixture" -> coh(mix),
          "packed" -> coh(packed)),
          col("n_tokens"), "cohort")
        .orderBy("stage_idx", "cohort")
    }, oracle = {
      // x176 mirror: the independently-recomputed chain over the
      // PLAINTEXT synthesis — DuckDB cannot gunzip the members, dechunk
      // the transfer coding, or decode the shift_jis bytes, so funnel
      // identity proves those tiers were lossless (the x139/x150
      // convention). Every downstream stage IS mirrored for real: the
      // share-gated router (scriptLangCtesSql + per-group trigram
      // argmax), the hand-derived kept-line set (line2 always survives,
      // line1 survives except on the short arm, the javascript line
      // never does — the C4 rules resolved against this fixture), the
      // Gopher profile arithmetic, OPH banding + exact verify at 9000 bp
      // over char-6 shingles, recursive reachability, the token-budget
      // mixture rates, and the x94 packing prefix sums.
      val engArr = sqlArr(TextOps.GopherStopProbe)
      s"""WITH RECURSIVE d0 AS (SELECT doc_id, doc_id % 3 l3,
        |     (doc_id % 5 = 4) sh0, md5((doc_id // 6)::VARCHAR) g,
        |     CASE WHEN (doc_id % 8) IN (2, 5) THEN 'pdf' ELSE 'html'
        |       END AS src
        |   FROM documents),
        | dd AS (SELECT doc_id, l3, sh0, src,
        |     CASE WHEN sh0 THEN 'too short.'
        |          WHEN l3 = 0 THEN '$capEnPara'
        |          WHEN l3 = 1 THEN '$capFrPara'
        |          ELSE '$capJaPara' END AS line1,
        |     'ref ' || g || ' ' || reverse(g) || ' end.' AS line2,
        |     '$capJsLine' AS line3
        |   FROM d0),
        | -- router input = the EXTRACTED text: html pages carry the js
        | -- boilerplate line and htmlToText's trailing newline; the
        | -- pdf slice has neither (pdfText trims framing newlines and
        | -- a PDF carries no "enable javascript" chrome)
        | d AS (SELECT doc_id,
        |     CASE WHEN src = 'pdf' THEN line1 || chr(10) || line2
        |       ELSE line1 || chr(10) || line2 || chr(10) || line3
        |         || chr(10) END AS text
        |   FROM dd),
        | $scriptLangCtesSql,
        | tr AS (SELECT doc_id, list_distinct(list_transform(
        |     range(1, greatest(len(text)-2,0)+1),
        |     i -> substr(text,i::INT,3))) tri FROM d),
        | $triScoreCtesSql,
        | lbl AS (SELECT s.doc_id,
        |     CASE WHEN s.script_lang IN ('ja','ko','th','zh')
        |            THEN s.script_lang
        |          WHEN hg.m.hits IS NULL THEN 'und'
        |          ELSE hg.m.lang END AS lang
        |   FROM sl s LEFT JOIN hitg hg ON hg.doc_id = s.doc_id
        |     AND hg.grp = $routedGrpSql),
        | ext AS MATERIALIZED (SELECT dd.doc_id, lbl.lang, dd.src,
        |     CASE WHEN dd.sh0 THEN dd.line2
        |          ELSE dd.line1 || chr(10) || dd.line2 END AS text,
        |     length(CASE WHEN dd.sh0 THEN dd.line2
        |          ELSE dd.line1 || chr(10) || dd.line2 END)::BIGINT
        |       AS n_tokens
        |   FROM dd JOIN lbl USING (doc_id)),
        | prof AS (SELECT * FROM (VALUES
        |     ('en', $engArr, 2, 10, 300, 1000, 8000),
        |     ('fr', ${sqlArr(capFrStops)}, 2, 10, 250, 1000, 8000),
        |     ('ja', ['の'], 0, 1, 1, 100000, 0))
        |   p(lang, stop_words, min_stop_hits, min_words, mwl_min,
        |     mwl_max, min_alpha)),
        | sig AS (SELECT doc_id, lang, src, text, n_tokens,
        |     $gopherSignalsSql
        |   FROM ext),
        | q AS MATERIALIZED (SELECT s.doc_id, s.lang, s.src, s.text,
        |     s.n_tokens
        |   FROM sig s LEFT JOIN prof p USING (lang)
        |   WHERE s.n_words >= coalesce(p.min_words, 50)
        |     AND s.n_words <= 100000
        |     AND s.wl >= coalesce(p.mwl_min, 300)
        |     AND s.wl <= coalesce(p.mwl_max, 1000)
        |     AND s.dup_bp <= 3000
        |     AND s.alpha_bp >= coalesce(p.min_alpha, 8000)
        |     AND s.sym_bp <= 1000
        |     AND len(list_filter(list_distinct(string_split(s.text, ' ')),
        |       w -> list_contains(coalesce(p.stop_words, $engArr), w)))
        |       >= coalesce(p.min_stop_hits, 2)),
        | shl AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(
        |     range(1, greatest(len(text)-5,0)+1),
        |     i -> substr(text,i::INT,6))) l FROM q),
        | sh AS (SELECT doc_id, unnest(l) s FROM shl),
        | ${ophBsigSqlWith(100)},
        | cand AS MATERIALIZED (SELECT DISTINCT a.doc_id i, b.doc_id j
        |   FROM bsig a JOIN bsig b
        |   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |   JOIN okb ON okb.band = a.band AND okb.sig = a.sig),
        | -- candidate-driven verify: per-pair list_intersect, never an
        | -- s-keyed shingle join (the fixture's shared paragraph makes
        | -- every paragraph shingle corpus-hot, and a planner driving
        | -- the verify from the shingle table explodes quadratically)
        | p AS MATERIALIZED (SELECT cd.i, cd.j FROM cand cd
        |   JOIN shl la ON la.doc_id = cd.i
        |   JOIN shl lb ON lb.doc_id = cd.j
        |   WHERE floor(len(list_intersect(la.l, lb.l))::DOUBLE * 10000
        |     / (len(la.l) + len(lb.l)
        |        - len(list_intersect(la.l, lb.l)))::DOUBLE) >= 9000),
        | $reachSql,
        | dropd AS (SELECT a AS doc_id FROM reach GROUP BY a
        |   HAVING least(a, min(b)) < a),
        | surv AS MATERIALIZED (SELECT q.* FROM q WHERE NOT EXISTS
        |   (SELECT 1 FROM dropd WHERE dropd.doc_id = q.doc_id)),
        | wt AS (SELECT * FROM (VALUES ('en', 0.4::DOUBLE),
        |     ('fr', 0.3::DOUBLE), ('ja', 0.3::DOUBLE)) w(dom, w)),
        | cnt AS (SELECT lang, sum(n_tokens) tk2 FROM surv GROUP BY 1),
        | jx AS (SELECT dom, w, coalesce(tk2, 0) tk2 FROM wt
        |   LEFT JOIN cnt ON lang = dom),
        | tmin AS (SELECT min(tk2::DOUBLE / w) tt FROM jx),
        | r AS (SELECT dom, floor(10000 * w * tt / tk2::DOUBLE)::BIGINT rate
        |   FROM jx, tmin WHERE tk2 > 0),
        | mix AS MATERIALIZED (SELECT s.doc_id, s.lang, s.src, s.n_tokens
        |   FROM surv s
        |   JOIN r ON s.lang = r.dom
        |   WHERE ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 15))::BIGINT
        |     % 10000 < r.rate),
        | sto AS (SELECT doc_id, lang, src, n_tokens n,
        |     coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |       ::BIGINT st
        |   FROM mix),
        | x AS (SELECT doc_id, lang, src, n, st,
        |     unnest(range(st // 128, (st + n - 1) // 128 + 1)) seq_id
        |   FROM sto WHERE n > 0),
        | spans AS (SELECT lang, src,
        |     (least(st + n, seq_id*128 + 128)
        |       - greatest(st, seq_id*128))::BIGINT n_toks
        |   FROM x)
        | SELECT 0::BIGINT stage_idx, 'extracted' AS stage,
        |     lang || '/' || src AS cohort,
        |     count(*)::BIGINT n_docs, sum(n_tokens)::BIGINT n_tokens
        |   FROM ext GROUP BY lang, src
        | UNION ALL SELECT 1::BIGINT, 'quality', lang || '/' || src,
        |     count(*)::BIGINT, sum(n_tokens)::BIGINT FROM q
        |   GROUP BY lang, src
        | UNION ALL SELECT 2::BIGINT, 'deduped', lang || '/' || src,
        |     count(*)::BIGINT, sum(n_tokens)::BIGINT FROM surv
        |   GROUP BY lang, src
        | UNION ALL SELECT 3::BIGINT, 'mixture', lang || '/' || src,
        |     count(*)::BIGINT, sum(n_tokens)::BIGINT FROM mix
        |   GROUP BY lang, src
        | UNION ALL SELECT 4::BIGINT, 'packed', lang || '/' || src,
        |     count(*)::BIGINT, sum(n_toks)::BIGINT FROM spans
        |   GROUP BY lang, src
        | ORDER BY stage_idx, cohort""".stripMargin
    }),

    // x177 — C4 line-rule profiles for the non-latin script tier (r20,
    // VERDICT r19 #4; the x169 pattern widened): el/he/hi/ar pages
    // through c4KeptLinesByLang with the SHIPPED
    // [[graft.ops.HtmlOps.c4LineProfiles]] table — the Greek question
    // mark (;), the sof pasuq (׃), the danda (।), and the Arabic
    // question mark (؟) all end real sentences that the English
    // terminal-punctuation rule silently eats (exactly the way ja
    // lines were eaten before x169). Each arm also plants an
    // ASCII-period line (kept under BOTH rule sets — the profile must
    // not break the common case), the too-short line, and the
    // javascript boilerplate (dropped everywhere). The en control arm
    // carries no profile row, proving the defaults fallback.
    "x177_c4_script_lines" -> QueryCase({ (s, dir) =>
      import s.implicits._
      val d = spread(t(s, dir, "documents"))
      val arm = col("doc_id") % 5
      val docs = d.select(col("doc_id"),
        when(arm === 0, lit("el")).when(arm === 1, lit("he"))
          .when(arm === 2, lit("hi")).when(arm === 3, lit("ar"))
          .otherwise(lit("en")).as("lang"),
        when(arm === 0, lit(c4ElHtml)).when(arm === 1, lit(c4HeHtml))
          .when(arm === 2, lit(c4HiHtml)).when(arm === 3, lit(c4ArHtml))
          .otherwise(lit(langEnHtml)).as("html"))
      val profiles = graft.ops.HtmlOps.c4LineProfiles
        .toDF("lang", "term_chars", "min_line_words", "min_line_chars")
      HtmlOps.c4KeptLinesByLang(docs, "doc_id", "html", profiles)
        .orderBy("doc_id", "line_no")
    }, oracle =
      // x177 mirror: the x169 mirror widened — the same five-arm page
      // synthesis, the shared strip/line CTEs, then the language-
      // parameterized line rules over the SHIPPED profile table
      // (c4ProfileRowsSql interpolates HtmlOps.c4LineProfiles verbatim,
      // so engine and mirror read the one definition).
      s"""WITH d0 AS (SELECT doc_id,
        |     CASE (doc_id % 5) WHEN 0 THEN 'el' WHEN 1 THEN 'he'
        |       WHEN 2 THEN 'hi' WHEN 3 THEN 'ar' ELSE 'en' END AS lang,
        |     CASE (doc_id % 5) WHEN 0 THEN '$c4ElHtml'
        |       WHEN 1 THEN '$c4HeHtml' WHEN 2 THEN '$c4HiHtml'
        |       WHEN 3 THEN '$c4ArHtml' ELSE '$langEnHtml' END AS html
        |   FROM documents),
        | h2 AS (SELECT doc_id, html FROM d0),
        | ${htmlStripCtesSql("h2")},
        | prof AS (SELECT * FROM (VALUES $c4ProfileRowsSql)
        |   p(lang, term_chars, min_line_words, min_line_chars)),
        | $c4LangLinesSql
        | ORDER BY doc_id, line_no""".stripMargin),

    // x178 — CDX(J) index round trip with a REAL SEEK (r20, VERDICT
    // r19 #5 — the artifact that makes the x165 dedup store seekable,
    // completing the WARC/WAT/WET/CDX Common Crawl artifact family):
    // the x165 capture synthesis → dedup store records → cdxjRecords
    // (SURT urlkey, 14-digit timestamp, JSON with offset/length/
    // filename) → parse the lines BACK → use the recovered
    // offset/length to substring the assembled file content and
    // re-parse THAT SLICE as a WARC record. seek_ok ties the loop:
    // the seeked record's length_ok, target URI, and payload digest
    // must all match the index row — the proof a replay consumer can
    // jump straight to one capture without scanning the file.
    "x178_cdxj_index" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val caps = storeCaptures(d)
      // recs feeds BOTH the index and the assembled files — checkpoint
      // once (r20, the x125 multi-consumer discipline) so the
      // digest-window store synthesis runs once, not per consumer.
      // `parsed` (two consumers) is deliberately NOT checkpointed: the
      // file-keyed offset window must stay visible in the final plan
      // (the x178 plan gate asserts the window is file-partitioned),
      // and re-running the narrow cdxj parse over the checkpointed recs
      // is cheap.
      val recs = WarcOps.dedupStoreRecords(caps)
        .withColumn("file_id", expr("doc_id div 8"))
        .localCheckpoint()
      val idx = WarcOps.cdxjRecords(recs, "file_id", Seq("doc_id", "k"))
      val files = respread(recs.groupBy("file_id")
        .agg(concat_ws("", array_sort(collect_list(
            struct(col("doc_id"), col("k"), col("record"))))
          .getField("record")).as("content")))
      val parsed = WarcOps.parseCdxj(
        idx.select(col("file_id"), col("doc_id"), col("k"), col("cdxj")),
        "cdxj")
      val sliced = parsed.join(files, Seq("file_id"))
        .select((col("doc_id") * 3 + col("k")).as("rid"),
          col("content").substr(col("offset").cast("int") + lit(1),
            col("rec_length").cast("int")).as("slice"))
      val reparsed = WarcOps.parseRecords(sliced, "rid", "slice")
        .select(col("rid"), col("warc_type").as("rec_type"),
          col("target_uri").as("seek_uri"),
          col("payload_digest").as("seek_digest"),
          col("payload").as("seek_payload"), col("length_ok"))
      parsed.withColumn("rid", col("doc_id") * 3 + col("k"))
        .join(reparsed, Seq("rid"))
        .withColumn("seek_ok", col("length_ok") &&
          col("seek_uri") === col("url") &&
          col("seek_digest") === col("digest"))
        .select("doc_id", "k", "urlkey", "cdxj_ts", "url", "mime",
          "status", "offset", "rec_length", "digest", "rec_type",
          "seek_payload", "seek_ok")
        .orderBy("doc_id", "k")
    }, oracle =
      // x178 mirror: the store strings and the seek are the Spark
      // side's to prove — the oracle CONSTRUCTS the same records
      // (x165's synthesis + the dedupStoreRecords head layout, CRLF
      // via chr(13)||chr(10)) and recomputes every index field
      // independently: the window prefix-sum offsets over the same
      // (file, doc, k) order, the SURT urlkey constant-folded for the
      // fixture host, the digit-only timestamp, and the seeked record's
      // expected type/payload; seek_ok true by construction.
      s"""WITH ${captureHistorySql("xc")},
        | xp AS (SELECT doc_id, k, url, capture_date,
        |     'Body v' || ver::VARCHAR || ' of doc ' ||
        |       doc_id::VARCHAR || '.' AS payload
        |   FROM xc),
        | xr AS (SELECT *, md5(payload) AS digest,
        |     row_number() OVER (PARTITION BY md5(payload)
        |       ORDER BY capture_date, url) AS rn
        |   FROM xp),
        | nlx AS (SELECT chr(13) || chr(10) AS nl),
        | xrec AS (SELECT doc_id, k, url, capture_date, digest, rn,
        |     payload,
        |     'WARC/1.0' || nl || 'WARC-Type: ' ||
        |       (CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END) ||
        |       nl || 'WARC-Target-URI: ' || url ||
        |       nl || 'WARC-Date: ' || capture_date ||
        |       nl || 'WARC-Payload-Digest: ' || digest ||
        |       (CASE WHEN rn = 1
        |         THEN nl || 'Content-Length: ' ||
        |           length(payload)::VARCHAR || nl || nl || payload ||
        |           nl || nl
        |         ELSE nl || 'WARC-Refers-To-Target-URI: ' || url ||
        |           nl || 'Content-Length: 0' || nl || nl || nl || nl
        |        END) AS record
        |   FROM xr CROSS JOIN nlx),
        | xoff AS (SELECT *,
        |     length(record)::BIGINT AS rec_length,
        |     coalesce(sum(length(record)) OVER (
        |       PARTITION BY (doc_id // 8) ORDER BY doc_id, k
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |       ::BIGINT AS "offset"
        |   FROM xrec)
        | SELECT doc_id, k,
        |   'com,example)/doc/' || doc_id::VARCHAR AS urlkey,
        |   replace(capture_date, '-', '') AS cdxj_ts,
        |   url, 'text/html' AS mime, 200::BIGINT AS status,
        |   "offset", rec_length, digest,
        |   CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END
        |     AS rec_type,
        |   CASE WHEN rn = 1 THEN payload ELSE '' END AS seek_payload,
        |   true AS seek_ok
        | FROM xoff ORDER BY doc_id, k""".stripMargin),

    // x179 — SORTED CDXJ shards + the SURT range scan (r20, the claim
    // x178's urlkey exists for, proven: host-label REVERSAL makes one
    // registered domain's captures — root AND subdomains —
    // lexicographically contiguous, so a sorted index answers "every
    // capture of example-1.com and its hosts" as ONE prefix range
    // with no full scan). Three host arms per doc (www. — which the
    // canonical form strips — blog., shop.) across four registered
    // domains, two captures each; index lines sort into per-shard
    // files by (urlkey, timestamp), the files split back into lines,
    // and the gate (a) proves every shard's line order is
    // non-decreasing (sorted_ok, computed for real with a lag window)
    // and (b) answers the example-1 range scan by urlkey prefix,
    // row-identical to the oracle's independent recomputation.
    "x179_cdxj_range_scan" -> QueryCase({ (s, dir) =>
      val d = spread(t(s, dir, "documents"))
      val idS = col("doc_id").cast("string")
      val m = (col("doc_id") % 4).cast("string")
      val sub = when(col("doc_id") % 3 === 0, lit("www."))
        .when(col("doc_id") % 3 === 1, lit("blog."))
        .otherwise(lit("shop."))
      val caps = d
        .select(col("doc_id"), explode(sequence(lit(0), lit(1))).as("k"))
        .withColumn("url", concat(lit("https://"), sub,
          lit("example-"), m, lit(".com/doc/"), idS, lit("/"),
          col("k").cast("string")))
        .withColumn("capture_date", concat(lit("2020-02-0"),
          (col("k") + 1).cast("string")))
        .withColumn("payload", concat(lit("Cap "),
          col("k").cast("string"), lit(" of doc "), idS, lit(".")))
        .withColumn("digest", md5(col("payload")))
      val recs = WarcOps.dedupStoreRecords(caps)
        .withColumn("file_id", expr("doc_id div 8"))
      val idx = WarcOps.cdxjRecords(recs, "file_id", Seq("doc_id", "k"))
      val shards = respread(idx.groupBy("file_id")
        .agg(concat_ws("\n", array_sort(collect_list(
            struct(col("urlkey"), col("cdxj_ts"), col("cdxj"))))
          .getField("cdxj")).as("content")))
      val lines = shards.select(col("file_id"),
        posexplode(split(col("content"), "\n"))
          .as(Seq("line_no", "line")))
      // parsed feeds the sortedness window AND the range filter —
      // one checkpoint, one parse (the x125 multi-consumer discipline)
      val parsed = WarcOps.parseCdxj(lines, "line").localCheckpoint()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("file_id").orderBy("line_no")
      val key = concat_ws(" ", col("urlkey"), col("cdxj_ts"))
      val sortedOk = parsed
        .withColumn("__prev", lag(key, 1).over(w))
        .groupBy("file_id")
        .agg(min(col("__prev").isNull || col("__prev") <= key)
          .as("sorted_ok"))
      parsed
        .filter(col("urlkey").startsWith("com,example-1"))
        .join(sortedOk, Seq("file_id"))
        .select("file_id", "urlkey", "cdxj_ts", "url", "sorted_ok")
        .orderBy("file_id", "urlkey", "cdxj_ts")
    }, oracle =
      // x179 mirror: the range-scan TARGET recomputed independently —
      // the SURT keys by the same host-reversal CASE (www strips in the
      // canonical form; blog/shop reverse under the registered domain),
      // the digit-only timestamps, and the example-1 prefix filter;
      // sorted_ok true is the target the Spark side's lag-window proof
      // must land on (the x150 row-identity convention — DuckDB never
      // sees the shard files).
      """WITH rc AS (SELECT doc_id, t.k,
        |     (doc_id % 4)::VARCHAR AS m,
        |     CASE WHEN doc_id % 3 = 0 THEN 'www.'
        |          WHEN doc_id % 3 = 1 THEN 'blog.' ELSE 'shop.' END
        |       AS sub
        |   FROM documents
        |   CROSS JOIN (SELECT unnest([0, 1]) AS k) t),
        | ru AS (SELECT doc_id, k, (doc_id // 8) AS file_id,
        |     'https://' || sub || 'example-' || m || '.com/doc/' ||
        |       doc_id::VARCHAR || '/' || k::VARCHAR AS url,
        |     (CASE WHEN sub = 'www.' THEN 'com,example-' || m || ')'
        |           WHEN sub = 'blog.'
        |             THEN 'com,example-' || m || ',blog)'
        |           ELSE 'com,example-' || m || ',shop)' END)
        |       || '/doc/' || doc_id::VARCHAR || '/' || k::VARCHAR
        |       AS urlkey,
        |     '2020020' || (k + 1)::VARCHAR AS cdxj_ts
        |   FROM rc)
        | SELECT file_id, urlkey, cdxj_ts, url, true AS sorted_ok
        | FROM ru WHERE starts_with(urlkey, 'com,example-1')
        | ORDER BY file_id, urlkey, cdxj_ts""".stripMargin)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.transform((_, c) => c.build)

  /** The RELATIONAL trigram-scoring CTE chain over a CTE
    * `tr(doc_id, tri)` (r19): explode the distinct trigrams once, ONE
    * hash join against the (lang, trigram) profile rows, count per
    * (doc, lang), then the struct argmax — globally (`mm`) and per
    * script GROUP (`hitg`, langIdRouted's allowed-set rule). Value-
    * identical to the per-doc list-scoring form (trigrams and profile
    * rows are both distinct, so the join count IS the intersection
    * size; max over (hits, lang) structs breaks ties on the
    * lexicographically-larger lang exactly like Spark's array_max),
    * but ~30× faster in DuckDB at sf0.1 — the per-doc list-lambda form
    * paid 15 langs × |tri| lambda evaluations per document and
    * dominated the whole oracle suite.
    */
  private def triScoreCtesSql: String =
    s"""trx AS (SELECT doc_id, unnest(tri) g FROM tr),
      | prf AS (SELECT * FROM (VALUES
      |     ${triProfileRowsSql(TextOps.langProfiles.keys.toSeq)})
      |   p(lang, g)),
      | lgrp AS (SELECT * FROM (VALUES $langGroupRowsSql) l(lang, grp)),
      | hits AS (SELECT doc_id, lang, count(*) h FROM trx
      |   JOIN prf USING (g) GROUP BY 1, 2),
      | mm AS (SELECT doc_id,
      |     max(struct_pack(hits := h, lang := lang)) m
      |   FROM hits GROUP BY 1),
      | hitg AS (SELECT h.doc_id, l.grp,
      |     max(struct_pack(hits := h.h, lang := h.lang)) m
      |   FROM hits h JOIN lgrp l USING (lang) GROUP BY 1, 2)""".stripMargin

  private def triProfileRowsSql(langs: Seq[String]): String =
    TextOps.langProfiles.toSeq.filter(p => langs.contains(p._1))
      .sortBy(_._1)
      .flatMap { case (lang, prof) => prof.map(g => s"('$lang', '$g')") }
      .mkString(", ")

  private def langGroupRowsSql: String =
    TextOps.langScript.toSeq.sorted
      .map { case (l, g) => s"('$l', '$g')" }.mkString(", ")

  /** The routing-group key for a row `s` carrying `script_lang` —
    * langIdRouted's allowed-set rule as SQL.
    */
  // def, not val: this object's catalog initializes before later
  // vals, and a forward val reference interpolates as null (observed)
  private def routedGrpSql: String =
    "CASE WHEN s.script_lang IN ('cyrl','arab','grek','hebr','deva') " +
      "THEN s.script_lang ELSE 'latn' END"

  /** The script-count + share-gated script-label CTE pair (`sc`, `sl`)
    * over a CTE `d(doc_id, text)` — scriptLangId's mirror: the same
    * literal ranges (TextOps.ScriptRanges — ONE definition), the same
    * multiply-form share gate, the same precedence. `\\s` differs
    * between the engines only at U+000B (java counts it whitespace,
    * RE2 does not) — no fixture carries a vertical tab.
    */
  private def scriptLangCtesSql: String = {
    val r = TextOps.ScriptRanges.toMap
    def n(c: String) =
      s"(length(text) - length(regexp_replace(text, '[${r(c)}]', " +
        s"'', 'g')))::BIGINT n_$c"
    val bp = TextOps.ScriptShareBp
    def dom(expr: String) = s"$expr > 0 AND ($expr)*10000 >= $bp*ns"
    s"""sc AS (SELECT doc_id, text,
      |     ${n("hira")}, ${n("kata")}, ${n("hangul")}, ${n("han")},
      |     ${n("thai")}, ${n("cyrl")}, ${n("arab")}, ${n("grek")},
      |     ${n("hebr")}, ${n("deva")},
      |     length(regexp_replace(text, '\\s', '', 'g'))::BIGINT ns
      |   FROM d),
      | sl AS (SELECT *,
      |     CASE WHEN n_hira + n_kata > 0
      |            AND ${dom("(n_hira + n_kata + n_han)")} THEN 'ja'
      |          WHEN ${dom("n_hangul")} THEN 'ko'
      |          WHEN ${dom("n_thai")} THEN 'th'
      |          WHEN ${dom("n_han")} THEN 'zh'
      |          WHEN ${dom("n_cyrl")} THEN 'cyrl'
      |          WHEN ${dom("n_arab")} THEN 'arab'
      |          WHEN ${dom("n_grek")} THEN 'grek'
      |          WHEN ${dom("n_hebr")} THEN 'hebr'
      |          WHEN ${dom("n_deva")} THEN 'deva'
      |          ELSE 'und' END AS script_lang
      |   FROM sc)""".stripMargin
  }

  /** One unrolled REDIRECT-following hop for the x152 mirror, over the
    * previous crawled set `c{h-1}` and depth-carrying frontier
    * `f{h-1}` — resolve each fetched redirect's Location against its
    * own URL (the shared resolve CASE; the synthesis guarantees the
    * result is already canonical), inherit depth+1 under the cap (2),
    * keep the min depth per URL, dedup against everything crawled,
    * admit on the TARGET domain's rules, flag fetchability. Ends at
    * `f{h}s` (scheduled), `c{h}`, `f{h}` (next frontier). ONE
    * generator for every hop (the crawlHopCtesSql pattern).
    */
  private def redirectHopCtesSql(h: Int): String = {
    val mp = "coalesce(nullif(regexp_extract(canon_url, " +
      "'^[a-z][a-z0-9+.-]*://[^/?#]*(.*)$', 1), ''), '/')"
    s"""g${h}r AS (SELECT
      |     ${resolveCaseSql("r.canon_url", "r.location")} AS canon_url,
      |     f.rdepth + 1 AS rdepth
      |   FROM redirs r JOIN f${h - 1} f USING (canon_url)
      |   WHERE f.rdepth + 1 <= 2),
      | g${h}c AS (SELECT canon_url, min(rdepth) AS rdepth FROM g${h}r
      |   GROUP BY canon_url),
      | g${h}n AS (SELECT c.canon_url, c.rdepth,
      |     regexp_extract(regexp_extract(c.canon_url,
      |       '^[a-z]+://([^/]+)', 1), '([^.]+\\.[^.]+)$$', 1)
      |       AS reg_domain,
      |     $mp AS mp
      |   FROM g${h}c c
      |   WHERE NOT EXISTS (SELECT 1 FROM c${h - 1} cc
      |     WHERE cc.canon_url = c.canon_url)),
      | g${h}h AS (SELECT c.canon_url, len(r.prefix) l,
      |     CASE WHEN r.is_allow THEN 1 ELSE 0 END a
      |   FROM g${h}n c JOIN rrules r ON c.reg_domain = r.reg_domain
      |     AND ${ruleMatchSql("c.mp", "r.prefix")}),
      | g${h}b AS (SELECT canon_url, a FROM (SELECT canon_url, a,
      |     row_number() OVER (PARTITION BY canon_url
      |       ORDER BY l DESC, a DESC) rn FROM g${h}h) WHERE rn = 1),
      | f${h}s AS (SELECT c.canon_url, c.rdepth,
      |     EXISTS (SELECT 1 FROM fetchable ft
      |       WHERE ft.canon_url = c.canon_url) AS fetched
      |   FROM g${h}n c LEFT JOIN g${h}b b USING (canon_url)
      |   WHERE coalesce(b.a, 1) = 1),
      | c$h AS (SELECT canon_url FROM c${h - 1}
      |   UNION SELECT canon_url FROM f${h}s),
      | f$h AS (SELECT canon_url, rdepth FROM f${h}s WHERE fetched)""".stripMargin
  }

  /** One unrolled crawl hop for the x141 mirror, over the previous
    * crawled set `c{h-1}` and frontier `f{h-1}` — ends at `f{h}s`
    * (the hop's scheduled rows), `c{h}` (the grown crawled set), and
    * `f{h}` (the next frontier: scheduled ∩ fetchable). ONE generator
    * for every hop (the bpeTrainSql pattern).
    */
  private def crawlHopCtesSql(h: Int): String = {
    val mp = "coalesce(nullif(regexp_extract(canon_url, " +
      "'^[a-z][a-z0-9+.-]*://[^/?#]*(.*)$', 1), ''), '/')"
    s"""f${h}d AS (SELECT DISTINCT l.doc_id FROM lb l
      |   JOIN f${h - 1} f ON l.base = f.canon_url),
      | f${h}c AS (SELECT canon_url, host, reg_domain, $mp mp
      |   FROM (SELECT DISTINCT u.canon_url, u.host, u.reg_domain
      |       FROM l2 u JOIN f${h}d d ON u.doc_id = d.doc_id) c
      |   WHERE NOT EXISTS (SELECT 1 FROM c${h - 1} cc
      |     WHERE cc.canon_url = c.canon_url)),
      | f${h}h AS (SELECT c.canon_url, len(r.prefix) l,
      |     CASE WHEN r.is_allow THEN 1 ELSE 0 END a
      |   FROM f${h}c c JOIN rrules r ON c.reg_domain = r.reg_domain
      |     AND ${ruleMatchSql("c.mp", "r.prefix")}),
      | f${h}b AS (SELECT canon_url, a FROM (SELECT canon_url, a,
      |     row_number() OVER (PARTITION BY canon_url
      |       ORDER BY l DESC, a DESC) rn FROM f${h}h) WHERE rn = 1),
      | f${h}s AS (SELECT canon_url, reg_domain FROM (
      |     SELECT c.canon_url, c.reg_domain, row_number() OVER (
      |       PARTITION BY c.host ORDER BY c.canon_url) rn
      |     FROM f${h}c c LEFT JOIN f${h}b b USING (canon_url)
      |     WHERE coalesce(b.a, 1) = 1) WHERE rn <= 4),
      | c$h AS (SELECT canon_url FROM c${h - 1}
      |   UNION SELECT canon_url FROM f${h}s),
      | f$h AS (SELECT canon_url FROM f${h}s WHERE EXISTS (
      |   SELECT 1 FROM lb WHERE lb.base = f${h}s.canon_url))""".stripMargin
  }

  /** The x127/x128 planted-HTML synthesis, DuckDB side — mirrors
    * [[htmlFixture]] verbatim (ONE definition per engine, referenced by
    * both oracles through [[htmlKeptCtesSql]]).
    */
  private lazy val htmlSynthSql: String =
    // `||` sits at line ENDS: this fragment is interpolated into query
    // strings that call stripMargin AGAIN, which would eat leading pipes
    """h AS (SELECT doc_id,
      |     '<html><head><title>t</title><style>body { margin: 0; }</style>' ||
      |     '<script>var x = "a < b && c > d";</script></head><body><h1>Doc ' ||
      |     doc_id::VARCHAR || '</h1><p>' ||
      |     replace(text, ' window ', '.</p><p>') ||
      |     '.</p><div>Research &amp; development data here&#46;</div>' ||
      |     '<p>Please enable JavaScript to view comments here.</p>' ||
      |     '<p>Teams&#8217; data &#8212; all rights reserved&#44; ' ||
      |     'terms &amp; conditions apply&#x2e;</p>' ||
      |     '<p>Raw refs &#039; and &#1500; must stay literal here.</p>' ||
      |     '<!-- hidden <p>Not real content.</p> --></body></html>' AS html
      |   FROM documents)""".stripMargin

  /** Shared x127/x128 kept-line CTE chain: synthesis → the HtmlOps strip
    * order → line split with ordinality → the three C4 line rules →
    * first-occurrence dedup (`dd`, filter `rk = 1`).
    */
  private lazy val htmlKeptCtesSql: String =
    s"""$htmlSynthSql,
      | ${htmlStripCtesSql("h")}""".stripMargin

  /** The HtmlOps strip order + C4 line rules as CTEs over ANY source CTE
    * `src(doc_id, html)` — the ONE definition behind [[htmlKeptCtesSql]]
    * (x127/x128, straight from synthesis) and the x130 WARC capstone
    * (from parsed response payloads). Ends at `dd` (filter `rk = 1` for
    * the kept lines).
    */
  private def htmlStripCtesSql(src: String): String = {
    // DecodeHtmlEntities mirror (the sentinel construction its scaladoc
    // names): mark numeric refs as \x01<code>\x02 so the named chain
    // cannot touch them, run the named replaces with '&amp;' LAST, then
    // reconstruct each marked ref — in-range codepoints become chr(),
    // out-of-range/overlong ones their literal '&#code;' selves. The
    // membership test interpolates THE kernel's PunctCodepoints list.
    val punct = graft.functions.DecodeHtmlEntities.PunctCodepoints
      .mkString(", ")
    val code = "string_split(q, chr(2))[1]"
    val v = "CASE WHEN q LIKE 'x%' THEN try_cast(('0x' || substr(" + code +
      ", 2)) AS BIGINT) ELSE try_cast(" + code + " AS BIGINT) END"
    s"""tx0 AS (SELECT doc_id,
      |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |         regexp_replace(html,
      |         '(?is)<script\\b[^>]*>.*?</script[^>]*>', ' ', 'g'),
      |         '(?is)<style\\b[^>]*>.*?</style[^>]*>', ' ', 'g'),
      |         '(?s)<!--.*?-->', ' ', 'g'),
      |         '(?i)</(?:p|div|li|h[1-6]|tr|td|th|table|ul|ol|blockquote|pre)\\s*>|(?i)<br\\s*/?>|(?i)<br\\s[^>]*>', chr(10), 'g'),
      |         '<[^>]*>', '', 'g') AS t0
      |   FROM $src),
      | tx1 AS (SELECT doc_id, regexp_replace(regexp_replace(t0,
      |     '&#([1-9][0-9]{0,6});', chr(1) || '\\1' || chr(2), 'g'),
      |     '&#x([1-9a-f][0-9a-f]{0,5});', chr(1) || 'x\\1' || chr(2), 'g')
      |       AS t1
      |   FROM tx0),
      | tx2 AS (SELECT doc_id,
      |     replace(replace(replace(replace(replace(replace(t1,
      |       '&lt;','<'), '&gt;','>'), '&quot;','"'), '&apos;',''''),
      |       '&nbsp;',' '), '&amp;','&') AS t2
      |   FROM tx1),
      | txp AS (SELECT doc_id, string_split(t2, chr(1)) p FROM tx2),
      | -- coalesce: DuckDB's array_to_string([]) is NULL (unlike Spark's
      | -- array_join), which nullified pages with NO numeric refs (x151)
      | txt AS (SELECT doc_id, p[1] || coalesce(array_to_string(list_transform(p[2:],
      |     q -> (CASE WHEN ($v) IS NOT NULL AND ((($v) BETWEEN 32 AND 126)
      |              OR ($v) IN ($punct))
      |          THEN CASE WHEN ($v) = 160 THEN ' '
      |               ELSE chr(($v)::INT) END
      |          ELSE '&#' || $code || ';' END) ||
      |       substr(q, len($code) + 2)), ''), '') AS t
      |   FROM txp),
      | lp AS (SELECT doc_id, string_split(t, chr(10)) parts FROM txt),
      | ln AS (SELECT doc_id, e.line_no::BIGINT line_no,
      |     trim(regexp_replace(e.raw, '\\s+', ' ', 'g')) line
      |   FROM (SELECT doc_id, unnest(list_transform(range(0, len(parts)),
      |       i -> struct_pack(line_no := i,
      |                        raw := parts[(i+1)::INT]))) e FROM lp)),
      | kept AS (SELECT * FROM ln
      |   WHERE regexp_matches(line, '[.!?"]$$')
      |     AND len(string_split(line, ' ')) >= 3
      |     AND NOT contains(lower(line), 'javascript')),
      | dd AS (SELECT doc_id, line_no, line, row_number() OVER
      |     (PARTITION BY line ORDER BY doc_id, line_no) rk FROM kept)""".stripMargin
  }

  /** The Gopher quality signals over a `text` column, as select-list
    * items: n_words, wl (mean word length, centi-chars), dup_bp,
    * alpha_bp and sym_bp — the integral arithmetic of
    * `TextOps.gopherFilterByLang`.
    */
  private lazy val gopherSignalsSql: String =
    """len(string_split(text, ' '))::BIGINT n_words,
      |     floor(len(replace(text, ' ', ''))::DOUBLE * 100
      |       / len(string_split(text, ' '))::DOUBLE)::BIGINT wl,
      |     floor((len(string_split(text, ' '))
      |         - len(list_distinct(string_split(text, ' '))))::DOUBLE
      |       * 10000
      |       / len(string_split(text, ' '))::DOUBLE)::BIGINT dup_bp,
      |     floor(len(list_filter(string_split(text, ' '),
      |         w -> len(regexp_replace(w, '[^a-zA-Z]', '', 'g')) > 0))
      |         ::DOUBLE * 10000
      |       / len(string_split(text, ' '))::DOUBLE)::BIGINT alpha_bp,
      |     floor((len(text) - len(regexp_replace(text, '[#…]', '', 'g')))
      |         ::DOUBLE * 10000
      |       / len(string_split(text, ' '))::DOUBLE)::BIGINT sym_bp""".stripMargin

  /** The x168/x174 English-configured Gopher stage: `keng`, the `sig`
    * rows passing the default thresholds.
    */
  private lazy val gopherEnglishSql: String =
    """keng AS (SELECT * FROM sig
      |   WHERE n_words >= 10 AND n_words <= 100000
      |     AND wl BETWEEN 300 AND 1000 AND dup_bp <= 3000
      |     AND alpha_bp >= 8000 AND sym_bp <= 1000 AND eng_stops >= 2)""".stripMargin

  /** The x168/x174 funnel: docs and tokens per lang at `sig` (raw),
    * `keng` (english_cfg) and `kaw` (lang_aware).
    */
  private lazy val gopherFunnelSql: String =
    """SELECT 0::BIGINT stage_idx, 'raw' AS stage, lang,
      |     count(*)::BIGINT n_docs, sum(n_words)::BIGINT n_tokens
      |   FROM sig GROUP BY lang
      | UNION ALL SELECT 1::BIGINT, 'english_cfg', lang,
      |     count(*)::BIGINT, sum(n_words)::BIGINT FROM keng GROUP BY lang
      | UNION ALL SELECT 2::BIGINT, 'lang_aware', lang,
      |     count(*)::BIGINT, sum(n_words)::BIGINT FROM kaw GROUP BY lang
      | ORDER BY stage_idx, lang""".stripMargin

  /** Two integer PageRank iterations (damping 0.85, 10^6 scale) over the
    * edge CTE `e(src, dst, w)` and node CTE `nodes(node)`, ending at
    * `r2(node, r)` — the x142/x145 mirror of `GraphOps.pageRank`.
    */
  private lazy val pagerank2Sql: String =
    """ow AS (SELECT src, sum(w)::BIGINT out_w FROM e GROUP BY src),
      | r0 AS (SELECT node, 1000000::BIGINT r FROM nodes),
      | i1 AS (SELECT e.dst AS node,
      |     sum((r0.r * e.w) // ow.out_w)::BIGINT s
      |   FROM e JOIN r0 ON e.src = r0.node JOIN ow ON e.src = ow.src
      |   GROUP BY e.dst),
      | r1 AS (SELECT n.node,
      |     (150000 + (85 * coalesce(i1.s, 0)) // 100)::BIGINT r
      |   FROM nodes n LEFT JOIN i1 USING (node)),
      | i2 AS (SELECT e.dst AS node,
      |     sum((r1.r * e.w) // ow.out_w)::BIGINT s
      |   FROM e JOIN r1 ON e.src = r1.node JOIN ow ON e.src = ow.src
      |   GROUP BY e.dst),
      | r2 AS (SELECT n.node,
      |     (150000 + (85 * coalesce(i2.s, 0)) // 100)::BIGINT r
      |   FROM nodes n LEFT JOIN i2 USING (node))""".stripMargin

  /** The x101 epoch plan per source: `ep(dom, eful, pbp, epoch)` — full
    * epochs `eful` (capped at 5) and the partial-epoch acceptance rate
    * `pbp` in basis points, for weights `wt` over a 12000-doc budget.
    */
  private lazy val epochPlanSql: String =
    """wt AS (SELECT * FROM (VALUES
      |     ('src0', 0.5::DOUBLE), ('src2', 0.2::DOUBLE),
      |     ('src3', 0.01::DOUBLE)) w(dom, w)),
      | cnt AS (SELECT source, count(*) n FROM documents GROUP BY 1),
      | j AS (SELECT dom, w, n FROM cnt JOIN wt ON source = dom),
      | p AS (SELECT dom, n, floor(w * 12000.0)::BIGINT want FROM j),
      | e AS (SELECT dom, n, want, want // n full0,
      |     least(want // n, 5) eful FROM p),
      | pl AS (SELECT dom, eful,
      |     CASE WHEN full0 >= 5 THEN 0
      |          ELSE ((want - eful * n) * 10000) // n END pbp
      |   FROM e),
      | ep AS (SELECT dom, eful, pbp,
      |     unnest(range(0, eful + 1)) epoch FROM pl)""".stripMargin

  /** The language-aware C4 line rules over the strip CTE `ln`, the
    * page languages `d0` and the profile table `prof` — a complete query
    * tail but for its ORDER BY (x169/x177).
    */
  private lazy val c4LangLinesSql: String =
    """lx AS (SELECT ln.doc_id, d0.lang, ln.line_no, ln.line
      |   FROM ln JOIN d0 USING (doc_id)),
      | keptl AS (SELECT lx.doc_id, lx.lang, lx.line_no, lx.line
      |   FROM lx LEFT JOIN prof p USING (lang)
      |   WHERE list_contains(coalesce(p.term_chars, ['.','!','?','"']),
      |       substr(line, length(line), 1))
      |     AND len(string_split(line, ' ')) >=
      |       coalesce(p.min_line_words, 3)
      |     AND length(line) >= coalesce(p.min_line_chars, 1)
      |     AND NOT contains(lower(line), 'javascript'))
      | SELECT doc_id, lang, line_no, line FROM keptl""".stripMargin

  /** Winnowing selection CTEs (x110/x113): positional word-3-gram
    * hash60s, the zero-padded (hash, pos) key and its 4-wide window min
    * `wm(doc_id, p, maxp, wmin)`.
    */
  private lazy val winnowCtesSql: String =
    """w AS (SELECT doc_id, string_split(text,' ') t FROM documents),
      | ps AS (SELECT doc_id, unnest(list_transform(
      |     range(0, greatest(len(t)-2, 0)),
      |     p -> struct_pack(p := p, h := ('0x' || substr(md5(
      |       array_to_string(list_slice(t, (p+1)::INT, (p+3)::INT), ' ')
      |     ),1,15))::BIGINT))) e FROM w),
      | pp AS (SELECT doc_id, e.p p,
      |     lpad(e.h::VARCHAR, 19, '0') || lpad(e.p::VARCHAR, 8, '0') kk
      |   FROM ps),
      | wm AS (SELECT doc_id, p,
      |     max(p) OVER (PARTITION BY doc_id) maxp,
      |     min(kk) OVER (PARTITION BY doc_id ORDER BY p
      |       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) wmin
      |   FROM pp)""".stripMargin

  /** The Gopher raw counts per doc (x88/x107): `sig(doc_id, n_words,
    * word_chars, n_dup, n_alpha, n_sym, stop_hits)`.
    */
  private lazy val gopherCountsSql: String =
    """w AS (SELECT doc_id, text, string_split(text,' ') w FROM documents),
      | sig AS (SELECT doc_id,
      |     len(w)::BIGINT n_words,
      |     length(replace(text, ' ', ''))::BIGINT word_chars,
      |     (len(w) - len(list_distinct(w)))::BIGINT n_dup,
      |     len(list_filter(w, x ->
      |       length(regexp_replace(x, '[^a-zA-Z]', '', 'g')) > 0))::BIGINT n_alpha,
      |     (length(text) - length(regexp_replace(text, '[#…]', '', 'g')))::BIGINT n_sym,
      |     len(list_intersect(list_distinct(w),
      |       ['the','be','to','of','and','that','have','with']))::BIGINT stop_hits
      |   FROM w)""".stripMargin

  /** The x83 bigram LM CTEs: occurrence bigrams `big(doc_id, s)` and
    * their Laplace-smoothed surprisal `m(s, nll)`, quantized to 10^-6.
    */
  private lazy val bigramNllSql: String =
    """w AS (SELECT doc_id, string_split(text,' ') w FROM documents),
      | big AS (SELECT doc_id, unnest(list_transform(
      |          range(1, greatest(len(w)-1,0)+1),
      |          k -> w[k::INT] || ' ' || w[k::INT+1])) s FROM w),
      | c2 AS (SELECT s, count(*) n2 FROM big GROUP BY 1),
      | c1 AS (SELECT split_part(s,' ',1) w1, count(*) n1 FROM big GROUP BY 1),
      | v AS (SELECT count(DISTINCT t) v FROM
      |   (SELECT unnest(string_split(text,' ')) t FROM documents)),
      | m AS (SELECT s,
      |     floor(ln((n1 + v.v)::DOUBLE / (n2 + 1)::DOUBLE) * 1000000)::BIGINT nll
      |   FROM c2 JOIN c1 ON split_part(c2.s,' ',1) = c1.w1 CROSS JOIN v)""".stripMargin

  /** The x80/x82 containment select over `inter` and `n`: both
    * containments in basis points, kept when either reaches 0.8.
    */
  private lazy val containmentSelectSql: String =
    """SELECT i, j, c AS inter_n,
      |   floor(c::DOUBLE * 10000 / na.n)::BIGINT AS cont_i_bp,
      |   floor(c::DOUBLE * 10000 / nb.n)::BIGINT AS cont_j_bp
      | FROM inter JOIN n na ON na.doc_id = i JOIN n nb ON nb.doc_id = j
      | WHERE greatest(floor(c::DOUBLE * 10000 / na.n),
      |                floor(c::DOUBLE * 10000 / nb.n)) >= 8000""".stripMargin

  /** Per-URL change evidence over a capture CTE `caps(url,
    * capture_date, digest)` (x149/x159): `ag(url, n_captures,
    * n_changes, f, l)` — observed digest changes and the first/last
    * capture dates.
    */
  private lazy val captureChangesSql: String =
    """lg AS (SELECT url, capture_date, digest,
      |     lag(digest) OVER (PARTITION BY url ORDER BY capture_date)
      |       AS prev
      |   FROM caps),
      | ag AS (SELECT url, count(*)::BIGINT n_captures,
      |     sum(CASE WHEN prev IS NOT NULL AND prev <> digest
      |       THEN 1 ELSE 0 END)::BIGINT n_changes,
      |     min(capture_date) f, max(capture_date) l
      |   FROM lg GROUP BY url)""".stripMargin

  /** [[captureHistory]], DuckDB side, as the CTE `name(doc_id, k,
    * url, capture_date, ver)`.
    */
  private def captureHistorySql(name: String): String =
    s"""$name AS (SELECT doc_id, t.k,
      |     'https://example.com/doc/' || doc_id::VARCHAR AS url,
      |     '2020-01-' ||
      |       lpad((1 + (doc_id % 9) + t.k * 7)::VARCHAR, 2, '0')
      |       AS capture_date,
      |     (CASE WHEN doc_id % 3 = 0 THEN t.k
      |           WHEN doc_id % 3 = 1 THEN
      |             (CASE WHEN t.k >= 2 THEN 1 ELSE 0 END)
      |           ELSE 0 END) AS ver
      |   FROM documents
      |   CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) t)""".stripMargin

  /** The C4 page tier over the kept-line CTE `dd` — ONE definition
    * shared by x128 (straight from synthesis) and x130 (after the WARC
    * round trip): page reassembly in line order, then the ≥5-lines,
    * brace, and lorem-ipsum page rules. A complete query tail (ends in
    * ORDER BY).
    */
  private lazy val htmlPageTailSql: String =
    s"""$htmlPagesSql
      | SELECT doc_id, n_lines, text FROM pg
      | $c4PageWhereSql
      | ORDER BY doc_id""".stripMargin

  /** The page CTEs of [[htmlPageTailSql]]: `k`, the lines `dd` keeps,
    * reassembled in line order into `pg(doc_id, n_lines, text)`.
    */
  private lazy val htmlPagesSql: String =
    """k AS (SELECT doc_id, line_no, line FROM dd WHERE rk = 1),
      | pg AS (SELECT doc_id, count(*)::BIGINT AS n_lines,
      |     string_agg(line, chr(10) ORDER BY line_no) AS text
      |   FROM k GROUP BY doc_id)""".stripMargin

  /** The C4 page rules over `pg`-shaped rows (≥ 5 lines, no brace, no
    * lorem ipsum), as a WHERE clause.
    */
  private lazy val c4PageWhereSql: String =
    """WHERE n_lines >= 5 AND NOT contains(text, '{')
      |   AND NOT contains(text, '}')
      |   AND NOT contains(lower(text), 'lorem ipsum')""".stripMargin

  /** The head of the accent-page oracles (x139 and its successors): the
    * [[htmlSynthSql]] pages `h`, `h2` = each page closed by the
    * [[AccentLineHead]] line — or, on `doc_id % 3 = cp1252Arm`, the
    * [[Cp1252LineHead]] line — and the strip CTEs over `h2`, ending at
    * the kept-line CTE `dd`.
    */
  private def accentPagesSql(cp1252Arm: Option[Int]): String = {
    val accent = s"'$AccentLineHead' || doc_id::VARCHAR || '$AccentLineTail'"
    val line = cp1252Arm.fold(accent)(arm =>
      s"""CASE WHEN doc_id % 3 = $arm
        |       THEN '$Cp1252LineHead' || doc_id::VARCHAR ||
        |         '$Cp1252LineTail'
        |       ELSE $accent END""".stripMargin)
    s"""WITH $htmlSynthSql,
      | h2 AS (SELECT doc_id, regexp_replace(html, '</body></html>$$',
      |     $line)
      |     AS html FROM h),
      | ${htmlStripCtesSql("h2")}""".stripMargin
  }

  /** WARC-file synthesis over the x127 HTML CTE `h`, DuckDB side —
    * mirrors [[warcFixture]] verbatim (record layout, header order,
    * lengths, file grouping, concatenation order). Ends at
    * `wf(file_id, content)`.
    */
  private lazy val warcSynthCtesSql: String = {
    val crlf = "chr(13) || chr(10)"
    s"""wbase AS (SELECT doc_id, doc_id // 8 AS file_id, html FROM h),
      | wrec AS (
      |   SELECT file_id, -1 AS ord_doc, 0 AS sub,
      |     'WARC/1.0' || $crlf ||
      |     'WARC-Type: warcinfo' || $crlf ||
      |     'WARC-Date: 2020-01-01T00:00:00Z' || $crlf ||
      |     'Content-Length: ' ||
      |       len('software: graft-synth/1.0')::VARCHAR || $crlf || $crlf ||
      |     'software: graft-synth/1.0' || $crlf || $crlf AS r
      |   FROM (SELECT DISTINCT file_id FROM wbase)
      |   UNION ALL
      |   SELECT file_id, doc_id, 0,
      |     'WARC/1.0' || $crlf ||
      |     'WARC-Type: request' || $crlf ||
      |     'WARC-Target-URI: https://example.com/doc/' ||
      |       doc_id::VARCHAR || $crlf ||
      |     'WARC-Date: 2020-01-' ||
      |       lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') ||
      |       'T00:00:00Z' || $crlf ||
      |     'Content-Length: ' ||
      |       len('GET /doc/' || doc_id::VARCHAR || ' HTTP/1.1')::VARCHAR ||
      |       $crlf || $crlf ||
      |     'GET /doc/' || doc_id::VARCHAR || ' HTTP/1.1' || $crlf || $crlf
      |   FROM wbase WHERE doc_id % 3 = 0
      |   UNION ALL
      |   SELECT file_id, doc_id, 1,
      |     'WARC/1.0' || $crlf ||
      |     'WARC-Type: response' || $crlf ||
      |     'WARC-Target-URI: https://example.com/doc/' ||
      |       doc_id::VARCHAR || $crlf ||
      |     'WARC-Date: 2020-01-' ||
      |       lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') ||
      |       'T00:00:00Z' || $crlf ||
      |     'Content-Length: ' || len(html)::VARCHAR || $crlf || $crlf ||
      |     html || $crlf || $crlf
      |   FROM wbase),
      | wf AS (SELECT file_id,
      |     string_agg(r, '' ORDER BY ord_doc, sub) AS content
      |   FROM wrec GROUP BY file_id)""".stripMargin
  }

  /** WARC record parse over `wf(file_id, content)`, DuckDB side —
    * mirrors `WarcOps.parseRecords` step for step (sentinel split,
    * 0-based rec_no among true records, case-insensitive anchored
    * header extraction with absent → NULL, digits-only Content-Length,
    * payload slice, the length_ok diagnosis). Ends at `wrecs`.
    */
  private lazy val warcParseCtesSql: String =
    """wb0 AS (SELECT file_id, string_split(replace(replace(replace(
      |     content, chr(2), chr(2) || chr(4)),
      |     chr(1), chr(2) || chr(3)),
      |     'WARC/1.0' || chr(13) || chr(10), chr(1)), chr(1)) parts
      |   FROM wf),
      | wrb AS (SELECT file_id, (e.i - 1)::BIGINT AS rec_no,
      |     replace(replace(e.body, chr(2) || chr(3), chr(1)),
      |       chr(2) || chr(4), chr(2)) AS body FROM (
      |     SELECT file_id, unnest(list_transform(range(1, len(parts)),
      |       i -> struct_pack(i := i, body := parts[(i+1)::INT]))) e
      |     FROM wb0)),
      | wpr AS (SELECT file_id, rec_no,
      |     nullif(regexp_extract(body,
      |       '(?im)^WARC-Type:\s*([^\r\n]*)', 1), '') warc_type,
      |     nullif(regexp_extract(body,
      |       '(?im)^WARC-Target-URI:\s*([^\r\n]*)', 1), '') target_uri,
      |     nullif(regexp_extract(body,
      |       '(?im)^WARC-Date:\s*([^\r\n]*)', 1), '') warc_date,
      |     nullif(regexp_extract(body,
      |       '(?im)^WARC-Payload-Digest:\s*([^\r\n]*)', 1), '')
      |       payload_digest,
      |     nullif(regexp_extract(body,
      |       '(?im)^WARC-Refers-To-Target-URI:\s*([^\r\n]*)', 1), '')
      |       refers_to,
      |     CAST(nullif(regexp_extract(body,
      |       '(?im)^Content-Length:\s*([0-9]+)\s*$', 1), '') AS BIGINT)
      |       content_length,
      |     regexp_extract(body, '(?s)^.*?\r\n\r\n(.*)$', 1) payload_region
      |   FROM wrb),
      | wrecs AS (SELECT file_id, rec_no, warc_type, target_uri, warc_date,
      |     payload_digest, refers_to, content_length,
      |     substr(payload_region, 1, content_length) payload,
      |     (content_length IS NOT NULL AND
      |      len(payload_region) = content_length + 4) AS length_ok
      |   FROM wpr)""".stripMargin

  /** The x131/x132 URL synthesis, DuckDB side — mirrors [[urlFixture]]
    * verbatim. Ends at `u(doc_id, url)`.
    */
  private lazy val urlSynthSql: String =
    """u AS (SELECT doc_id,
      |   CASE (doc_id % 8)
      |     WHEN 0 THEN 'HTTP://WWW.Example.COM:80//a//b/' ||
      |       (doc_id % 40)::VARCHAR || '/?b=2&a=1&utm_term=' ||
      |       doc_id::VARCHAR
      |     WHEN 1 THEN 'https://Shop.Example.co.uk:443/item/' ||
      |       doc_id::VARCHAR || '?fbclid=x' || doc_id::VARCHAR
      |     WHEN 2 THEN 'http://user@Example.org:8080/p/' ||
      |       doc_id::VARCHAR || '?z=1&y=2&Y=9#frag'
      |     WHEN 3 THEN 'https://news.example.com./' ||
      |       doc_id::VARCHAR || '/'
      |     WHEN 4 THEN 'ftp://Files.Example.NET:21/pub/' || doc_id::VARCHAR
      |     WHEN 5 THEN 'relative/path/' || doc_id::VARCHAR
      |     WHEN 6 THEN 'https://blog.example.com.au/read?id=' ||
      |       (doc_id % 40)::VARCHAR || '&utm_campaign=x&UTM=keep'
      |     ELSE 'https://Files.Example.Co.KR/k/' || doc_id::VARCHAR ||
      |       '?b=2&a=1'
      |   END AS url
      | FROM documents)""".stripMargin

  /** URL canonicalization + registered domain over `u(doc_id, url)`,
    * DuckDB side — mirrors `UrlOps.canonicalizeUrl` / `host` /
    * `registeredDomain` rule for rule, with the tracking-param and
    * multi-label-suffix lists interpolated from THE UrlOps constants
    * (one definition across engines, the DefaultMaxBucket pattern).
    * Ends at `ur(doc_id, url, canon_url, host, reg_domain)`.
    */
  private lazy val urlCanonCtesSql: String = urlCanonCtesOver("u", "doc_id")

  /** The x133 robots.txt body, DuckDB side — mirrors [[robotsFixture]]
    * verbatim (an expression over column `reg_domain`).
    */
  private lazy val robotsBodySql: String =
    """'# graft robots fixture' || chr(10) || chr(10) ||
      |     'Sitemap: https://example.com/sitemap.xml' || chr(10) ||
      |     chr(10) ||
      |     'User-agent: megabot' || chr(10) || 'Disallow: /' || chr(10) ||
      |     chr(10) ||
      |     CASE WHEN reg_domain = 'example.org' THEN '' ELSE
      |       'User-agent: graftbot' || chr(10) ||
      |       'User-agent: helper' || chr(10) ||
      |       'Disallow: /a/b' || chr(10) || 'Allow: /a/b/1' || chr(10) ||
      |       'Allow: /a/*/2' || chr(10) ||
      |       'Disallow: /a/b/16$' || chr(10) ||
      |       'Disallow: /item' || chr(10) || 'Allow: /item/1' || chr(10) ||
      |       'Allow: /item/9$' || chr(10) ||
      |       'Disallow: /read' || chr(10) ||
      |       'Allow: /read?*id=1' || chr(10) ||
      |       'Disallow:' || chr(10) || chr(10) ||
      |       'User-agent: graftbot' || chr(10) ||
      |       'Crawl-delay: 3' || chr(10) ||
      |       'User-agent: otherbot' || chr(10) ||
      |       'Disallow: /pub' || chr(10) || chr(10) END ||
      |     'User-agent: *' || chr(10) || 'Disallow: /read' || chr(10) ||
      |     'Disallow: /' || chr(10)""".stripMargin

  /** The x136 frontier robots body, DuckDB side — mirrors
    * [[frontierRobotsFixture]] verbatim.
    */
  private lazy val frontierRobotsBodySql: String =
    """'User-agent: megabot' || chr(10) || 'Disallow: /' || chr(10) ||
      |     chr(10) || 'User-agent: graftbot' || chr(10) ||
      |     'Disallow: /root' || chr(10) || 'Allow: /root/1' || chr(10) ||
      |     'Disallow: /lib' || chr(10) || 'Allow: /lib/1' || chr(10) ||
      |     chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /' ||
      |     chr(10)""".stripMargin

  /** RobotsOps.parseRules as DuckDB CTEs over `src(reg_domain,
    * robots_txt)` for one agent token — line split with ordinality,
    * comment strip, directive extraction, group segmentation (lag +
    * running sum over ALL directive-formed lines, so an unknown
    * directive between two User-agent lines ends the header run —
    * mirroring the r16 RobotsOps fix), exact-token-beats-star group
    * selection, empty-value rule drop. Ends at
    * `rrules(reg_domain, is_allow, prefix)`. ONE definition shared by
    * the x133 and x136 mirrors.
    */
  private def robotsParseCtesSql(src: String, agent: String): String =
    s"""rlp AS (SELECT reg_domain, string_split(robots_txt, chr(10)) parts
      |   FROM $src),
      | rl AS (SELECT reg_domain, e.ln::BIGINT line_no,
      |     trim(regexp_replace(e.raw, '#.*$$', '')) line
      |   FROM (SELECT reg_domain, unnest(list_transform(
      |       range(0, len(parts)), i -> struct_pack(ln := i,
      |         raw := parts[(i+1)::INT]))) e FROM rlp)),
      | rd AS (SELECT reg_domain, line_no,
      |     lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) directive,
      |     trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(.*)$$', 1))
      |       AS value
      |   FROM rl
      |   WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) <> ''),
      | rg AS (SELECT *, sum(CASE WHEN is_ua = 1 AND coalesce(prev_ua, 0)
      |       = 0 THEN 1 ELSE 0 END) OVER (PARTITION BY reg_domain
      |       ORDER BY line_no) grp
      |   FROM (SELECT *,
      |       CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END is_ua,
      |       lag(CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END)
      |         OVER (PARTITION BY reg_domain ORDER BY line_no) prev_ua
      |     FROM rd)),
      | ru AS (SELECT reg_domain, grp,
      |     max(CASE WHEN lower(value) = '${agent.toLowerCase}' THEN 1
      |       ELSE 0 END) grp_exact,
      |     max(CASE WHEN value = '*' THEN 1 ELSE 0 END) grp_star
      |   FROM rg WHERE is_ua = 1 GROUP BY reg_domain, grp),
      | rx AS (SELECT reg_domain, max(grp_exact) dom_exact FROM ru
      |   GROUP BY reg_domain),
      | rgov AS (SELECT ru.reg_domain, ru.grp FROM ru JOIN rx
      |     USING (reg_domain)
      |   WHERE (dom_exact = 1 AND grp_exact = 1)
      |      OR (dom_exact = 0 AND grp_star = 1)),
      | rrules AS (SELECT DISTINCT rg.reg_domain,
      |     directive = 'allow' AS is_allow, value AS prefix
      |   FROM rg JOIN rgov ON rg.reg_domain = rgov.reg_domain
      |     AND rg.grp = rgov.grp
      |   WHERE directive IN ('allow', 'disallow') AND value <> '')""".stripMargin

  /** `RobotsOps.ruleMatches` as a DuckDB boolean expression over a path
    * expression and a rule-pattern expression — the same two-tier match
    * (plain starts_with fast path; `*`/trailing-`$` patterns compiled
    * to an anchored regex with the same escape set, `*` → `.*`, a
    * trailing `$` → end anchor, mid-pattern `$` literal). ONE
    * definition for the x133 and x136 admission joins.
    */
  private def ruleMatchSql(path: String, pat: String): String =
    s"""CASE WHEN $pat NOT LIKE '%*%' AND $pat NOT LIKE '%$$'
      |       THEN starts_with($path, $pat)
      |       ELSE regexp_matches($path, '^' || replace(regexp_replace(
      |         CASE WHEN $pat LIKE '%$$'
      |              THEN substr($pat, 1, len($pat) - 1) ELSE $pat END,
      |         '([.\\[\\]{}()+?^$$|\\\\])', '\\\\\\1', 'g'), '*', '.*') ||
      |         CASE WHEN $pat LIKE '%$$' THEN '$$' ELSE '' END)
      |  END""".stripMargin

  /** `UrlOps.resolveUrl` as a DuckDB CASE over a base expression and a
    * ref expression — the same six arms the inline copies in
    * [[linkSynthCtesSql]] and the x138 mirror carry (those predate
    * this helper and stay verbatim; new oracles compose THIS).
    */
  private def resolveCaseSql(base: String, ref: String): String =
    s"""CASE
      |       WHEN regexp_matches($ref, '^[A-Za-z][A-Za-z0-9+.-]*://')
      |         THEN $ref
      |       WHEN $ref LIKE '//%' THEN
      |         lower(regexp_extract($base,
      |           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || ':' || $ref
      |       WHEN $ref LIKE '/%' THEN
      |         regexp_extract($base,
      |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) || $ref
      |       WHEN $ref LIKE '?%' THEN
      |         regexp_extract($base,
      |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) ||
      |         regexp_extract($base,
      |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) || $ref
      |       WHEN $ref = '' OR $ref LIKE '#%' THEN $base
      |       ELSE regexp_extract($base,
      |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) ||
      |         regexp_replace(regexp_extract($base,
      |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |           '/[^/]*$$', '') || '/' ||
      |         regexp_replace($ref, '#.*$$', '')
      |     END""".stripMargin

  /** The x134/x136 page + link synthesis, href extraction, and RFC 3986
    * resolve, DuckDB side — mirrors [[linkBase]], [[linkHtmlFixture]],
    * [[graft.ops.HtmlOps.extractLinks]], and
    * [[graft.ops.UrlOps.resolveUrl]] (same regexes). Ends at
    * `lr(doc_id, src_domain, url)`.
    */
  private lazy val linkSynthCtesSql: String =
    s"""lb AS (SELECT doc_id,
      |     'https://s' || (doc_id % 5)::VARCHAR || '.example-' ||
      |     (doc_id % 5)::VARCHAR || '.com/dir/page/' || doc_id::VARCHAR
      |       AS base,
      |     'example-' || (doc_id % 5)::VARCHAR || '.com' AS src_domain,
      |     '<html><body><p>Doc ' || doc_id::VARCHAR || '</p>' ||
      |     '<a href="https://s' || ((doc_id + 1) % 5)::VARCHAR ||
      |       '.example-' || ((doc_id + 1) % 5)::VARCHAR ||
      |       '.com/dir/page/' || (doc_id + 1)::VARCHAR ||
      |       '?utm_source=feed">next</a>' ||
      |     '<A HREF="HTTPS://S' || ((doc_id + 2) % 5)::VARCHAR ||
      |       '.Example-' || ((doc_id + 2) % 5)::VARCHAR ||
      |       '.COM/dir//page/' || (doc_id + 2)::VARCHAR ||
      |       '/">caps</A>' ||
      |     '<a href="/root/' || (doc_id % 10)::VARCHAR ||
      |       '">rooted</a>' ||
      |     '<a href="sub/' || (doc_id % 3)::VARCHAR || '">rel</a>' ||
      |     '<a href="//cdn.example.net/lib/' || (doc_id % 4)::VARCHAR ||
      |       '">cdn</a>' ||
      |     '<a href="?page=' || (doc_id % 3)::VARCHAR || '">pg</a>' ||
      |     '<a href="#top">top</a>' ||
      |     '<a href=''single' || doc_id::VARCHAR || '''>sq</a>' ||
      |     '<a name="anchor">no href</a>' ||
      |     '<a data-href="/fake/' || doc_id::VARCHAR ||
      |       '">not a link</a>' ||
      |     '</body></html>' AS html
      |   FROM documents),
      | lx AS (SELECT doc_id, src_domain, base,
      |     unnest(list_filter(list_transform(regexp_extract_all(html,
      |       '(?is)<a\\s(?:[^>]*?\\s)?href\\s*=\\s*"([^"]*)"', 1),
      |       r -> trim(r)), r -> r <> '')) AS ref
      |   FROM lb),
      | lr AS (SELECT doc_id, src_domain,
      |     CASE
      |       WHEN regexp_matches(ref, '^[A-Za-z][A-Za-z0-9+.-]*://')
      |         THEN ref
      |       WHEN ref LIKE '//%' THEN
      |         lower(regexp_extract(base,
      |           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || ':' || ref
      |       WHEN ref LIKE '/%' THEN
      |         regexp_extract(base,
      |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) || ref
      |       WHEN ref LIKE '?%' THEN
      |         regexp_extract(base,
      |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) ||
      |         regexp_extract(base,
      |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) || ref
      |       WHEN ref = '' OR ref LIKE '#%' THEN base
      |       ELSE regexp_extract(base,
      |           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) ||
      |         regexp_replace(regexp_extract(base,
      |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |           '/[^/]*$$', '') || '/' ||
      |         regexp_replace(ref, '#.*$$', '')
      |     END AS url
      |   FROM lx)""".stripMargin

  /** The [[urlCanonCtesSql]] chain over ANY source CTE `src(keys..., url)`
    * — the ONE canonicalization definition, reused by the x133 robots
    * gate (over the x131 synthesis) and the x134/x136 link tiers (over
    * resolved hrefs). `keys` are carried through untouched; the chain
    * ends at `ur(keys..., url, canon_url, host, reg_domain)`.
    * `suffixes` mirrors RegisteredDomainOf's data parameter (default:
    * the built-in subset; x131 passes its loaded-PSL set).
    */
  private def urlCanonCtesOver(src: String, keys: String,
      suffixes: Seq[String] =
        graft.ops.UrlOps.MultiLabelSuffixes): String = {
    val track = graft.ops.UrlOps.TrackingParams
      .map(p => s"'$p'").mkString(", ")
    val multi = suffixes
      .map(p => s"'$p'").mkString(", ")
    s"""up AS (SELECT $keys, url,
      |     lower(nullif(regexp_extract(url,
      |       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) sch,
      |     regexp_extract(url,
      |       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) auth,
      |     regexp_extract(url,
      |       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) rawpath,
      |     regexp_extract(url, '^[^#]*?\\?([^#]*)', 1) rawq
      |   FROM $src),
      | uh AS (SELECT *, nullif(regexp_replace(regexp_replace(
      |       lower(regexp_extract(regexp_extract(auth, '([^@]*)$$', 1),
      |         '^([^:]*)', 1)),
      |       '\\.$$', ''), '^www\\.', ''), '') AS host,
      |     nullif(regexp_extract(regexp_extract(auth, '([^@]*)$$', 1),
      |       ':([0-9]+)$$', 1), '') AS port
      |   FROM up),
      | uq AS (SELECT *, array_to_string(list_sort(list_filter(
      |       string_split(rawq, '&'),
      |       p -> p <> '' AND NOT regexp_matches(p, '^utm_') AND
      |            regexp_extract(p, '^([^=]*)', 1) NOT IN ($track))),
      |     '&') q
      |   FROM uh),
      | uc AS (SELECT $keys, url, host,
      |     CASE WHEN sch IS NULL OR host IS NULL THEN NULL ELSE
      |       sch || '://' || host ||
      |       CASE WHEN port IS NOT NULL AND
      |            NOT ((sch = 'http' AND port = '80') OR
      |                 (sch = 'https' AND port = '443'))
      |            THEN ':' || port ELSE '' END ||
      |       regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'),
      |         '/$$', '') ||
      |       CASE WHEN q <> '' THEN '?' || q ELSE '' END
      |     END AS canon_url
      |   FROM uq),
      | ur AS (SELECT $keys, url, canon_url, host,
      |     CASE WHEN host IS NULL THEN NULL
      |          WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) = ''
      |            THEN host
      |          WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
      |              IN ($multi) AND
      |            regexp_extract(host,
      |              '([^.]+\\.[^.]+\\.[^.]+)$$', 1) <> ''
      |            THEN regexp_extract(host,
      |              '([^.]+\\.[^.]+\\.[^.]+)$$', 1)
      |          ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
      |     END AS reg_domain
      |   FROM uc)""".stripMargin
  }

  /** Shared BPE-training CTE chain (x70/x71): word-frequency table, char
    * symbol init, then 8 unrolled merge iterations. Each `v{i}` carries the
    * vocab after i merges; each `b{i}` the winning pair. The list_reduce
    * fold mirrors `BpeOps.mergePair` token-for-token (seed '' prepended;
    * tail test pinned to the symbol boundary by the leading space).
    */
  private lazy val bpeTrainSql: String = {
    val head =
      """w0 AS (SELECT unnest(string_split(text,' ')) word FROM documents),
        | wf AS (SELECT word, count(*)::BIGINT freq FROM w0
        |   WHERE word <> '' GROUP BY word),
        | v0 AS (SELECT word, freq,
        |   array_to_string(string_split(word,''), ' ') syms FROM wf)""".stripMargin
    val iters = (1 to 8).map { i =>
      val prev = s"v${i - 1}"
      s"""pc$i AS (SELECT e.l l, e.r r, (sum(freq))::BIGINT cnt FROM (
         |   SELECT freq, unnest(list_transform(
         |       range(1, len(string_split(syms,' '))),
         |       k -> struct_pack(l := string_split(syms,' ')[k],
         |                        r := string_split(syms,' ')[k+1]))) e
         |   FROM $prev) GROUP BY 1, 2),
         | b$i AS (SELECT l, r, cnt FROM pc$i ORDER BY cnt DESC, l, r LIMIT 1),
         | v$i AS (SELECT word, freq,
         |   list_reduce(list_prepend('', string_split(syms,' ')),
         |     (acc, x) -> CASE WHEN acc = '' THEN x
         |       WHEN x = b.r AND (acc = b.l OR (length(acc) > length(b.l)
         |         AND substr(acc, length(acc)-length(b.l), length(b.l)+1)
         |               = ' ' || b.l))
         |       THEN substr(acc, 1, length(acc)-length(b.l)) || b.l || b.r
         |       ELSE acc || ' ' || x END) syms
         |   FROM $prev CROSS JOIN b$i b)""".stripMargin
    }
    (head +: iters).mkString(",\n ")
  }

  // lazy: referenced from the catalog's oracle interpolations above —
  // object-init order would otherwise read them as null
  /** Shared curation-oracle CTE head (x34/x64): quality filter (q) →
    * exact-dedup keepers (k1) → survivors (s) → their distinct 3-gram
    * shingles (sh) and per-doc shingle counts (n). ONE definition — the
    * two curation oracles may only differ in how they produce `inter`
    * (the per-pair intersection counts), mirroring the Scala
    * `curationSurvivors`/`curationResult` split.
    */
  private lazy val curationHeadSql =
    s"""q AS (SELECT doc_id, text FROM documents
      |   WHERE len(string_split(text,' ')) >= 20
      |     AND floor(len(regexp_replace(text,'[^a-z]','','g'))::DOUBLE * 10000
      |           / len(text)::DOUBLE) >= 7000),
      | k1 AS (SELECT min(doc_id) doc_id FROM q GROUP BY md5(text)),
      | s AS (SELECT q.doc_id, q.text FROM q JOIN k1 USING (doc_id)),
      | ${word3gramCtes("s")},
      | n AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1)""".stripMargin

  /** Shared curation-oracle tail: jaccard threshold over `inter` →
    * symmetric edges → recursive reachability → drop non-representatives
    * → surviving keeper ids.
    */
  private lazy val curationTailSql =
    s"""$jaccardPairsSql,
      | $reachSql,
      | dropd AS (SELECT a AS doc_id FROM reach GROUP BY a
      |   HAVING least(a, min(b)) < a)
      | SELECT doc_id FROM k1
      | EXCEPT SELECT doc_id FROM dropd
      | ORDER BY doc_id""".stripMargin
}
