package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-19 wave 1: the share-thresholded script router (a quoted
  * phrase must never flip a page's language), the per-script trigram
  * routing for the non-latin alphabetic web, and the duplicate-profile
  * row guard on the language-aware Gopher battery.
  */
class Round19OpsSpec extends SparkSpec {
  import spark.implicits._

  test("scriptLangId: ONE quoted kana phrase no longer flips an " +
      "English page (share threshold), but a real CJK page still " +
      "routes — incl. a kanji-heavy Japanese page") {
    val enQuote = "the quick study of the river and the stone that " +
      "people said ありがとう one day have kept with care over time."
    val jaKanjiHeavy = "日本経済新聞の記事です。東京証券取引所で株価が上昇した。" // mostly kanji, some kana
    val docs = Seq((0L, enQuote), (1L, jaKanjiHeavy)).toDF("doc_id", "text")
    val got = TextOps.langIdRouted(docs).orderBy("doc_id")
      .select("script_lang", "pred_lang").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("und", "en"), ("ja", "ja")))
  }

  test("scriptLangId: CJK Extension A counts as han (the GB18030 " +
      "decode path can land it in the corpus)") {
    val extA = "㐀㐁㐂㐃㐄㐅㐆㐇" // U+3400.. — Ext A only
    val r = TextOps.scriptLangId(Seq((0L, extA)).toDF("doc_id", "text"))
      .head()
    assert(r.getAs[Long]("n_han") == 8L)
    assert(r.getAs[String]("script_lang") == "zh")
  }

  test("langIdRouted: a Cyrillic page with an inline latin brand name " +
      "competes only among the Cyrillic profiles — English cannot " +
      "steal it") {
    // enough English function words to out-hit ru on a GLOBAL argmax;
    // the cyrl routing must keep it ru
    val ru = "это новое сообщение на русском языке не только для " +
      "проверки работы the best of the and of the он писал но и для " +
      "оценки качества на сайте."
    val got = TextOps.langIdRouted(Seq((0L, ru)).toDF("doc_id", "text"))
      .select("script_lang", "pred_lang").head()
    assert(got.getString(0) == "cyrl" && got.getString(1) == "ru")
  }

  test("langIdRouted: every new script group routes to its own " +
      "language; zero group hits stay und") {
    val docs = Seq(
      (0L, "αυτό είναι ένα κείμενο και η δοκιμή της ημέρας."), // el
      (1L, "זהו טקסט חדש של המערכת עם את כל המילים."), // he
      (2L, "यह एक नया पाठ है जो हिंदी में लिखा गया है।"), // hi
      (3L, "درخت خانه کتاب")) // arabic-script chars, no ar/fa trigram hits
      .toDF("doc_id", "text")
    val got = TextOps.langIdRouted(docs).orderBy("doc_id")
      .select("pred_lang").as[String].collect().toSeq
    assert(got == Seq("el", "he", "hi", "und"))
  }

  test("gopherFilterByLang: a DUPLICATE profile row for one lang is " +
      "collapsed deterministically — doc rows never multiply") {
    val docs = Seq((1L, "fr", "le temps et la vie de la mer ont un " +
      "moment prudent dans le coin du monde aujourdhui vraiment."))
      .toDF("doc_id", "lang", "text")
    val frStops = Seq("le", "la", "les", "de", "du", "des", "et", "un",
      "une", "en")
    val dup = Seq(
      ("fr", frStops, 2L, 10L, 100000L, 250L, 1000L, 8000L),
      ("fr", frStops, 2L, 20L, 100000L, 250L, 1000L, 8000L)) // dup row
      .toDF("lang", "stop_words", "min_stop_hits", "min_words",
        "max_words", "min_word_len_centi", "max_word_len_centi",
        "min_alpha_bp")
    val got = TextOps.gopherFilterByLang(docs, dup).collect()
    assert(got.length == 1, "duplicate profile row multiplied doc rows")
    // max-collapse picks min_words 20 (field-wise struct max on equal
    // prefixes) -> the 17-word doc fails keep_n_words deterministically
    assert(!got.head.getAs[Boolean]("keep_n_words"))
  }

  test("gopherFilterByLang: a ru profile with min_alpha_bp 0 keeps a " +
      "Cyrillic doc the [a-zA-Z] floor would eat") {
    val ru = "это новое сообщение на русском языке не только для " +
      "проверки работы но и для оценки качества на сайте."
    val docs = Seq((1L, "ru", ru)).toDF("doc_id", "lang", "text")
    val prof = Seq(("ru", Seq("и", "в", "на", "не", "для", "но", "это",
      "что", "как", "по"), 2L, 10L, 100000L, 250L, 1000L, 0L))
      .toDF("lang", "stop_words", "min_stop_hits", "min_words",
        "max_words", "min_word_len_centi", "max_word_len_centi",
        "min_alpha_bp")
    // English config eats it twice over (stopwords AND the alpha floor)
    val eng = TextOps.gopherFilter(docs, "text", minWords = 10L).head()
    assert(!eng.getAs[Boolean]("keep_stop") && !eng.getAs[Boolean]("keep_alpha"))
    // its own profile keeps it
    assert(TextOps.gopherFilterByLang(docs, prof)
      .head().getAs[Boolean]("keep"))
  }
}
