package graft.ops

import graft.SparkSpec

/** TextOps language routing and the language-aware Gopher battery (the
  * CCNet discipline): per-language Gopher profiles, with the
  * English-defaults fallback proven bit-for-bit and the duplicate-profile
  * row guard, and `langIdRouted`'s per-script trigram routing for the
  * non-latin alphabetic web. The per-language C4 line rules are in
  * [[HtmlOpsSpec]].
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private val frProfile = Seq(
    ("fr", Seq("le", "la", "les", "de", "du", "des", "et", "un", "une",
      "en"), 2L, 10L, 100000L, 250L, 1000L, 8000L))
  private val profCols = Seq("lang", "stop_words", "min_stop_hits",
    "min_words", "max_words", "min_word_len_centi", "max_word_len_centi",
    "min_alpha_bp")

  test("gopherFilterByLang: a French doc fails the English stopword " +
      "probe but passes under its language profile") {
    val fr = "le temps et la vie de la mer ont un moment prudent " +
      "dans le coin du monde aujourdhui vraiment."
    val docs = Seq((1L, "fr", fr)).toDF("doc_id", "lang", "text")
    // English-only config drops it (no English stopwords present)
    val eng = TextOps.gopherFilter(docs, "text", minWords = 10L).head()
    assert(!eng.getAs[Boolean]("keep") && eng.getAs[Long]("stop_hits") == 0L)
    // the fr profile keeps it
    val prof = frProfile.toDF(profCols: _*)
    val aware = TextOps.gopherFilterByLang(docs, prof).head()
    assert(aware.getAs[Boolean]("keep"))
    assert(aware.getAs[Long]("stop_hits") >= 2L)
    // the non-language rules kept their global bounds
    assert(aware.getAs[Boolean]("keep_dup") && aware.getAs[Boolean]("keep_sym"))
  }

  test("gopherFilterByLang: a language with NO profile row gets " +
      "exactly gopherFilter's English decisions (the fallback arm)") {
    val docs = Seq(
      (1L, "en", "the study of the river and the stone that people " +
        "have kept with care over time here today."),
      (2L, "xx", "zz yy ww vv uu tt ss rr qq pp oo nn.")) // no stopwords
      .toDF("doc_id", "lang", "text")
    val prof = frProfile.toDF(profCols: _*) // no en/xx rows
    val aware = TextOps.gopherFilterByLang(docs, prof)
      .select("doc_id", "n_words", "mean_word_len_centi", "dup_word_bp",
        "alpha_word_bp", "sym_bp", "stop_hits", "keep")
      .orderBy("doc_id").collect()
    val base = TextOps.gopherFilter(docs, "text") // English defaults
      .select("doc_id", "n_words", "mean_word_len_centi", "dup_word_bp",
        "alpha_word_bp", "sym_bp", "stop_hits", "keep")
      .orderBy("doc_id").collect()
    assert(aware.toSeq == base.toSeq) // bit-for-bit, incl. minWords=50
  }

  test("gopherFilterByLang: a NULL profile value falls back per-FIELD " +
      "(a one-column override works)") {
    // profile with ONLY min_words set (5); everything else NULL
    val prof = spark.sql(
      "SELECT 'en' AS lang, CAST(NULL AS ARRAY<STRING>) AS stop_words, " +
        "CAST(NULL AS BIGINT) AS min_stop_hits, 5L AS min_words, " +
        "CAST(NULL AS BIGINT) AS max_words, " +
        "CAST(NULL AS BIGINT) AS min_word_len_centi, " +
        "CAST(NULL AS BIGINT) AS max_word_len_centi, " +
        "CAST(NULL AS BIGINT) AS min_alpha_bp")
    val docs = Seq((1L, "en", "the cat and the dog have fun."))
      .toDF("doc_id", "lang", "text") // 7 words: fails default 50
    val r = TextOps.gopherFilterByLang(docs, prof).head()
    assert(r.getAs[Boolean]("keep_n_words")) // 7 >= overridden 5
    assert(r.getAs[Long]("stop_hits") == 3L) // default English probe
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
}
