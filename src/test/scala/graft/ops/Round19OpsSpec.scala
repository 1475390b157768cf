package graft.ops

import graft.SparkSpec

/** Round-19 wave 1: the share-thresholded script router (a quoted
  * phrase must never flip a page's language). The per-script trigram
  * routing and the duplicate-profile row guard on the language-aware
  * Gopher battery are in [[TextOpsSpec]].
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
}
