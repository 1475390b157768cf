package graft.ops

import graft.SparkSpec

/** Duplicated-span detection and removal (DedupOps.duplicatedSpans,
  * DedupOps.removeSpans — one positional-shingle and island-merge core):
  * maximal cross-doc and within-doc spans, adjacent-coverage merges,
  * first-occurrence-kept excision, sub-k docs and the parameter guards.
  */
class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  test("duplicatedSpans finds maximal cross-doc spans, within-doc repeats, and merges adjacent coverage") {
    val docs = Seq(
      // docs 10/11 share the 7-token run D1..D7 inside unique filler:
      // dup shingle positions {3,4,5} and {2,3,4} merge to 7-token spans
      (10L, "a1 a2 a3 D1 D2 D3 D4 D5 D6 D7 a4 a5"),
      (11L, "b1 b2 D1 D2 D3 D4 D5 D6 D7 b3"),
      // doc 12 repeats R1..R5 internally: two islands (8 > 1 + 5)
      (12L, "c1 R1 R2 R3 R4 R5 c2 c3 R1 R2 R3 R4 R5 c4"),
      // docs 13/14 share blocks A1..A5 and B1..B5; contiguous in 13
      // (positions 0 and 5 merge: 5 <= 0+5) but split by a token in 14
      (13L, "A1 A2 A3 A4 A5 B1 B2 B3 B4 B5"),
      (14L, "A1 A2 A3 A4 A5 zz B1 B2 B3 B4 B5"),
      (15L, "tiny doc"),                         // sub-k: zero positions
      (16L, "e1 e2 e3 e4 e5 e6 e7 e8")           // unique: no spans
    ).toDF("doc_id", "text")
    val spans = DedupOps.duplicatedSpans(docs, "doc_id", "text", k = 5)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq(
      (10L, 3L, 7L), (11L, 2L, 7L),
      (12L, 1L, 5L), (12L, 8L, 5L),
      (13L, 0L, 10L),
      (14L, 0L, 5L), (14L, 6L, 5L)))
  }

  test("duplicatedSpans rejects degenerate parameters") {
    val docs = Seq((0L, "x y")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      DedupOps.duplicatedSpans(docs, "doc_id", "text", k = 0)
    }
    intercept[IllegalArgumentException] {
      DedupOps.duplicatedSpans(docs, "doc_id", "text", minCount = 1)
    }
  }

  test("removeSpans keeps the first occurrence and excises the rest") {
    val boiler = "one two three four five" // exactly k=5 tokens
    val docs = Seq(
      (1L, s"$boiler unique tail of document one"),
      (2L, s"leading words here $boiler and a suffix"),
      (3L, "no duplicated content in this document at all"))
      .toDF("doc_id", "text")
    val out = DedupOps.removeSpans(docs, "doc_id", "text", k = 5,
        minCount = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    // doc 1 holds the FIRST occurrence (lowest (id, p)) — untouched
    assert(out(1L) == (s"$boiler unique tail of document one", 0L))
    // doc 2's occurrence is excised, surroundings survive
    assert(out(2L) == ("leading words here and a suffix", 5L))
    assert(out(3L) == ("no duplicated content in this document at all", 0L))
  }

  test("removeSpans excises within-doc repetition beyond the first run") {
    // the same 5-token phrase three times in ONE doc: occurrence one is
    // first (kept); the rest is removable. Islands merge the two later
    // occurrences (gap <= k) into one span.
    val p = "a b c d e"
    val docs = Seq((1L, s"$p x $p y $p")).toDF("doc_id", "text")
    val out = DedupOps.removeSpans(docs, "doc_id", "text", k = 5,
      minCount = 2).collect().head
    assert(out.getString(1) == s"$p x y")
    assert(out.getLong(2) == 10L)
  }

  test("removeSpans can empty a doc and handles sub-k docs") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"), // first occurrence — kept
      (2L, "w1 w2 w3 w4 w5"), // fully removable
      (3L, "tiny doc")) // < k tokens: zero shingles, untouched
      .toDF("doc_id", "text")
    val out = DedupOps.removeSpans(docs, "doc_id", "text", k = 5,
        minCount = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(out(1L) == ("w1 w2 w3 w4 w5", 0L))
    assert(out(2L) == ("", 5L))
    assert(out(3L) == ("tiny doc", 0L))
  }
}
