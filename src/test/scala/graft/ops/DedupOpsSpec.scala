package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Duplicated-span detection and removal (DedupOps.duplicatedSpans,
  * DedupOps.removeSpans — one positional-shingle and island-merge core):
  * maximal cross-doc and within-doc spans, adjacent-coverage merges,
  * first-occurrence-kept excision, sub-k docs and the parameter guards;
  * and `nearDupPairs` (LSH-verify by default, the exact enumeration an
  * opt-in) with its salted candidate-verify.
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

  private def corpus: org.apache.spark.sql.DataFrame = {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (0L, base),
      (1L, base + " today"),                         // near-dup of 0
      (2L, "completely different words in this one"),
      (3L, base.replace("quick", "slow")),           // near-dup of 0
      (4L, "another unrelated document about spark joins and shuffles"),
      (5L, base)                                     // exact dup of 0
    ).toDF("doc_id", "text")
  }

  test("nearDupPairs default (LSH-verify) and exact arm agree on planted near-dups") {
    val sh = TextOps.wordShingles(col("text"), 3)
    val exact = DedupOps.nearDupPairs(corpus, "doc_id", sh, 0.5, exact = true)
      .select("i", "j", "jaccard_bp").collect().toSet
    val lsh = DedupOps.nearDupPairs(corpus, "doc_id", sh, 0.5)
      .select("i", "j", "jaccard_bp").collect().toSet
    // at J well above the banding threshold the LSH path must find every
    // exact pair with the SAME verified jaccard; the fixture's pairs are
    // all J >= 0.85 where P(banding miss) ~ 0
    assert(exact.nonEmpty, "fixture must plant near-dup pairs")
    assert(lsh == exact,
      s"default path ${lsh.size} pairs, exact arm ${exact.size}: must agree")
  }

  test("nearDupPairs default never reports a pair below threshold (verify is exact)") {
    val sh = TextOps.wordShingles(col("text"), 3)
    val rows = DedupOps.nearDupPairs(corpus, "doc_id", sh, 0.5).collect()
    rows.foreach { r =>
      assert(r.getLong(2) >= 5000L,
        s"pair (${r.getLong(0)},${r.getLong(1)}) verified at ${r.getLong(2)}bp < threshold")
    }
  }

  test("salted candidate-verify matches the unsalted result under a planted hot key") {
    // one boilerplate template near-duplicated 60x: doc 0 is a hot i in
    // the candidate set (paired with every clone), the x64 skew scenario
    val words = (0 until 30).map(i => s"w$i").mkString(" ")
    val hot = (0L until 60L).map(i => (i, s"$words tail$i")) ++
      (100L until 140L).map(i => (i, s"unrelated document number $i with its own words ${i * 7}"))
    val docs = hot.toDF("doc_id", "text")
    val sh = TextOps.wordShingles(col("text"), 3)
    val unsalted = DedupOps.nearDupPairs(docs, "doc_id", sh, 0.5, salts = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = DedupOps.nearDupPairs(docs, "doc_id", sh, 0.5, salts = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(unsalted.nonEmpty, "fixture must produce near-dup pairs")
    assert(unsalted.exists(_._1 == 0L), "doc 0 must be a hot candidate key")
    assert(salted == unsalted,
      s"salting changed the verify result: ${salted.size} vs ${unsalted.size}")
  }

  test("saltScatter bounds the hot key's per-reducer input") {
    // the verify's i-join reduces on (i, saltScatter(j, salts)): for a
    // hot i in P pairs, max task input is the largest scatter group —
    // assert it stays near P/salts instead of P
    val salts = 8
    val pairs = (1L to 400L).map(j => (0L, j)).toDF("i", "j")
    val groups = pairs
      .groupBy(col("i"), JoinOps.saltScatter(col("j"), salts).as("s"))
      .count().collect()
    assert(groups.length == salts, s"expected $salts scatter groups, got ${groups.length}")
    val max = groups.map(_.getLong(2)).max
    assert(max <= 2 * 400 / salts,
      s"hot key max reducer input $max exceeds 2x the even share ${400 / salts}")
  }
}
