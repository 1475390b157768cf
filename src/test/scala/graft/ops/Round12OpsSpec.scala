package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-12 operators: Bloom-backed incremental dedup (x73); the span
  * removal (x74) cases are [[DedupOpsSpec]]'s.
  */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  test("incrementalDedup bloom=true is row-identical to the plain path") {
    // ref corpus 0..9; new corpus 250.. with: an exact dup of ref 0, a
    // near-dup of ref 1 (>= 0.5 jaccard on 3-gram shingles), and clean
    // docs. mBits=64 deliberately tiny so false positives are NEAR-CERTAIN
    // — the equivalence must hold because FPs re-check exactly, not
    // because the sketch was clean.
    val ref = (0 until 10).map(i =>
      (i.toLong, s"ref document number $i body alpha beta gamma delta $i"))
      .toDF("doc_id", "text")
    val nw = Seq(
      (250L, "ref document number 0 body alpha beta gamma delta 0"), // exact
      (251L, "ref document number 1 body alpha beta gamma delta XX"), // near
      (252L, "completely different text about something else entirely here"),
      (253L, "another unique new document with its own fresh content words"))
      .toDF("doc_id", "text")
    val sh = TextOps.wordShingles(col("text"), 3)
    val plain = DedupOps.incrementalDedup(nw, ref, "doc_id", "text", sh, 0.5)
    val bloomed = DedupOps.incrementalDedup(nw, ref, "doc_id", "text", sh,
      0.5, bloom = true, bloomBits = 64, bloomHashes = 4)
    assert(ids(plain) == ids(bloomed))
    assert(ids(plain) == Set(252L, 253L)) // exact AND near dups dropped
  }

  test("minhashGroupSimilarity: identical groups 10000 bp, disjoint 0") {
    val docs = Seq(
      (1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "srcB", "alpha beta gamma delta epsilon zeta eta theta"), // = A
      (3L, "srcC", "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "source", "text")
    val sim = DedupOps.minhashGroupSimilarity(docs, "source",
        TextOps.wordShingles(col("text"), 3), numHashes = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(sim(("srcA", "srcB")) == (16L, 10000L)) // identical shingle sets
    assert(sim(("srcA", "srcC")) == (0L, 0L)) // no shared words at all
    assert(sim(("srcB", "srcC")) == (0L, 0L))
  }

  test("seenBeforeNovelty: first occurrence novel, copies derivative") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"), // 3 shingles, all first here
      (2L, "alpha beta gamma delta epsilon"), // exact copy: novelty 0
      (3L, "totally fresh words appear here")) // disjoint: novelty 10000
      .toDF("doc_id", "text")
    val out = DedupOps.seenBeforeNovelty(docs, "doc_id",
        TextOps.wordShingles(col("text"), 3))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out(1L) == (3L, 0L, 10000L))
    assert(out(2L) == (3L, 3L, 0L))
    assert(out(3L) == (3L, 0L, 10000L))
  }

  test("seenBeforeNovelty: sub-shingle docs emit no row") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "ab")).toDF("doc_id", "text")
    val ids = DedupOps.seenBeforeNovelty(docs, "doc_id",
        TextOps.wordShingles(col("text"), 3))
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L))
  }

  test("ohlcResample: open/close by (ts, id) order, ties deterministic") {
    val docs = Seq(
      // bucket 0 (interval 100s): ts ties at 10 broken by event_id
      (1L, 10L, 1L, 5.0), (1L, 10L, 2L, 7.0), (1L, 50L, 3L, 1.0),
      // bucket 1
      (1L, 110L, 4L, 9.0),
      // other key
      (2L, 20L, 5L, 3.0))
      .toDF("user_id", "sec", "event_id", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = TimeOps.ohlcResample(docs, "user_id", "ts", "event_id",
        "value", 100L * 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6))).toMap
    assert(out((1L, 0L)) == (5.0, 1.0, 7.0, 1.0, 3L)) // open=id1, close=id3
    assert(out((1L, 1L)) == (9.0, 9.0, 9.0, 9.0, 1L))
    assert(out((2L, 0L)) == (3.0, 3.0, 3.0, 3.0, 1L))
  }

  test("rollingTimeWindow: RANGE frame includes ts peers, respects gaps") {
    val docs = Seq(
      (1L, 10L, 1L, 1.0), (1L, 10L, 2L, 2.0), // peers: both see both
      (1L, 100L, 3L, 4.0), // 90s after: inside the 120s window
      (1L, 500L, 4L, 8.0)) // isolated by the gap
      .toDF("user_id", "sec", "event_id", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = TimeOps.rollingTimeWindow(docs, "user_id", "ts", "event_id",
        "value", 120L * 1000000)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == (30000L, 2L)) // 3.0 e4: peer rows see each other
    assert(out(2L) == (30000L, 2L))
    assert(out(3L) == (70000L, 3L)) // 1+2+4
    assert(out(4L) == (80000L, 1L)) // the gap emptied the frame
  }

  test("containmentPairs finds the short-in-long pair Jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta" // 4 shingles
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, small),
      (2L, s"$small $filler"), // contains ALL of doc 1 + 60 unique words
      (3L, "completely unrelated content with other words here"))
      .toDF("doc_id", "text")
    val sh = TextOps.wordShingles(col("text"), 3)
    // exact = true: this pair's ρ (size ratio) ≈ 0.06 drives its Jaccard
    // toward 0, which is precisely the regime where MinHash banding (the
    // default arm) is documented to miss — the exact arm is the tool here
    val cont = DedupOps.containmentPairs(docs, "doc_id", sh, 0.9, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(cont.keySet == Set((1L, 2L)))
    assert(cont((1L, 2L))._1 == 10000L) // all of doc 1 inside doc 2
    assert(cont((1L, 2L))._2 < 2000L) // the reverse direction is small
    // the symmetric metric on the same corpus finds NOTHING at 0.5 —
    // the pair exists only through the asymmetric lens
    assert(DedupOps.ngramJaccardPairs(docs, "doc_id", sh, 0.5).count() == 0)
  }

  test("containmentPairs default (LSH-verify) arm: near-equal sizes exact") {
    // a quote-and-extend pair at moderate asymmetry: doc 2 = doc 1 plus a
    // 20% extension → ρ high enough that banding collides (J ≈ 0.75, band
    // hit P = 1-(1-J^4)^4 ≈ 0.89 per band set — and with 40 shared
    // shingles the minhash signatures collide on the shared prefix mass)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, s"$base extra1 extra2 extra3 extra4 extra5 extra6 extra7 extra8"),
      (3L, "a wholly different document about nothing shared at all"))
      .toDF("doc_id", "text")
    val sh = TextOps.wordShingles(col("text"), 3)
    val lsh = DedupOps.containmentPairs(docs, "doc_id", sh, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ex = DedupOps.containmentPairs(docs, "doc_id", sh, 0.9, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // the candidate-verify arm reproduces the exact arm's rows EXACTLY on
    // every pair banding proposes — true intersection counts, not
    // estimates — and here banding catches the one true pair
    assert(lsh == ex)
    assert(lsh.keySet == Set((1L, 2L)))
    assert(lsh((1L, 2L))._2 == 10000L) // doc 1 fully contained
  }

  test("mixtureSample keeps the binding domain whole, scales the rest") {
    // srcA 100 rows, srcB 400 rows, weights 1:1 → A binds (T = 200):
    // A keeps all 100, B keeps ~100 by hash; srcC is unweighted → dropped
    val docs = ((0 until 100).map(i => (i.toLong, "srcA")) ++
      (100 until 500).map(i => (i.toLong, "srcB")) ++
      (500 until 520).map(i => (i.toLong, "srcC")))
      .toDF("doc_id", "source")
    val kept = SampleOps.mixtureSample(docs, "doc_id", "source",
        Seq("srcA" -> 0.5, "srcB" -> 0.5))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!kept.contains("srcC"))
    assert(kept("srcA") == 100L) // rate 10000: the binding domain
    // B's acceptance is hash-thinned at rate 2500 bp: binomial around 100
    assert(kept("srcB") > 60L && kept("srcB") < 140L,
      s"srcB kept ${kept("srcB")}")
  }

  test("mixtureSample is deterministic and insensitive to partitioning") {
    val docs = (0 until 300).map(i => (i.toLong, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val w = Seq("src0" -> 0.6, "src1" -> 0.4)
    val a = SampleOps.mixtureSample(docs, "doc_id", "source", w)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = SampleOps.mixtureSample(docs.repartition(7), "doc_id", "source",
      w).select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty)
  }
}
