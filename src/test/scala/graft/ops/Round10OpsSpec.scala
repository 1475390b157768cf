package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Unit specs for the round-10 operator surface: the `nearDupPairs`
  * default flip (LSH-verify is the path a caller gets without asking; the
  * exact enumeration is an opt-in) and salting (the duplicated-span cases
  * are [[DedupOpsSpec]]'s; the quantized IVF probe and multi-probe LSH
  * are [[VectorOpsSpec]]'s).
  * The kernel-level tests (`NearestCentroid`, `QuantizeVec`, the int8
  * dots, ABI/Borsh codegen) live in [[graft.functions.KernelsSpec]].
  * Tiny fixtures; the oracle-gated x34/x64 cover the sf-scale
  * cross-engine contract.
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

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

  test("qualityClassifierScore computes the quantized NB posterior exactly") {
    val docs = Seq(
      (0L, "the of and a in"),  // stop ratio 10000 -> good
      (1L, "the of and a in"),  // good (exact dup is fine)
      (2L, "b0 b1 b2 b3 b4")    // stop ratio 0 -> bad
    ).toDF("doc_id", "text")
    val rows = TextOps.qualityClassifierScore(docs, "doc_id")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // stop tokens: df=2 both good -> (2+1)*10000 div (2+2) = 7500
    // b* tokens:   df=1, gdf=0   -> (0+1)*10000 div (1+2) = 3333
    assert(rows.toSeq == Seq((0L, 5L, 7500L), (1L, 5L, 7500L), (2L, 5L, 3333L)))
  }
}
