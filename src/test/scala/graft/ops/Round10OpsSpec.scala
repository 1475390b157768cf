package graft.ops

import graft.SparkSpec

/** Unit specs for the round-10 operator surface: the quantized naive-Bayes
  * quality score (the `nearDupPairs` default flip, salting and the
  * duplicated-span cases are [[DedupOpsSpec]]'s; the quantized IVF probe
  * and multi-probe LSH are [[VectorOpsSpec]]'s).
  * The kernel-level tests (`NearestCentroid`, `QuantizeVec`, the int8
  * dots, ABI/Borsh codegen) live in [[graft.functions.KernelsSpec]].
  * Tiny fixtures; the oracle-gated x34/x64 cover the sf-scale
  * cross-engine contract.
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

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
