package graft.ops

import graft.SparkSpec

/** Integer PageRank (GraphOps.pageRankInt): hand-computed fixpoints on
  * tiny graphs, the documented dangling/self-loop semantics, rank-mass
  * sanity, and the loud guards; integer HITS (GraphOps.hitsInt) against
  * its hand computation.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def pr(edges: Seq[(String, String, Long)], iters: Int) =
    GraphOps.pageRankInt(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("one iteration on a two-node cycle is the hand computation") {
    // a <-> b, unit weights: out_w = 1 both sides, rank_0 = 1e6
    // contrib = 1e6 div 1 = 1e6; rank_1 = 150000 + (85*1e6) div 100
    val r = pr(Seq(("a", "b", 1L), ("b", "a", 1L)), 1)
    assert(r("a") == 150000L + 85L * 1000000L / 100L)
    assert(r("b") == r("a"))
  }

  test("a fan-out divides rank by total out-weight with integral div") {
    // s -> a (w=2), s -> b (w=1): out_w(s)=3
    // contrib(a) = (1e6*2) div 3 = 666666; contrib(b) = 1e6 div 3 = 333333
    val r = pr(Seq(("s", "a", 2L), ("s", "b", 1L)), 1)
    assert(r("a") == 150000L + 85L * 666666L / 100L)
    assert(r("b") == 150000L + 85L * 333333L / 100L)
    // s has no in-edges: base term only
    assert(r("s") == 150000L)
  }

  test("two iterations chain: hop-2 inflow uses hop-1 ranks") {
    // a -> b -> c (unit weights); c dangling (mass dropped)
    val r1 = pr(Seq(("a", "b", 1L), ("b", "c", 1L)), 1)
    assert(r1("a") == 150000L)
    assert(r1("b") == 1000000L)     // 150000 + 850000
    assert(r1("c") == 1000000L)
    val r2 = pr(Seq(("a", "b", 1L), ("b", "c", 1L)), 2)
    assert(r2("a") == 150000L)
    // b's only in-edge carries rank_1(a) = 150000
    assert(r2("b") == 150000L + 85L * 150000L / 100L)
    // c's only in-edge carries rank_1(b) = 1000000
    assert(r2("c") == 1000000L)
  }

  test("self-loops are dropped and contribute nothing") {
    val r = pr(Seq(("a", "a", 5L), ("a", "b", 1L)), 1)
    // out_w(a) = 1 after the self-loop drop, so b gets the full rank
    assert(r("b") == 150000L + 85L * 1000000L / 100L)
    assert(r("a") == 150000L)
  }

  test("rank mass never exceeds base + damped total (no amplification)") {
    val edges = (0L until 40L).map(i =>
      (s"n$i", s"n${(i * 7 + 3) % 40}", 1L + i % 3))
    val r = pr(edges, 4)
    val total = r.values.sum
    // conservation bound: per iteration total <= N*base + 0.85*prevTotal;
    // fixpoint bound N*base/(1-0.85) = N*1e6
    assert(total <= 40L * 1000000L)
    assert(r.values.forall(_ >= 150000L))
  }

  test("guards fire loudly on bad iteration counts and scales") {
    val e = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      GraphOps.pageRankInt(e, 0)
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRankInt(e, 1, scale = 10L)
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRankInt(e, 1, dampNum = 101L)
    }
  }

  test("hitsInt: one iteration on A->B, A->C, B->C matches the " +
      "hand-computed max-normalized integer scores") {
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L))
      .toDF("src", "dst", "w")
    val out = GraphOps.hitsInt(edges, iterations = 1)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // auth raw: B = 1e6, C = 2e6; max 2e6 -> B 500000, C 1000000, A 0
    // hub raw: A = a'(B)+a'(C) = 1.5e6, B = a'(C) = 1e6; max 1.5e6
    //   -> A 1000000, B 666666, C 0
    assert(out == Seq(("A", 0L, 1000000L), ("B", 500000L, 666666L),
      ("C", 1000000L, 0L)))
    // a second iteration keeps scores bounded at scale and the same
    // relative order on this graph
    val out2 = GraphOps.hitsInt(edges, iterations = 2)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out2.forall(r => r._2 <= 1000000L && r._3 <= 1000000L))
    assert(out2.map(_._1) == Seq("A", "B", "C"))
    // authorities: C > B > A; hubs: A > B > C — the structure is stable
    val byNode = out2.map(r => r._1 -> r).toMap
    assert(byNode("C")._2 > byNode("B")._2 &&
      byNode("B")._2 > byNode("A")._2)
    assert(byNode("A")._3 > byNode("B")._3 &&
      byNode("B")._3 > byNode("C")._3)
  }
}
