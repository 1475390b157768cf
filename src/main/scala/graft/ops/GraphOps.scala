package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Link-graph analytics over the crawl first mile's edge stream —
  * the priority signal a frontier scheduler ranks its fetch queue by
  * (Page, Brin et al. 1999; Cho/Garcia-Molina/Page WWW'98 used exactly
  * this to order a crawl). No reference analog (engine capability,
  * like the rest of the first-mile tier).
  *
  * All arithmetic is scaled-BIGINT (the x90/x135 micro-unit
  * convention): ranks live at a fixed integer `scale`, per-edge
  * contributions and the damping step use integral `div`, so every
  * intermediate is an exact Long and summation order cannot matter —
  * the DuckDB oracle is hash-exact by construction, not by rounding
  * luck.
  */
object GraphOps {

  /** Damped PageRank over a weighted directed edge list, computed in
    * exact integer arithmetic.
    *
    * Semantics (documented variant — deterministic and engine-portable):
    *
    *  - nodes = distinct sources ∪ distinct targets;
    *  - `rank_0(v) = scale`;
    *  - along edge (s→d, w): `contrib = (rank_i(s) * w) div out_w(s)`
    *    where `out_w(s)` = total outgoing weight of `s`;
    *  - `rank_{i+1}(d) = (scale * (dampDen - dampNum)) div dampDen
    *    + (dampNum * Σ contrib(d)) div dampDen`;
    *  - a node with no in-edges holds the base term; DANGLING mass (a
    *    node with no out-edges) is DROPPED, not redistributed — the
    *    crawl-prioritization reading (relative order is the product;
    *    redistribution adds a uniform term that cannot reorder nodes).
    *
    * Self-loops are dropped up front (`src = dst` contributes nothing
    * to a fetch-priority order and inflates a page's own rank).
    *
    * Scale shape: the edge list (with its per-source `out_w` folded in)
    * materializes ONCE via localCheckpoint; each iteration is one
    * src-keyed join of the node-sized rank table against the edges
    * (AQE broadcasts the rank side while it fits) + one map-side
    * combinable sum keyed by target + one left join back to the node
    * table — the canonical distributed power iteration, O(1) lineage
    * per round via the [[DedupOps.connectedComponents]] checkpoint
    * discipline. Driver state: nothing but the loop counter.
    *
    * Overflow bound: ranks are ≤ scale·N in the worst all-edges-in
    * case; `dampNum · Σ contrib` must stay under 2^63 — the default
    * scale of 10^6 leaves room for ~10^11 nodes before the bound
    * matters, and the require below keeps callers inside it.
    *
    * Input: `edges(srcCol, dstCol, wCol)` with positive Long weights.
    * Output: `(node, rank)` — one row per node, `rank` at `scale`.
    */
  def pageRankInt(edges: DataFrame, iterations: Int,
                  srcCol: String = "src", dstCol: String = "dst",
                  wCol: String = "w", scale: Long = 1000000L,
                  dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    requireRounds(iterations, scale)
    require(dampNum >= 0 && dampNum <= dampDen && dampDen >= 1,
      s"damping must satisfy 0 <= dampNum <= dampDen, got " +
        s"$dampNum/$dampDen")
    val base = scale * (dampDen - dampNum) / dampDen
    // out_w folded into the edge row once — the per-iteration join then
    // needs only the rank table
    val (e, nodes) = linkGraph(edges, srcCol, dstCol, wCol)(e0 =>
      e0.join(e0.groupBy("src").agg(sum("w").as("out_w")), Seq("src")))
    // the seed rank table is a literal projection of the checkpointed
    // node table — materializing it separately was a wasted job; only
    // ITERATION RESULTS checkpoint (each replaces the previous)
    val Seq(ranks) = rounds(iterations, Seq(e, nodes),
        Seq(nodes.withColumn("rank", lit(scale)))) { case Seq(ranks) =>
      val inflow = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("(rank * w) div out_w").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      Seq(nodes.join(inflow, nodes("node") === inflow("dst"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen"))
            .as("rank"))
        .localCheckpoint())
    }
    ranks
  }

  /** The argument guards [[pageRankInt]] and [[hitsInt]] share. */
  private def requireRounds(iterations: Int, scale: Long): Unit = {
    require(iterations >= 1 && iterations <= 64,
      s"iterations must be in [1, 64], got $iterations")
    require(scale >= 1000L && scale <= 1000000000L,
      s"scale must be in [10^3, 10^9], got $scale")
  }

  /** The shared frame of [[pageRankInt]] and [[hitsInt]]: the `(src,
    * dst, w)` edge projection without self-loops (`prep` may add
    * per-edge columns) materialized ONCE, and the materialized node
    * table = distinct sources ∪ targets.
    */
  private def linkGraph(edges: DataFrame, srcCol: String, dstCol: String,
                        wCol: String)(
                        prep: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val e = prep(edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(wCol).cast("long").as("w"))
      .filter(col("src") =!= col("dst")))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    (e, nodes)
  }

  /** `iterations` rounds of `step` from `seed`: each round's
    * checkpointed frames replace the previous round's, whose blocks are
    * released (the seed is a plan, not a checkpoint, so it is kept). The
    * loop-scoped `graph` frames are released at the end too — the
    * returned frames are materialized checkpoints (iterations >= 1) with
    * no lineage into them, and repeated calls in a long-lived session
    * must not pin them in executor storage.
    */
  private def rounds(iterations: Int, graph: Seq[DataFrame],
                     seed: Seq[DataFrame])(
                     step: Seq[DataFrame] => Seq[DataFrame]): Seq[DataFrame] = {
    var cur = seed
    for (it <- 0 until iterations) {
      val next = step(cur)
      if (it > 0) cur.foreach(Bridge.unpersistCheckpoint)
      cur = next
    }
    graph.foreach(Bridge.unpersistCheckpoint)
    cur
  }

  /** HITS hubs & authorities (Kleinberg JACM 1999) in exact integer
    * arithmetic — the OTHER classic link signal a crawl scheduler
    * consumes: PageRank ranks by endorsement flow, HITS separates
    * DIRECTORY pages (hubs: point at good authorities) from CONTENT
    * pages (authorities: pointed at by good hubs) — the two lists a
    * seed-selection or frontier-mix policy wants separately.
    *
    * Semantics (documented variant — deterministic and
    * engine-portable):
    *
    *  - nodes = distinct sources ∪ targets; self-loops dropped;
    *  - `hub_0(v) = scale`;
    *  - per iteration: `auth(v) = Σ_{u→v} hub(u)·w`, then normalize
    *    `auth' = auth·scale div max(auth)` (max-normalization — the
    *    power iteration needs SOME normalization to stay bounded, and
    *    integral div by the max is exact and order-preserving where
    *    the textbook L2 norm is not portable across engines);
    *    `hub(v) = Σ_{v→w} auth'(w)·w`, normalized the same way;
    *  - a node with no in-edges holds authority 0, no out-edges hub 0.
    *
    * Scale shape: the [[pageRankInt]] discipline, one code path
    * ([[linkGraph]], [[rounds]]) — edges materialize ONCE
    * (localCheckpoint); each iteration is two node-sized keyed
    * joins + two map-side-combinable sums + two 1-ROW max aggregates
    * broadcast back (a crossJoin of a single row — never a shuffle of
    * the node table). Iteration results checkpoint and replace;
    * driver state is the loop counter.
    *
    * Overflow bound: normalized scores are ≤ scale, so a sum is ≤
    * scale · (max weighted degree); the default 10^6 scale leaves
    * room for degree·w up to ~9·10^12.
    *
    * Output: `(node, authority, hub)` — one row per node, both at
    * `scale`.
    */
  def hitsInt(edges: DataFrame, iterations: Int,
              srcCol: String = "src", dstCol: String = "dst",
              wCol: String = "w", scale: Long = 1000000L): DataFrame = {
    requireRounds(iterations, scale)
    val (e, nodes) = linkGraph(edges, srcCol, dstCol, wCol)(identity)
    // normalize a raw score column against its 1-row max (broadcast
    // cross join; max of an all-zero round is 0 -> greatest(..,1)
    // keeps the div total and the zeros zero)
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val mx = raw.agg(max(col(c)).as("__mx"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"(coalesce($c, 0L) * $scale) div greatest(__mx, 1L)")
            .as(c))
    }
    val Seq(auths, hubs) = rounds(iterations, Seq(e, nodes),
        Seq(nodes.withColumn("hub", lit(scale)))) { prev =>
      val hubs = prev.last
      val aRaw = e.join(hubs, e("src") === hubs("node"))
        .select(col("dst"), expr("hub * w").as("c"))
        .groupBy(col("dst").as("node")).agg(sum("c").as("authority"))
      val aN = normalized(aRaw, "authority").localCheckpoint()
      val hRaw = e.join(aN, e("dst") === aN("node"))
        .select(col("src"), expr("authority * w").as("c"))
        .groupBy(col("src").as("node")).agg(sum("c").as("hub"))
      Seq(aN, normalized(hRaw, "hub").localCheckpoint())
    }
    auths.join(hubs, Seq("node"))
  }
}
