package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Numeric determinism: every dot product is a LEFT FOLD in double —
  * `aggregate(zip_with(a,b,*), 0.0, +)` — which both Spark and DuckDB
  * (`list_reduce`) evaluate in index order, so results are bit-identical
  * IEEE doubles and the oracles can compare ranks and floored values
  * exactly. Spark's SIMD-friendly alternative (higher-order functions are
  * codegen'd) keeps this in whole-stage codegen.
  */
object VectorOps {

  /** Codegen'd left-fold dot product (graft.functions.FloatVecDot) — same
    * bit-exact semantics as `aggregate(zip_with(a,b,*), 0.0, +)` but ~50×
    * faster in pair joins (HOFs are CodegenFallback).
    */
  def dot(a: Column, b: Column): Column =
    Bridge.column(graft.functions.FloatVecDot(Bridge.expression(a), Bridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Recall of an ANN result set against exact ground truth, per query:
    * n_hit = |approx ∩ exact|, recall_bp = floor(10000·n_hit/n_exact) —
    * the index-quality gate every embedding pipeline runs after building
    * an approximate path (LSH buckets, IVF cells), answering "what did
    * the approximation lose" before it ships. One (query, neighbor)-keyed
    * left join + one per-query agg; both inputs are top-k result sets
    * (bounded k rows per query), so the join never touches raw vectors.
    * Both sides are SET-deduplicated first: a multi-probe result that
    * reports the same neighbor twice (e.g. a multi-table LSH collision)
    * must not join-multiply the counts and inflate recall.
    */
  def annRecall(approx: DataFrame, exact: DataFrame,
                qCol: String, nCol: String): DataFrame =
    exact.select(col(qCol), col(nCol)).distinct()
      .join(approx.select(col(qCol), col(nCol)).distinct()
          .withColumn("__hit", lit(1L)),
        Seq(qCol, nCol), "left")
      .groupBy(col(qCol))
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("recall_bp", TextOps.bp(col("n_hit"), col("n_exact")))

  /** (id, vec, norm) projection with zero-norm rows EXCLUDED — shared by
    * every cosine op. A zero/empty vector has no direction: its cosine is
    * 0/0 = NaN, and Spark's NaN-is-largest ordering would rank it ABOVE
    * every real neighbor and pass every `>= threshold` filter (in IVF a
    * zero-norm vector or centroid additionally corrupts cell assignment —
    * NaN ccos ranks first, collapsing the corpus into one cell). Rows
    * with no direction take no part in cosine ops; norms are precomputed
    * per side so each pair costs one dot, not three.
    */
  private[ops] def sided(df: DataFrame, idCol: String, vecCol: String,
                         id: String, v: String, n: String): DataFrame =
    df.select(col(idCol).as(id), col(vecCol).as(v), norm(col(vecCol)).as(n))
      .filter(col(n) > 0)

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. The corpus side of the join is the big side; the
    * query side should be small — Spark broadcasts it, so the "scan corpus ×
    * broadcast queries" plan reads the 100 TB side exactly once with no
    * shuffle of the corpus. Ranks tie-break on neighbor id over bit-exact
    * doubles → fully deterministic.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = sided(queries, idCol, vecCol, "qid", "qv", "qn")
    val c = sided(corpus, idCol, vecCol, "nid", "nv", "nn")
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
    rankTopK(scored, k)
  }

  /** Shared ANN output tail: per-query top-k over scored (qid, nid, cos)
    * candidates — rank ties break on neighbor id over bit-exact doubles
    * (fully deterministic), cosine reported in floor basis points. ONE
    * definition of the output contract for every ANN variant.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("rk"),
        floor(col("cos") * 10000).cast(LongType).as("cos_bp"))
  }

  /** Cosine top-k over SPARSE vectors — (id, bucket, val) rows, the
    * [[graft.ops.TextOps.hashedBow]] output form — via an inverted-index
    * join: query entries meet corpus entries ON THE BUCKET KEY, so each
    * pair costs only its CO-OCCURRING buckets (the postings-intersection
    * contract BM25 uses) and a pair sharing no bucket is never
    * materialized. That absence is the declared semantic: a non-candidate
    * pair has cosine exactly 0, so it can only be missed when fewer than
    * k candidates score positive — the inverted-index trade every sparse
    * retrieval engine makes.
    *
    * Determinism: values are integers, so dots (Σ q·c) and squared norms
    * are EXACT longs; the one double step is `dot / (qn·nn)` with
    * correctly-rounded sqrt/·// — bit-identical in DuckDB, hence
    * hash-exact oracles over ranks and floored cosines (the dense-family
    * convention). Output contract is the shared [[rankTopK]] one.
    *
    * Scale shape: queries broadcast onto the corpus entry stream (one
    * scan, no corpus shuffle for the join), one candidate-keyed combined
    * agg for the dots, then a keyed join against the per-doc norm table
    * (one row per doc — corpus-sized metadata, an equi-join, never a
    * broadcast of the corpus). Work ∝ Σ_bucket q_b·c_b, the
    * inverted-index bound — never Θ(docs·dim).
    */
  def sparseCosineTopK(queries: DataFrame, corpus: DataFrame,
                       idCol: String, bucketCol: String, valCol: String,
                       k: Int): DataFrame = {
    require(k > 0, s"sparseCosineTopK: k must be > 0 (got $k)")
    def norms(df: DataFrame, id: String, n: String): DataFrame =
      df.groupBy(col(idCol).as(id))
        .agg(sqrt(sum(col(valCol) * col(valCol)).cast(DoubleType)).as(n))
        .filter(col(n) > 0) // all-cancelled vectors have no direction
    val q = queries.select(col(idCol).as("qid"), col(bucketCol).as("__qb"),
      col(valCol).as("__qv"))
    val c = corpus.select(col(idCol).as("nid"), col(bucketCol).as("__cb"),
      col(valCol).as("__cv"))
    val dots = c.join(broadcast(q),
        col("__qb") === col("__cb") && col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("__qv") * col("__cv")).as("__dot"))
    val scored = dots
      .join(broadcast(norms(queries, "qid", "__qn")), Seq("qid"))
      .join(norms(corpus, "nid", "__nn"), Seq("nid"))
      .withColumn("cos",
        col("__dot").cast(DoubleType) / (col("__qn") * col("__nn")))
    rankTopK(scored, k)
  }

  /** Deterministic ±1 pseudo-random hyperplane component for (plane j,
    * dim i): the low bit of hash60(md5("j_i")) — the same value any engine
    * computes as `('0x'||substr(md5(j||'_'||i),1,15))::BIGINT & 1`.
    * Plan-time constant per (j,i).
    */
  private[ops] def signComponent(j: Int, i: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ((java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 1L) 1 else -1
  }

  /** Random-hyperplane LSH bucket id: bit j = sign(Σᵢ w(j,i)·eᵢ) with
    * w ∈ {±1} from `signComponent`. For unit-ish vectors, P(bit match) =
    * 1 − θ/π (SimHash/Charikar). The signed sums are left folds → exact.
    */
  def lshBucket(vecCol: Column, dim: Int, numPlanes: Int): Column =
    lshBucketAt(vecCol, dim, numPlanes, planeOffset = 0)

  /** Bucket from hyperplanes `planeOffset until planeOffset+numPlanes` —
    * distinct offsets give the INDEPENDENT hash tables of multi-table LSH
    * (bit position stays local to the table; only the hyperplane seed is
    * global).
    */
  def lshBucketAt(vecCol: Column, dim: Int, numPlanes: Int,
                  planeOffset: Int): Column =
    bucketOf(lshProjections(vecCol, dim, numPlanes, planeOffset))

  /** The signed projections of `vecCol` on hyperplanes `planeOffset
    * until planeOffset+numPlanes` — ONE definition for [[lshBucketAt]]
    * and [[lshProbeBuckets]].
    */
  private def lshProjections(vecCol: Column, dim: Int, numPlanes: Int,
                             planeOffset: Int): Seq[Column] = {
    // bits live in one long and [[bucketOf]]'s sum assumes they are
    // DISJOINT: numPlanes ≥ 65 would wrap the shift mod 64 and
    // carry-corrupt other planes' bits SILENTLY (wrong buckets, degraded
    // recall, no error); numPlanes = 0 would die in reduce with no
    // parameter named
    require(numPlanes >= 1 && numPlanes <= 64,
      s"numPlanes must be in [1, 64] (got $numPlanes)")
    (0 until numPlanes).map { j =>
      // ±1 in float is exact, so x·(±1f) ≡ ±x — bit-identical to the
      // oracle's CASE-negation form; dot() keeps the loop codegen'd.
      dot(vecCol, array((0 until dim).map(i =>
        lit(signComponent(planeOffset + j, i).toFloat)): _*))
    }
  }

  /** Bucket id of a projection list: bit j set iff projection j > 0. */
  private def bucketOf(projs: Seq[Column]): Column =
    projs.zipWithIndex.map { case (p, j) =>
      when(p > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF (inverted-file) ANN: corpus vectors are assigned to the cell of
    * their nearest centroid (argmax cosine, rank-1); each query probes its
    * `nProbe` nearest cells and ranks exact cosine inside them. Centroids
    * here are the `numCentroids` lowest-id corpus vectors — deterministic
    * seeding (IVF minus the k-means refinement), so both the partitioning
    * and the DuckDB oracle are exact; at scale the centroids come from a
    * separate k-means job and this assignment/probe plan is unchanged.
    *
    * Scale shape: centroids broadcast (tiny), corpus shuffles ONCE on its
    * cell id (and would be written bucketed-by-cell for reuse), queries
    * probe nProbe/numCentroids of the data instead of all of it.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, numCentroids: Int = 8,
              nProbe: Int = 2): DataFrame =
    ivfTopKAgainst(queries, corpus, idCol, vecCol, k,
      seedCentroids(corpus, idCol, vecCol, numCentroids), nProbe)

  /** IVF against externally trained centroids (the production path: a
    * `kmeansCentroids` job owns the codebook, this op only assigns and
    * probes). Centroid vectors enter as plan-time data — broadcast, never
    * shuffled.
    */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           centroids: Seq[Array[Float]],
                           nProbe: Int = 2): DataFrame = {
    ivfTopKAgainst(queries, corpus, idCol, vecCol, k,
      centroidFrame(corpus, centroids), nProbe)
  }

  /** Externally trained centroids as the (cid, cv, cn) frame every IVF
    * probe assigns against — shared by [[ivfTopKWithCentroids]] and
    * [[ivfTopKQuantizedWithCentroids]]. Checked on the VALUES, not just
    * emptiness: the zero-norm filter would silently empty an all-zero
    * codebook and every query would lose all neighbors with no error —
    * the condition the guard exists to catch loudly.
    */
  private def centroidFrame(corpus: DataFrame,
                            centroids: Seq[Array[Float]]): DataFrame = {
    require(centroids.exists(c => c.exists(_ != 0.0f)),
      "need at least one non-zero-norm centroid")
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("cid", "cv")
      .withColumn("cn", norm(col("cv")))
      .filter(col("cn") > 0) // a zero-norm centroid would swallow every cell
  }

  /** Symmetric int8 quantization scale for a corpus: `127 / max|x|` over
    * every component of every vector — ONE order-insensitive aggregate
    * (max of exact floats, native array_max/array_min so the scan stays
    * codegen'd), then one double division, both engine-exact so a SQL
    * oracle derives the identical scale. The returned scalar is a bounded
    * driver value (the k-means-state legitimacy class); at 100 TB it is
    * index metadata computed once per corpus next to the codebook.
    */
  def sqScale(corpus: DataFrame, vecCol: String): Double = {
    val row = corpus.agg(
      max(greatest(array_max(col(vecCol)), -array_min(col(vecCol))))).first()
    require(!row.isNullAt(0), s"sqScale: no vectors in '$vecCol'")
    val maxAbs = row.getFloat(0).toDouble
    require(maxAbs > 0 && !maxAbs.isInfinite && !maxAbs.isNaN,
      s"sqScale: max|component| must be positive finite (got $maxAbs)")
    127.0 / maxAbs
  }

  /** Int8-quantized vector as a BINARY column (graft.functions.QuantizeVec):
    * clamp(floor(x·qscale), ±127) per component — 4× smaller than float32.
    */
  def quantizeInt8(vec: Column, qscale: Double): Column =
    Bridge.column(graft.functions.QuantizeVec(Bridge.expression(vec), qscale))

  /** Double left-fold dot of two quantized BINARY vectors (exact int
    * products) — `sqrt(int8Dot(q,q))/qscale` is the quantized-index norm.
    */
  def int8Dot(a: Column, b: Column): Column =
    Bridge.column(graft.functions.Int8VecDot(
      Bridge.expression(a), Bridge.expression(b)))

  /** ADC kernel: quantized BINARY corpus vector × float query vector;
    * divide the SUM by qscale once to dequantize.
    */
  def int8FloatDot(q: Column, f: Column): Column =
    Bridge.column(graft.functions.Int8FloatVecDot(
      Bridge.expression(q), Bridge.expression(f)))

  /** Scalar-quantized IVF ANN (IVF-SQ8 with asymmetric distance, after
    * Jégou et al.'s IVFADC): the trained-IVF probe with the CORPUS side
    * stored as int8 — the index a 100 TB embedding store can actually
    * hold (4× smaller than float32, and the probe loop reads contiguous
    * bytes). Cell assignment runs at FULL precision (an index-build-time
    * operation — quantization error must not move vectors between cells);
    * candidate scoring is ADC: the float query against dequantized int8
    * corpus vectors, cos = (int8FloatDot/qscale) / (quantizedNorm ·
    * queryNorm), every op mirrored by the SQL oracle so ranks are exact.
    * `qscale` comes from [[sqScale]] (index metadata, like the codebook).
    *
    * Scale shape: identical to trained IVF — centroids broadcast, corpus
    * shuffles once on cell id (written bucketed-by-cell with only (id,
    * qv, qn) — the float vectors never enter the serving index), queries
    * probe nProbe/k of the cells. Quantization costs recall only through
    * scoring noise inside probed cells (~2^-7 relative), not cell misses.
    */
  def ivfTopKQuantizedWithCentroids(queries: DataFrame, corpus: DataFrame,
                                    idCol: String, vecCol: String, k: Int,
                                    centroids: Seq[Array[Float]],
                                    qscale: Double,
                                    nProbe: Int = 2): DataFrame = {
    val cent = centroidFrame(corpus, centroids)
    // the serving index: cell + quantized vector + quantized norm; the
    // float vector is DROPPED after assignment (it exists only at build)
    val c = assignCells(sided(corpus, idCol, vecCol, "nid", "nv", "nn"),
        cent, "nid", "nv", "nn", 1)
      .withColumn("qv", quantizeInt8(col("nv"), qscale))
      .withColumn("qn", sqrt(int8Dot(col("qv"), col("qv"))) / lit(qscale))
      .filter(col("qn") > 0) // fully-clamped-to-zero vector: no direction
      .select(col("cell"), col("nid"), col("qv"), col("qn"))
    val q = assignCells(sided(queries, idCol, vecCol, "qid", "qv", "qn"),
      cent, "qid", "qv", "qn", nProbe)
      .withColumnRenamed("qv", "fqv").withColumnRenamed("qn", "fqn")
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos",
        (int8FloatDot(col("qv"), col("fqv")) / lit(qscale))
          / (col("qn") * col("fqn")))
    rankTopK(scored, k)
  }

  /** Nearest-`probes` cell ids per vector against a centroid frame (cid,
    * cv, cn) — the assignment half of every IVF variant (argmax cosine,
    * ties → lowest cid). Shared so the float and quantized probes cannot
    * drift on cell geometry.
    */
  private def assignCells(df: DataFrame, cent: DataFrame, id: String,
                          v: String, n: String, probes: Int): DataFrame = {
    val w = Window.partitionBy(col(id)).orderBy(col("ccos").desc, col("cid"))
    df.crossJoin(broadcast(cent))
      .withColumn("ccos", dot(col(v), col("cv")) / (col(n) * col("cn")))
      .withColumn("crk", row_number().over(w))
      .filter(col("crk") <= probes)
      .select(col(id), col(v), col(n), col("cid").as("cell"))
  }

  private def ivfTopKAgainst(queries: DataFrame, corpus: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             cent: DataFrame, nProbe: Int): DataFrame = {
    val c = assignCells(sided(corpus, idCol, vecCol, "nid", "nv", "nn"),
      cent, "nid", "nv", "nn", 1)
    val q = assignCells(sided(queries, idCol, vecCol, "qid", "qv", "qn"),
      cent, "qid", "qv", "qn", nProbe)
    rankTopK(cosinePairs(c, q, Seq("cell")), k)
  }

  /** The exact-cosine scoring of the bucketed ANN probes: corpus rows
    * `c` (nid, nv, nn, keys…) meet the broadcast query rows `q` (qid,
    * qv, qn, keys…) on `keys`, self-pairs dropped, `cos` attached.
    */
  private def cosinePairs(c: DataFrame, q: DataFrame,
                          keys: Seq[String]): DataFrame =
    c.join(broadcast(q), keys)
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))

  /** Lloyd's k-means refinement for IVF centroids — the "separate k-means
    * job" `ivfTopK`'s doc refers to. Driver-iterated (the MLlib shape):
    * centroids are k×dim floats, so they live on the driver between
    * iterations and enter each assignment job as plan-time literals — per
    * iteration the corpus is scanned ONCE, assignment is a codegen'd
    * argmin over k dot products (no join), and the centroid update is one
    * partial-agg shuffle of (cell, dim) sums. Seeds = the k lowest-id
    * vectors, matching ivfTopK's deterministic seeding. Empty cells keep
    * their previous centroid.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): Array[Array[Float]] = {
    var cent: Array[Array[Float]] = corpus.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    // same named failure as kmeansCentroidsExact — an empty seed set
    // would otherwise surface as an obscure NullType analysis error from
    // array_min(array()) below
    require(cent.nonEmpty, "need at least one seed centroid (empty corpus or k=0)")
    for (_ <- 0 until iters) {
      // argmin ||x−c||² = argmin (|c|² − 2·x·c); |c|² folds on the driver.
      val dists = cent.zipWithIndex.map { case (c, i) =>
        val cn2 = c.map(x => x.toDouble * x.toDouble).sum
        val cArr = array(c.map(lit): _*)
        struct((lit(cn2) - dot(col(vecCol), cArr) * 2).as("d"), lit(i).as("cid"))
      }
      val sums = corpus
        .withColumn("cell", array_min(array(dists: _*)).getField("cid"))
        .select(col("cell"), posexplode(col(vecCol)))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col").cast(DoubleType)).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cent = cent.indices.map { ci =>
        byCell.get(ci).map { rows =>
          rows.sortBy(_.getInt(1))
            .map(r => (r.getDouble(2) / r.getLong(3)).toFloat).toArray
        }.getOrElse(cent(ci))
      }.toArray
    }
    cent
  }

  /** Lloyd's k-means with EXACT cross-engine arithmetic — the trainer the
    * x63 recall gate runs, designed so an independent SQL engine can
    * reproduce the centroids bit-for-bit and the oracle stays hash-exact:
    *
    *  - assignment: cosine argmax (ties → lowest cid), the same rule the
    *    IVF probe uses, so train and serve agree on cell geometry;
    *  - update: per-(cell, dim) sums of `floor(x·2^20)` — LONG sums are
    *    order-insensitive, unlike a double sum whose value depends on
    *    partial-aggregation order (the reason `kmeansCentroids` can't be
    *    oracle-gated);
    *  - new component: `floor(S/n)/2^20` — S/n is ONE IEEE double op on
    *    exact inputs (|S| < 2^53), floor of it is engine-independent, and
    *    the quantized result is exactly representable in float (|num| ≤
    *    2^20·max|x| < 2^24 mantissa), so the float codebook round-trips
    *    losslessly through any engine's double arithmetic.
    *
    * Driver-iterated like `kmeansCentroids` (k×dim centroid state, corpus
    * scanned once per iteration, ONE partial-agg shuffle per update);
    * 2^-20 quantization noise is far below fixture component scale (~0.1).
    * Empty cells keep their previous centroid; zero-norm rows are excluded
    * from training (no direction → no vote).
    */
  def kmeansCentroidsExact(corpus: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int): Array[Array[Float]] = {
    val scale = (1L << 20).toDouble
    val c = sided(corpus, idCol, vecCol, "id", "v", "nrm")
    var cent: Array[Array[Float]] = corpus.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
      .filter(cv => cv.exists(_ != 0.0f))
    require(cent.nonEmpty, "need at least one non-zero seed centroid")
    // cosine argmax over literal centroids: array_max on (ccos, -cid)
    // structs — highest cosine, ties to the LOWEST cid (= highest -cid) —
    // a codegen'd fold, no join and no shuffle for the assignment itself
    def cellCol(v: Column, n: Column): Column = {
      val scored = cent.zipWithIndex.map { case (cv, i) =>
        // centroid norm on the driver, same left fold as norm()/normSql
        val cn = math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        require(cn > 0, s"trained centroid $i collapsed to zero norm")
        struct((dot(v, array(cv.map(lit): _*)) / (n * lit(cn))).as("ccos"),
          lit(-i).as("negcid"))
      }
      -array_max(array(scored: _*)).getField("negcid")
    }
    for (_ <- 0 until iters) {
      val sums = c.withColumn("cell", cellCol(col("v"), col("nrm")))
        .select(col("cell"), posexplode(col("v")))
        // x·2^20 is EXACT in double (power-of-two scale), so floor has no
        // rounding ambiguity; the long sums commute across partitions
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("col").cast(DoubleType) * scale)).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cent = cent.indices.map { ci =>
        byCell.get(ci).map { rows =>
          rows.sortBy(_.getInt(1)).map { r =>
            (math.floor(r.getLong(2).toDouble / r.getLong(3).toDouble) / scale).toFloat
          }.toArray
        }.getOrElse(cent(ci))
      }.toArray
    }
    cent
  }

  /** Deterministic seed centroids: the `numCentroids` LOWEST-id vectors —
    * a TakeOrderedAndProject over the corpus, correct for any id domain
    * (a `filter(id < k)` would silently select nothing when ids don't
    * start at zero).
    */
  private def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                            numCentroids: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(numCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
      .filter(col("cn") > 0) // zero-norm seed would swallow every cell

  /** Embedding-space drift between two corpus snapshots, per group: the
    * cosine between each group's OLD and NEW centroid — the semantic
    * sibling of [[graft.ops.StatOps.mixDrift]]'s count drift (a source
    * can keep its share while its CONTENT shifts under it; this table
    * catches that before a training run does). cos(mean_o, mean_n) =
    * cos(sum_o, sum_n) — scale invariance removes the division, so the
    * whole computation is INTEGER sums of per-component
    * `floor(x·10000)` quantizations (order-independent under any
    * partitioning) with ONE double step per group at the end — the x25
    * floor-bp convention, hash-exact cross-engine. Output: (group,
    * n_old, n_new, cos_bp); a group absent from either snapshot has no
    * defined drift and emits no row (the inner-join contract — absence
    * itself is [[graft.ops.StatOps.mixDrift]]'s job to report).
    *
    * Scale shape: one narrow posexplode + map-side-combined
    * (group, dim) integer sums per snapshot — bounded groups × dim
    * metadata from there on; the corpora are scanned once each and
    * never shuffled. Quantized component sums stay far inside Long
    * (|x|·10⁴ ≲ 10⁵ per row ⇒ ~10¹⁴ headroom of rows per group); their
    * cross-snapshot PRODUCTS run in DECIMAL(38,0) — long products would
    * wrap around 10⁶ rows per group (r14 fix), decimal keeps ~10¹² rows
    * of headroom and overflows loudly, still exactly and
    * partition-order-proof.
    */
  def centroidDrift(oldSnap: DataFrame, newSnap: DataFrame, vecCol: String,
                    groupCol: String): DataFrame = {
    def sums(df: DataFrame, s: String, n: String) =
      df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("__d", "__x")))
        .withColumn("__q",
          floor(col("__x").cast(DoubleType) * 10000d).cast(LongType))
        .groupBy(col(groupCol), col("__d"))
        .agg(sum(col("__q")).as(s), count(lit(1)).as(n))
    val o = sums(oldSnap, "__so", "__no")
    val nw = sums(newSnap, "__sn", "__nn")
    // products in DECIMAL(38,0), not LONG: the per-dim sums are bounded
    // by ~1e4·rows (fine in Long), but their PRODUCTS cross 2^63 around
    // 1M vectors per group — a silent wrap at exactly the 100 TB scale
    // this op is for. Decimal sums stay exact and partition-order-proof
    // (~1e38 headroom: |sum| ≤ 1e16 even at 1e12 rows/group ⇒ products
    // ≤ 1e32, ×dim ≤ 1e34), and Spark raises on decimal overflow rather
    // than wrapping. DuckDB mirrors with BIGINT→HUGEINT arithmetic.
    val d38 = DecimalType(38, 0)
    o.join(nw, Seq(groupCol, "__d"))
      .groupBy(col(groupCol))
      .agg(max(col("__no")).as("n_old"), max(col("__nn")).as("n_new"),
        sum(col("__so").cast(d38) * col("__sn").cast(d38)).as("__dot"),
        sum(col("__so").cast(d38) * col("__so").cast(d38)).as("__o2"),
        sum(col("__sn").cast(d38) * col("__sn").cast(d38)).as("__n2"))
      // sqrt(o2·n2), NOT sqrt(o2)·sqrt(n2): for identical snapshots
      // o2 = n2 = dot and sqrt(fl(a·a)) = a exactly (round-to-nearest),
      // so the self-drift identity cos_bp = 10000 holds bit-exactly —
      // the two-sqrt form loses an ulp and floors to 9999
      .withColumn("cos_bp",
        floor(col("__dot").cast(DoubleType)
          / sqrt(col("__o2").cast(DoubleType) * col("__n2").cast(DoubleType))
          * 10000d).cast(LongType))
      .select(col(groupCol), col("n_old"), col("n_new"), col("cos_bp"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most SIMILAR corpus vectors with a DIFFERENT label —
    * the negatives that actually move a contrastive/metric loss, vs the
    * uninformative random negatives of in-batch sampling. Same plan as
    * [[bruteForceTopK]] (scan the corpus once, broadcast the queries)
    * with the label inequality fused into the join predicate, so
    * same-label pairs never materialize. Null-safe: a null label differs
    * from every non-null label and matches null (both engines'
    * IS DISTINCT FROM). Output contract = [[rankTopK]].
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"), col(labelCol).as("qlab"))
      .filter(col("qn") > 0)
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
        norm(col(vecCol)).as("nn"), col(labelCol).as("nlab"))
      .filter(col("nn") > 0)
    val scored = c.join(broadcast(q),
        col("qid") =!= col("nid") && !(col("qlab") <=> col("nlab")))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
    rankTopK(scored, k)
  }

  /** kNN label-noise detection (confident-learning-style label QA, cf.
    * Northcutt et al. 2021, arXiv:1911.00068): flag a labeled vector when
    * the MAJORITY label of its k nearest neighbors disagrees with its own
    * — the standard first-pass audit of a labeled/weakly-labeled corpus.
    *
    * Neighbors are restricted to the vector's cluster cell
    * ([[assignedCells]], centroid count = max(8, n/perCell) — the x65
    * corpus-proportional sizing, so expected cell size and the per-cell
    * pair term stay CONSTANT as the corpus grows); cross-cell neighbors
    * are missed by construction (the SemDeDup approximation, bounded by
    * cluster quality). Majority ties → smallest label (integer
    * `min(struct(-cnt, label))`, map-side combinable); rank ties → lowest
    * neighbor id over bit-exact doubles. Vectors alone in their cell have
    * no neighbors and emit no row.
    *
    * Returns (idCol, label, cell, n_nbrs, maj_label, noisy).
    */
  def knnLabelNoise(vecs: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int = 5,
                    perCell: Int = 32): DataFrame = {
    require(k > 0, s"knnLabelNoise: k must be positive (got $k)")
    require(perCell > 0, s"knnLabelNoise: perCell must be positive")
    // loud on a non-numeric label domain (the repo's id-cast convention):
    // a silent LongType cast would turn bad labels into nulls that flow
    // into the majority vote as a phantom null label
    require(vecs.schema(labelCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"knnLabelNoise: label column '$labelCol' must be numeric for the " +
        s"majority vote (got ${vecs.schema(labelCol).dataType.simpleString})")
    val numCentroids = math.max(8L, vecs.count() / perCell)
    require(numCentroids <= Int.MaxValue, "centroid count overflows Int")
    val (cells0, _) = assignedCells(vecs, idCol, vecCol,
      numCentroids.toInt, "knnLabelNoise")
    val cells = cells0
      .join(vecs.select(col(idCol).as("id"),
        col(labelCol).cast(LongType).as("lab")), Seq("id"))
      // feeds both sides of the pair join — materialize the assignment once
      .localCheckpoint()
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("a.lab").as("lab"),
        col("a.cell").as("cell"), col("b.id").as("nid"),
        col("b.lab").as("nlab"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cos"))
    val w = Window.partitionBy(col("id")).orderBy(col("cos").desc, col("nid"))
    pairs
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy(col("id"), col("lab"), col("cell"), col("nlab"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("id"), col("lab"), col("cell"))
      .agg(sum(col("cnt")).as("n_nbrs"),
        min(struct((-col("cnt")).as("nc"), col("nlab"))).as("m"))
      .select(col("id").as(idCol), col("lab").as("label"), col("cell"),
        col("n_nbrs"), col("m.nlab").as("maj_label"),
        (!(col("m.nlab") <=> col("lab"))).as("noisy"))
  }

  /** Driver-seeded codebook + codegen'd nearest-centroid assignment — the
    * shared front half of [[semanticDedup]] and [[prototypicality]].
    *
    * Codebook on the DRIVER (k×dim floats — the k-means-state legitimacy
    * class), assignment as ONE codegen'd argmax expression over it: one
    * output row per vector, zero intermediate rows, no shuffle. (A
    * crossJoin(broadcast(cent)) assignment would materialize n×k scored
    * rows — n²/perCell at corpus-proportional k, the measured dominant
    * term of the x65 decade run before this form.) Same seeding contract
    * as [[seedCentroids]]: k LOWEST-id vectors, zero-norm seeds dropped
    * AFTER the limit; ties → lowest cid.
    *
    * Returns (cells, codebook): `cells` = (id, v, nrm, cell) for every
    * non-zero-norm vector; `codebook` = the kept (cid, cv, cn) seeds.
    */
  private def assignedCells(vecs: DataFrame, idCol: String, vecCol: String,
                            numCentroids: Int, opName: String)
      : (DataFrame, Array[(Long, Array[Float], Double)]) = {
    val seeds = vecs.orderBy(col(idCol)).limit(numCentroids)
      .select(col(idCol).cast(LongType), col(vecCol)).collect()
      .map { r =>
        // loud on a non-numeric id domain: a null from the long cast would
        // otherwise NPE deep in row access with no parameter named
        require(!r.isNullAt(0),
          s"$opName: id column '$idCol' must cast to BIGINT for cell ids")
        (r.getLong(0), r.getSeq[Float](1).toArray)
      }
    val dims = seeds.map(_._2.length).distinct
    require(dims.length <= 1,
      s"$opName: mixed embedding dims in seed set: ${dims.mkString(",")}")
    val kept = seeds.map { case (cid, cv) =>
      // centroid norm on the driver — the same left fold as norm()
      (cid, cv, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    }.filter(_._3 > 0)
    require(kept.nonEmpty,
      s"$opName: need at least one non-zero-norm seed centroid")
    val assign = Bridge.column(graft.functions.NearestCentroid(
      Bridge.expression(col("v")), Bridge.expression(col("nrm")),
      kept.map(_._1), kept.flatMap(_._2), kept.map(_._3), dims.head))
    (sided(vecs, idCol, vecCol, "id", "v", "nrm").withColumn("cell", assign),
      kept)
  }

  /** Self-supervised prototypicality (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning",
    * arXiv:2206.14486): each vector's cosine similarity to its nearest
    * centroid, reported in floor basis points. High score = prototypical
    * (near its cluster center, redundant); low score = hard/atypical — in
    * the abundant-data regime the paper prunes the MOST prototypical
    * examples first.
    *
    * One codegen'd assignment pass over the corpus, then a k-row broadcast
    * join to recompute the winning cosine — no shuffle of the corpus at
    * all. Returns (idCol, cell, proto_bp) for every non-zero-norm vector
    * (a zero-norm vector has no direction — excluded, the [[sided]]
    * contract). Centroids are the k lowest-id vectors so the oracle is
    * exact; at scale swap in [[kmeansCentroids]] — the plan is unchanged.
    */
  def prototypicality(vecs: DataFrame, idCol: String, vecCol: String,
                      numCentroids: Int = 8): DataFrame = {
    val (cells, kept) = assignedCells(vecs, idCol, vecCol, numCentroids,
      "prototypicality")
    val spark = vecs.sparkSession
    import spark.implicits._
    val cent = kept.toSeq.map { case (cid, cv, cn) => (cid, cv.toSeq, cn) }
      .toDF("cell", "cv", "cn")
    cells.join(broadcast(cent), Seq("cell"))
      .withColumn("proto_bp",
        floor(dot(col("v"), col("cv")) / (col("nrm") * col("cn")) * 10000)
          .cast(LongType))
      .select(col("id").as(idCol), col("cell"), col("proto_bp"))
  }

  /** Prototypicality-based data pruning (Sorscher et al. 2022): keep the
    * HARDEST `keepBp`/10000 fraction of each cluster — rank within cell by
    * ascending prototypicality (least prototypical first, ties → lowest
    * id), keep rank ≤ ⌈n_cell · keepBp / 10000⌉. Per-cell (not global)
    * selection is the paper's class-balance guard: a global cut would
    * empty the tightest clusters. Ranking on the integer proto_bp keeps
    * the keep-set free of cross-engine double-ordering hazards.
    *
    * Plan: the [[prototypicality]] scan plus ONE shuffle on the cell id
    * for the two window functions — at 100 TB cells are the natural
    * partition and nothing else moves.
    */
  def prototypePrune(vecs: DataFrame, idCol: String, vecCol: String,
                     numCentroids: Int = 8, keepBp: Long = 5000): DataFrame = {
    require(keepBp >= 0 && keepBp <= 10000,
      s"prototypePrune: keepBp must be in [0, 10000] (got $keepBp)")
    val w = Window.partitionBy(col("cell")).orderBy(col("proto_bp"), col(idCol))
    val wc = Window.partitionBy(col("cell"))
    prototypicality(vecs, idCol, vecCol, numCentroids)
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("n_cell", count(lit(1)).over(wc))
      // rk ≤ ⌈n·keepBp/10000⌉ ⇔ (rk−1)·10000 < n·keepBp — pure integers
      .withColumn("keep", (col("rk") - 1) * 10000 < col("n_cell") * keepBp)
      .select(col(idCol), col("cell"), col("proto_bp"), col("keep"))
  }

  /** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then drop near-
    * duplicates WITHIN each cluster — pairwise work becomes O(Σ cell²)
    * instead of O(n²), and each cell's pairs co-locate after one shuffle
    * on the cell id. Returns the KEPT ids (the lowest id of every
    * cosine-≥-threshold pair survives, matching exact-dedup's keep-min
    * rule).
    *
    * Centroids are the `numCentroids` lowest-id vectors (ivfTopK's
    * deterministic seeding) so the oracle is exact; at scale the centroids
    * come from `kmeansCentroids` and the plan is unchanged. Cross-cell
    * near-dups are missed by construction — that is SemDeDup's documented
    * approximation, bounded by cluster quality.
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    numCentroids: Int = 8, threshold: Double = 0.7): DataFrame = {
    // localCheckpoint: cells feeds BOTH sides of the pair join below —
    // without materialization the assignment pipeline (the expensive
    // stage) would evaluate once per branch
    val cells = assignedCells(vecs, idCol, vecCol, numCentroids,
        "semanticDedup")._1
      .localCheckpoint()
    val dropped = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    vecs.select(col(idCol).as("id"))
      .join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
  }

  /** SemDeDup with CORPUS-PROPORTIONAL cluster count — the scale knob
    * `semanticDedup`'s doc promises, made the default sizing rule:
    * `numCentroids = max(8, n / perCell)` keeps the expected cell size
    * (and so the per-cell pair work, Σ cell² ≈ perCell·n) CONSTANT as the
    * corpus grows, where a query-pinned centroid count makes the pair
    * term quadratic (measured 4.7×/decade on the x42 fixture). The one
    * `count()` action is a bounded long on the driver — the same
    * legitimacy class as the k-means centroid state.
    *
    * The residual super-linear term is the assignment arithmetic (n·k =
    * n²/perCell dot products), but as a `NearestCentroid` codegen loop it
    * is pure flops with NO intermediate rows — ~3 G multiplies at 40k
    * vectors, spread across every core; it stays below the shuffle floor
    * until ~1M vectors per job. Beyond that, train a capped-k codebook on
    * a sample with `kmeansCentroids` (per-cell pair work then grows as
    * n/k — the SemDeDup paper's own regime), or shard the corpus and
    * dedup incrementally per shard.
    *
    * REGIME BOUNDARY (r16, VERDICT r15): the codebook is DRIVER-held and
    * PLAN-embedded (`assignedCells` bakes k×dim float literals into the
    * codegen'd argmax), which is the k-means-state legitimacy class only
    * while k stays metadata-sized. At corpus-proportional k this stops
    * at [[VectorOps.MaxPlanCentroids]] (10^5 centroids ≈ 25 MB of plan
    * floats at dim 64 — far past that, plan size breaks long before
    * memory: a 10^9-doc corpus at perCell 32 would ask for a 3×10^7-entry
    * literal codebook). The guard below FAILS LOUDLY at the boundary and
    * names the handoff: (a) two-level assignment — cluster the codebook
    * itself (√k super-centroids in-plan, the per-cell refinement via a
    * broadcast join on the super-cell), or (b) train capped-k centroids
    * on a sample (`kmeansCentroids`) and accept per-cell growth — the
    * same choice the scaladoc's last paragraph describes, now enforced
    * instead of advisory.
    */
  def semanticDedupScaled(vecs: DataFrame, idCol: String, vecCol: String,
                          perCell: Int = 32,
                          threshold: Double = 0.7): DataFrame = {
    require(perCell > 0, "perCell must be positive")
    val k = math.max(8L, vecs.count() / perCell)
    require(k <= MaxPlanCentroids,
      s"semanticDedupScaled: corpus-proportional centroid count $k " +
        s"exceeds MaxPlanCentroids=$MaxPlanCentroids — the plan-embedded " +
        "codebook regime ends here. Hand off: two-level assignment " +
        "(cluster the codebook, broadcast-join the refinement) or a " +
        "capped-k sampled codebook via kmeansCentroids (see scaladoc).")
    semanticDedup(vecs, idCol, vecCol, numCentroids = k.toInt,
      threshold = threshold)
  }

  /** Upper bound on plan-embedded codebook size for the SemDeDup family
    * — the point where "k-means state as plan metadata" stops being
    * metadata (see [[semanticDedupScaled]]'s regime-boundary note).
    */
  val MaxPlanCentroids: Int = 100000

  /** LSH-bucketed ANN: exact cosine ranking restricted to same-bucket
    * candidates. The join shuffles on the bucket id — at 100 TB the corpus
    * partitions by bucket once and every query probes one partition. Recall
    * < 1.0 by construction (approximate); raise numPlanes ↓bucket size,
    * multiple tables ↑recall.
    *
    * ROLE (x63 gate finding): the whole random-hyperplane family —
    * single-table (1%), 4-table (7%), margin-ordered multi-probe (11%) on
    * the near-isotropic fixture — is a CANDIDATE-GENERATION mechanism
    * (the shape behind MinHash-band near-dup, where a bounded pair miss
    * is priced in), not an ANN serving path. Route serving traffic to the
    * IVF family ([[ivfTopKWithCentroids]] 87%,
    * [[ivfTopKQuantizedWithCentroids]] 86% at 4× less storage).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, numPlanes: Int = 8): DataFrame =
    lshProbe(queries, corpus, idCol, vecCol, k, dim, numPlanes,
      lshBucket(col("qv"), dim, numPlanes))

  /** The one-table LSH ANN of [[lshTopK]] and [[lshTopKMultiProbe]]:
    * each corpus vector in its [[lshBucket]], each query in the buckets
    * `probe` (over the query vector `qv`) gives it.
    */
  private def lshProbe(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, k: Int, dim: Int, numPlanes: Int,
                       probe: Column): DataFrame = {
    val q = sided(queries, idCol, vecCol, "qid", "qv", "qn")
      .withColumn("bucket", probe)
    val c = sided(corpus, idCol, vecCol, "nid", "nv", "nn")
      .withColumn("bucket", lshBucket(col("nv"), dim, numPlanes))
    rankTopK(cosinePairs(c, q, Seq("bucket")), k)
  }

  /** Margin-ordered probe buckets for multi-probe LSH (Lv et al., VLDB'07
    * query-directed probing, restricted to single-bit perturbations): the
    * query's own bucket first, then the buckets reached by flipping the
    * hyperplane bit with the smallest |projection| — the planes the query
    * sits closest to, where a true neighbor most plausibly landed on the
    * other side. Returns an ARRAY of `numProbes` distinct bucket ids
    * (base + numProbes−1 single-bit flips), margin-ascending.
    *
    * Deterministic and oracle-mirrorable: projections are the same signed
    * left folds as [[lshBucket]]; flip order sorts (|proj|, plane) — the
    * struct sort's (margin, mask) tie-break equals plane order because
    * mask = 1<<j is monotonic in j. Single-bit flips are distinct buckets
    * by construction, so downstream joins never double-count a pair.
    */
  def lshProbeBuckets(vecCol: Column, dim: Int, numPlanes: Int,
                      numProbes: Int): Column = {
    require(numProbes >= 1 && numProbes <= numPlanes + 1,
      s"numProbes must be in [1, numPlanes+1] — only single-bit flips " +
        s"(got $numProbes for $numPlanes planes)")
    val projs = lshProjections(vecCol, dim, numPlanes, planeOffset = 0)
    val base = bucketOf(projs)
    val ranked = sort_array(array(projs.zipWithIndex.map { case (p, j) =>
      struct(abs(p).as("m"), lit(1L << j).as("mask")) }: _*))
    concat(array(base),
      transform(slice(ranked, 1, numProbes - 1),
        f => base.bitwiseXOR(f.getField("mask"))))
  }

  /** Multi-probe LSH ANN: ONE hash table, `numProbes` margin-ordered
    * buckets per query — the recall/memory remedy the x63 gate compares
    * against multi-TABLE LSH: where T tables cost T bucket assignments
    * per CORPUS vector (T copies of the index), T probes cost T lookups
    * per QUERY against a single index — the probe side is the small side,
    * so extra work lands on 20 queries instead of the corpus. Corpus plan
    * is [[lshTopK]]'s (one bucket per vector, shuffled once); queries
    * explode to numProbes (bucket, query) rows and broadcast.
    * `numProbes = 1` probes only the query's own bucket: exactly
    * [[lshTopK]]'s rows.
    */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, k: Int, dim: Int,
                        numPlanes: Int = 8, numProbes: Int = 8): DataFrame =
    // no (qid, nid) dedup needed: a corpus vector lives in exactly one
    // bucket and the probe set is distinct buckets — a pair meets once
    lshProbe(queries, corpus, idCol, vecCol, k, dim, numPlanes,
      explode(lshProbeBuckets(col("qv"), dim, numPlanes, numProbes)))

  /** Multi-table LSH ANN: `numTables` independent hash tables (disjoint
    * hyperplane seed ranges), candidates = the UNION of same-bucket
    * matches across tables, deduplicated before the exact-cosine top-k.
    * Recall compounds as 1−(1−r)^T, which is the remedy the x61 recall
    * gate prescribes when a single table scores low — at the cost of T
    * bucket assignments per vector (the classic LSH memory/recall trade;
    * at scale each table is its own bucketed copy of the corpus index).
    * Table 0 uses [[lshTopK]]'s hyperplanes, so `numTables = 1` returns
    * exactly [[lshTopK]]'s rows.
    *
    * Plan shape: explode to (table, bucket) keys — T rows per vector —
    * one (table, bucket)-keyed join, a (qid, nid) dedup agg, then the
    * per-query top-k window over candidates only.
    */
  def lshTopKMultiTable(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, k: Int, dim: Int,
                        numPlanes: Int = 8, numTables: Int = 4): DataFrame = {
    require(numTables >= 1, "need at least one hash table")
    def tabled(df: DataFrame, id: String, v: String, n: String): DataFrame =
      sided(df, idCol, vecCol, id, v, n)
        .select(col(id), col(v), col(n),
          explode(array((0 until numTables).map(tl =>
            struct(lit(tl).as("tbl"),
              lshBucketAt(col(v), dim, numPlanes, tl * numPlanes)
                .as("bucket"))): _*)).as("tb"))
        .select(col(id), col(v), col(n),
          col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = tabled(queries, "qid", "qv", "qn")
    val c = tabled(corpus, "nid", "nv", "nn")
    val scored = cosinePairs(c, q, Seq("tbl", "bucket"))
      // a pair colliding in several tables surfaces once — first(cos) is
      // safe because cos is a function of the pair, not the table
      .groupBy(col("qid"), col("nid")).agg(first(col("cos")).as("cos"))
    rankTopK(scored, k)
  }

  /** Product-quantization seed codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector space splits
    * into `m` contiguous subspaces of dim/m components; codeword `j` of
    * subspace `s` is the s-th slice of the j-th LOWEST-id corpus vector —
    * the deterministic seeding rule every other index in this file uses
    * (`seedCentroids`), so the DuckDB oracle derives the identical
    * codebooks. At scale the codebooks come from per-subspace k-means
    * (run [[kmeansCentroidsExact]] over `slice(vec, s·dsub+1, dsub)`
    * frames); the encode/probe plan below is unchanged — codebooks are
    * m×ksub×dsub driver floats either way (the k-means-state legitimacy
    * class, ~4 KB here vs 4 GB of float corpus).
    *
    * Unlike centroid seeds, a zero-norm CODEWORD is legal (a zero
    * subvector is a valid reconstruction target); only the whole
    * reconstructed vector must keep a direction, which [[ivfTopKPq]]
    * checks per encoded row.
    */
  def pqSeedCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int, ksub: Int): Array[Array[Array[Float]]] = {
    require(m >= 1 && ksub >= 1, "m and ksub must be positive")
    val seeds = corpus.orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(seeds.nonEmpty, "pqSeedCodebooks: empty corpus")
    val dims = seeds.map(_.length).distinct
    require(dims.length == 1,
      s"pqSeedCodebooks: mixed embedding dims: ${dims.mkString(",")}")
    require(dims.head % m == 0,
      s"pqSeedCodebooks: dim ${dims.head} not divisible by m=$m")
    val dsub = dims.head / m
    Array.tabulate(m)(s => seeds.map(v => v.slice(s * dsub, (s + 1) * dsub)))
  }

  /** PQ codebooks TRAINED per subspace — the production path the seed
    * variant's doc promises: `kmeansCentroidsExact` over each
    * `slice(vec, s·dsub+1, dsub)` projection, so every codebook is
    * k-means-refined with the same exact cross-engine arithmetic and the
    * loaded artifact ([[ModelIO.savePqCodebooks]]) reproduces scores
    * bit-for-bit. `m` scans of the corpus at build time (one per
    * subspace); at 100 TB train on a deterministic sample
    * ([[SampleOps.hashSample]]) — PQ codebooks need representative
    * geometry, not the full corpus.
    *
    * A subspace whose every seed slice is zero-norm fails loudly in the
    * trainer (no direction to refine toward); use [[pqSeedCodebooks]]
    * for degenerate-subspace corpora (a zero CODEWORD is legal there).
    */
  def pqTrainedCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                         m: Int, ksub: Int,
                         iters: Int): Array[Array[Array[Float]]] = {
    require(m >= 1 && ksub >= 1 && iters >= 0,
      "m, ksub must be positive; iters non-negative")
    val first = corpus.select(col(vecCol)).limit(1).collect()
    require(first.nonEmpty, "pqTrainedCodebooks: empty corpus")
    val dim = first.head.getSeq[Float](0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      kmeansCentroidsExact(
        corpus.select(col(idCol),
          slice(col(vecCol), s * dsub + 1, dsub).as(vecCol)),
        idCol, vecCol, ksub, iters)
    }
  }

  /** IVF-PQ ANN (the PQ member of the serving-index ladder, after
    * IVF-SQ8): corpus vectors live in the index as `m` ONE-BYTE codes —
    * 64× smaller than float32 at m=4/dim=64 (vs SQ8's 4×) — plus one
    * reconstructed norm; scoring is ADC against the reconstruction,
    * `cos = Σ_s q_s·c_s[code_s] / (|q|·|x̂|)`. Cell assignment runs at
    * FULL precision (index-build time — quantization error must not move
    * vectors between cells, the same rule as the SQ8 path); the float
    * vector is DROPPED after encoding. This is the no-residual IVF-PQ
    * variant (codes quantize the vector, not the vector−centroid
    * residual): at a fixed codebook budget residual encoding buys
    * precision but couples every codebook to the coarse quantizer —
    * retraining cells invalidates all codes — so the uncoupled form is
    * what an incrementally-growing corpus index ships.
    *
    * Cross-engine determinism: encoding argmin uses
    * `d² = |x_s|² − 2·x_s·c + |c|²` with every dot an exact left fold
    * and ties → lowest code; the cross-subspace sums for |x̂|² and the
    * ADC inner product fold in ascending subspace order, so the oracle's
    * `list_reduce(list(... ORDER BY s))` reproduces the exact doubles.
    *
    * Scale shape: codebooks + centroids broadcast (driver metadata); the
    * corpus shuffles ONCE on cell id and is stored as (cell, id, m bytes,
    * norm); queries probe nProbe/numCentroids of the cells and each
    * candidate costs m short dots (or, production-optimized, m LUT reads
    * after precomputing q_s·c tables per query — same arithmetic, same
    * results, the classic ADC trick this plan leaves to Tungsten).
    */
  def ivfTopKPq(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int,
                codebooks: Array[Array[Array[Float]]],
                numCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val m = codebooks.length
    require(m >= 1, "need at least one subspace codebook")
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    require(codebooks.forall(cb => cb.length == ksub &&
      cb.forall(_.length == dsub)), "ragged codebooks")
    // |c|² per codeword on the driver — the same left fold as norm()
    val cn2: Array[Array[Double]] = codebooks.map(_.map(cw =>
      cw.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    val cent = seedCentroids(corpus, idCol, vecCol, numCentroids)

    // per-subspace codes in ONE codegen'd pass (graft.functions.PqEncode:
    // argmin_j d², ties → lowest j — bit-identical to the composed
    // slice/dot/array_min form, without its per-codeword slice
    // materializations; this loop runs over the full corpus at build)
    val pqEncodeCol = Bridge.column(graft.functions.PqEncode(
      Bridge.expression(col("nv")),
      codebooks.flatten.flatten, cn2.flatten, m, ksub, dsub))
    val encoded = (0 until m).foldLeft(
      assignCells(sided(corpus, idCol, vecCol, "nid", "nv", "nn"),
        cent, "nid", "nv", "nn", 1)
        .withColumn("__codes", pqEncodeCol)
    )((df, s) => df.withColumn(s"__c$s", element_at(col("__codes"), s + 1)))
      .drop("__codes")
      // |x̂|² folds in ascending subspace order (oracle-exact)
      .withColumn("rn", sqrt((0 until m).map(s =>
        element_at(array(cn2(s).map(lit): _*), col(s"__c$s") + 1))
        .reduceLeft(_ + _)))
      // a reconstruction collapsed to the zero vector has no direction
      .filter(col("rn") > 0)
      .drop("nv", "nn") // the float vector leaves the index here

    val q = assignCells(sided(queries, idCol, vecCol, "qid", "qv", "qn"),
      cent, "qid", "qv", "qn", nProbe)
    val ip = (0 until m).map { s =>
      val cbLit = array(codebooks(s).map(cw => array(cw.map(lit): _*)): _*)
      dot(slice(col("qv"), s * dsub + 1, dsub),
        element_at(cbLit, col(s"__c$s") + 1))
    }.reduceLeft(_ + _)
    val scored = encoded.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", ip / (col("qn") * col("rn")))
    rankTopK(scored, k)
  }
}
