package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import TextOps.{charShingles, hash60, wordShingles}

/** Deduplication operators for training-data pipelines, each built as the
  * plan a 1000-executor cluster wants:
  *
  *   - exact: hash-groupBy (one shuffle on the content hash);
  *   - n-gram Jaccard: shingle-explode + equi-join on the shingle (shuffle
  *     keyed by shingle — never the O(n²) cross join);
  *   - MinHash+LSH: shingle→minhash→band→bucket self-join (the shuffle key
  *     is the band signature, so only colliding docs ever meet);
  *   - SimHash: per-bit sign aggregation → 60-bit code, pairs by Hamming
  *     distance within blocking keys.
  *
  * All hashes are md5-derived (TextOps cross-engine contract) so every
  * operator has an exact DuckDB oracle.
  */
object DedupOps {

  /** Default cap on pair-enumeration bucket sizes. A bucket (same-shingle /
    * same-band / same-chunk docs) over this size is dropped before pair
    * enumeration: `DocPairs` is O(bucket²), and on a real crawl corpus hot
    * stop-shingle buckets ("in the the…") are guaranteed — they carry no
    * dedup signal (a shingle shared by thousands of docs discriminates
    * nothing) and would otherwise dominate the plan. 2000 docs → ≤2M pairs
    * (≈64 MB) per bucket, the worst row the pair stage can produce. Fixture
    * corpora (≤500 docs) never hit the cap, so oracle results are exact.
    */
  val DefaultMaxBucket: Int = 2000

  /** Exact dedup: keep the lowest id per content hash. Returns the kept
    * rows' ids. One hash-shuffle; at 100 TB this is the canonical
    * "dedup by md5(text)" job.
    */
  def exact(docs: DataFrame, idCol: String, contentCol: String): DataFrame =
    docs.filter(col(contentCol).isNotNull)
      .select(col(idCol), md5(col(contentCol)).as("__h"))
      .groupBy("__h").agg(min(col(idCol)).as(idCol))
      .select(idCol)
      // null content is INCOMPARABLE, not a duplicate of other nulls: a
      // bare GROUP BY md5(content) put every null-content doc in one
      // group and kept exactly one of them — silent mass drop, and the
      // opposite of incrementalDedup's anti-join (null keys never match).
      // All null-content docs survive.
      .unionByName(docs.filter(col(contentCol).isNull).select(idCol))

  /** Exploded distinct-shingle table: (id, s). The base relation for the
    * join-based similarity ops below.
    */
  def shingleTable(docs: DataFrame, idCol: String, shingles: Column): DataFrame =
    docs.select(col(idCol).as("id"), explode(shingles).as("s"))

  /** All-pairs n-gram Jaccard ≥ threshold, via shingle equi-join (never a
    * cross join): |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. Emits
    * (i, j, jaccard_bp) with i < j. Jaccard is a ratio of exact ints →
    * deterministic across engines.
    */
  private def docPairs(c: Column, minRatioBp: Long = 0L): Column =
    Bridge.column(graft.functions.DocPairs(Bridge.expression(c), minRatioBp))

  /** threshold → basis points by ROUND, not floor: `0.0115 * 10000` is
    * 114.999… in IEEE double, and flooring would admit pairs one bp BELOW
    * the requested threshold.
    */
  private def thresholdBp(threshold: Double): Long =
    math.round(threshold * 10000)

  /** The pair kernels (DocPairs/SimhashChunkPairs) read ids with getLong;
    * a non-Long id would come back silently corrupted from an UnsafeRow
    * (an int id's raw 4 bytes reinterpreted) or ClassCastException — fail
    * at plan time with the actual type named instead.
    */
  private[graft] def requireLongId(df: DataFrame, idCol: String): Unit =
    require(df.schema(idCol).dataType == LongType,
      s"$idCol must be LongType for the pair kernels " +
        s"(got ${df.schema(idCol).dataType.simpleString})")

  private def simhashChunkPairs(ds: Column, ck: Column, chunks: Int,
                                maxHamming: Int): Column =
    Bridge.column(graft.functions.SimhashChunkPairs(
      Bridge.expression(ds), Bridge.expression(ck), chunks, maxHamming))

  /** Near-duplicate pairs — THE entry point a curation pipeline should
    * call. Default path (`exact = false`) is LSH-candidate-then-verify:
    * MinHash banding proposes candidate pairs (linear in true near-dups
    * by construction), exact Jaccard on those pairs disposes
    * ([[verifyJaccardPairs]]) — work ∝ |candidates|, the shape measured
    * near-linear across every scaling decade (SURVEY §6.3) and the only
    * one that survives 100 TB. `exact = true` opts into the
    * inverted-index enumeration ([[ngramJaccardPairs]]): complete (no
    * banding miss — P(miss) = (1−J^bandRows)^numBands on the default
    * path, 1.9% at J=0.9) but Θ(Σ bucket²) in same-shingle buckets,
    * which goes quadratic under saturated shingle density — a calibration
    * / small-corpus tool, not a production default.
    *
    * Same output contract either way: (i, j, jaccard_bp ≥ threshold),
    * i < j.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, shingles: Column,
                   threshold: Double, exact: Boolean = false,
                   numHashes: Int = 16, bandRows: Int = 4,
                   maxBucket: Int = DefaultMaxBucket,
                   salts: Int = 1, oph: Boolean = false): DataFrame =
    if (exact) ngramJaccardPairs(docs, idCol, shingles, threshold, maxBucket)
    else {
      val cand = bandedCandidates(docs, idCol, shingles, numHashes,
        bandRows, maxBucket, oph)
      // salts defaults to 1 (plain join): always-on salting pays its
      // replication tax on EVERY run — measured 8.6 s → 30.4 s on the
      // sf2 dense-candidate decade at salts = 8, where candidates are
      // plentiful but no single key is hot. Raise salts when one
      // boilerplate doc fans out to thousands of pairs (the planted
      // hot-key spec's scenario); between the two, Spark AQE's skew-join
      // split handles moderate shuffle skew adaptively at zero cost here.
      verifyJaccardPairs(cand, docs, idCol, shingles, threshold, salts)
    }

  /** The MinHash-banding candidate pairs of the LSH-verify arms of
    * [[nearDupPairs]] and [[containmentPairs]], materialized: the verify
    * references the candidate frame three times (two id projections +
    * the pair join) — without this the banding pipeline re-executes per
    * branch. `oph = true` swaps in the one-permutation signatures
    * (numHashes-fold fewer hashes — the dominant cost of this stage at
    * scale, measured 2.4× at sf1): the CANDIDATE set differs slightly
    * (OPH's collision curve approximates classic banding's), but every
    * emitted pair is still exact-verified ≥ threshold, so the output
    * contract is identical either way.
    */
  private def bandedCandidates(docs: DataFrame, idCol: String,
                               shingles: Column, numHashes: Int,
                               bandRows: Int, maxBucket: Int,
                               oph: Boolean): DataFrame =
    (if (oph)
      minhashLshCandidatesOph(docs, idCol, shingles, numHashes,
        bandRows, maxBucket)
    else
      minhashLshCandidates(docs, idCol, shingles, numHashes,
        bandRows, maxBucket)).localCheckpoint()

  /** Exact inverted-index Jaccard enumeration — the `exact = true` arm of
    * [[nearDupPairs]]; large corpora should reach it only deliberately
    * (the LSH-verify default is the scale path).
    *
    * Requires a LongType `idCol`. Plan shape: the shingle pipeline runs
    * ONCE (a self-join would evaluate it per branch — AQE broadcasts one
    * side, defeating exchange reuse), shuffles once on the 60-bit shingle
    * hash, and enumerates pairs inside each same-shingle bucket with the
    * codegen'd DocPairs kernel. Buckets of one doc — the overwhelming
    * majority — are dropped before generating anything. |A| rides along
    * with every shingle row so no count-attach joins are needed.
    *
    * The join key is the md5-derived hash60 of the shingle (8-byte shuffle
    * keys); the oracle groups raw shingle strings — intersection counts
    * agree absent 60-bit collisions (~1e-7 at fixture scale; a collision
    * would fail the gate loudly).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, shingles: Column,
                        threshold: Double,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireLongId(docs, idCol)
    jaccardFromShingleHashes(shingleHashes(docs, col(idCol), shingles),
        thresholdBp(threshold), maxBucket, None)
      .select(col("i"), col("j"), col("jaccard_bp"))
  }

  /** (id, |shingles|, hash60(shingle)) — the shared head of the jaccard
    * pipelines. |A| rides along with every shingle row so no count-attach
    * joins are needed downstream.
    */
  private def shingleHashes(docs: DataFrame, idExpr: Column,
                            shingles: Column): DataFrame =
    docs.select(idExpr.as("id"), shingles.as("__arr"))
      .select(col("id"), size(col("__arr")).cast(LongType).as("n"),
        explode(col("__arr")).as("__s"))
      .select(col("id"), col("n"), hash60(col("__s")).as("s"))

  /** Shared bucket-pair enumeration of the exact similarity pipelines
    * ([[ngramJaccardPairs]], [[containmentPairs]]' exact arm,
    * [[incrementalDedup]]): bucket-group the shingle-hash table, enumerate
    * within-bucket pairs with the codegen'd DocPairs kernel (length-ratio
    * pruned before anything shuffles when `minRatioBp > 0`), optionally
    * keep only pairs matching `pairFilter` (over the exploded `p` struct),
    * and aggregate to (i, j, c, an, bn) — the intersection count plus both
    * set sizes, from which each caller derives its own score. ONE body so
    * a cap-semantics or pair-filter fix can never land on one score path
    * but not the other.
    *
    * Hot-bucket cap semantics: a dropped bucket's shingle contributes to
    * NEITHER pair's intersection count but still counts in an/bn, so any
    * score derived from `c` for a pair sharing a dropped shingle is a
    * LOWER BOUND — conservative for dedup (may keep a borderline
    * near-dup, never manufactures a false duplicate).
    */
  private def bucketPairCounts(sh: DataFrame, minRatioBp: Long,
                               maxBucket: Int,
                               pairFilter: Option[Column]): DataFrame = {
    val exploded = sh.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("id"), col("n")))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
      .select(explode(docPairs(col("ds"), minRatioBp)).as("p"))
    pairFilter.fold(exploded)(exploded.filter)
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(count(lit(1)).as("c"), first(col("p.an")).as("an"),
        first(col("p.bn")).as("bn"))
  }

  /** Jaccard tail over [[bucketPairCounts]]: (i, j, jaccard_bp ≥ minBp).
    * The kernel's length-ratio prune is enabled at `minBp` — sound for
    * Jaccard only (mismatched sizes bound the score from above).
    */
  private def jaccardFromShingleHashes(sh: DataFrame, minBp: Long,
                                       maxBucket: Int,
                                       pairFilter: Option[Column]): DataFrame =
    bucketPairCounts(sh, minBp, maxBucket, pairFilter)
      .withColumn("jaccard_bp",
        TextOps.bp(col("c"), col("an") + col("bn") - col("c")))
      .filter(col("jaccard_bp") >= minBp)

  /** Asymmetric n-gram CONTAINMENT pairs: |A∩B| / |A| (and / |B|) — the
    * sub-duplication metric Jaccard structurally misses. A 100-word doc
    * fully embedded in a 10,000-word doc has Jaccard ≈ 0.01 (never passes
    * any dedup threshold) but containment ≈ 1.0; containment is how
    * RefinedWeb/CCNet-class pipelines catch quote-and-extend duplication.
    * Emits pairs where max(cont_i, cont_j) ≥ `threshold`, with both
    * directions (and the raw intersection count) reported.
    *
    * Default path (`exact = false`) is LSH-candidate-then-verify, the
    * [[nearDupPairs]] template: MinHash banding proposes candidate pairs,
    * [[verifyContainmentPairs]] computes TRUE intersection counts on those
    * pairs only — work ∝ |candidates|, the shape that survives 100 TB.
    * Recall caveat the symmetric path doesn't have: MinHash banding
    * collides on JACCARD, and for a containment-t pair with set-size
    * ratio ρ = min/max, J = tρ/(1+ρ−tρ) — near-equal sizes are caught at
    * the usual 1−(1−J^r)^b rate (t=0.8, ρ=1 → J=0.67), but an extreme
    * short⊂long pair (ρ ≪ 1) drives J → 0 and the banding miss rate with
    * it. Size-partitioned banding (LSH Ensemble, Zhu et al. VLDB 2016) is
    * the published remedy when that regime matters; `exact = true` opts
    * into the complete inverted-index enumeration — the
    * [[ngramJaccardPairs]] bucket-pair machinery with ONE deliberate
    * difference: the kernel's length-ratio prune is DISABLED
    * (minRatioBp = 0), because that prune is sound for Jaccard, where
    * mismatched sizes bound the score, but the short⊂long pair it
    * discards is exactly the pair containment exists to find. Same
    * Θ(Σ bucket²) exact-arm contract as x21; the cap's lower-bound
    * semantics carry over (a dropped bucket can only under-report).
    */
  def containmentPairs(docs: DataFrame, idCol: String, shingles: Column,
                       threshold: Double, exact: Boolean = false,
                       numHashes: Int = 16, bandRows: Int = 4,
                       maxBucket: Int = DefaultMaxBucket,
                       salts: Int = 1, oph: Boolean = false): DataFrame = {
    requireLongId(docs, idCol)
    if (exact) {
      val minBp = thresholdBp(threshold)
      bucketPairCounts(shingleHashes(docs, col(idCol), shingles),
          0L, maxBucket, None)
        .select(col("i"), col("j"), col("c").as("inter_n"),
          TextOps.bp(col("c"), col("an")).as("cont_i_bp"),
          TextOps.bp(col("c"), col("bn")).as("cont_j_bp"))
        .filter(greatest(col("cont_i_bp"), col("cont_j_bp")) >= minBp)
    } else {
      val cand = bandedCandidates(docs, idCol, shingles, numHashes,
        bandRows, maxBucket, oph)
      verifyContainmentPairs(cand, docs, idCol, shingles, threshold, salts)
    }
  }

  /** Exact containment evaluated ONLY on the given candidate pairs — the
    * verify half of [[containmentPairs]]' default arm, sharing
    * [[verifyJaccardPairs]]' whole body ([[verifyPairCounts]]): semi-join-
    * restricted shingle re-expansion, two keyed equi-joins, work ∝
    * |candidates|. The intersection counts are TRUE counts (no hot-bucket
    * cap on this path), so cont_i_bp/cont_j_bp are exact for every pair
    * the candidates propose; the only divergence from the exact arm is a
    * banding MISS (see [[containmentPairs]] for the ρ-dependent rate).
    * Emits (i, j, inter_n, cont_i_bp, cont_j_bp), i < j, where
    * max(cont_i, cont_j) ≥ threshold.
    */
  def verifyContainmentPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                             shingles: Column, threshold: Double,
                             salts: Int = 1): DataFrame = {
    val minBp = thresholdBp(threshold)
    verifyPairCounts(pairs, docs, idCol, shingles, salts)
      .select(col("i"), col("j"), col("c").as("inter_n"),
        TextOps.bp(col("c"), col("an")).as("cont_i_bp"),
        TextOps.bp(col("c"), col("bn")).as("cont_j_bp"))
      .filter(greatest(col("cont_i_bp"), col("cont_j_bp")) >= minBp)
  }

  /** Incremental (cross-corpus) dedup: which NEW docs survive against an
    * existing REFERENCE corpus — the "don't re-ingest what the training
    * set already contains" primitive of snapshot-over-snapshot pipelines.
    * A new doc is dropped if its exact content hash appears in the
    * reference, or its n-gram Jaccard to ANY reference doc ≥ `threshold`.
    * Returns surviving new-doc ids. New-internal duplicates are NOT
    * removed here — that is the ordinary within-corpus dedup's job.
    *
    * Plan shape — both probes are keyed joins against the reference,
    * never a re-clustering of it: the exact probe is one md5 left-anti
    * join; the near-dup probe is the [[ngramJaccardPairs]] shingle
    * equi-join with the two corpora unioned under disjoint id ranges
    * (ref < 2^40 ≤ new — enforced per row), keeping only cross-corpus
    * pairs. Bucket-local pair enumeration still touches same-side pairs
    * (bounded by `maxBucket`, same as the self-dedup path); at production
    * scale the reference side's shingle table is the thing a pipeline
    * precomputes and stores between snapshots.
    */
  def incrementalDedup(newDocs: DataFrame, refDocs: DataFrame, idCol: String,
                       contentCol: String, shingles: Column,
                       threshold: Double,
                       maxBucket: Int = DefaultMaxBucket,
                       bloom: Boolean = false, bloomBits: Int = 1 << 20,
                       bloomHashes: Int = 4): DataFrame = {
    val offset = 1L << 40
    // raise_error (not a silent wrap-around) if an id collides with the
    // disjoint-range encoding; evaluated inline, no extra action
    def guarded(df: DataFrame, shift: Long): DataFrame =
      df.select(
        when(col(idCol).cast(LongType).between(0L, offset - 1L),
            col(idCol).cast(LongType) + shift)
          .otherwise(raise_error(concat(lit(s"incrementalDedup: $idCol "),
            col(idCol), lit(s" outside [0, 2^40)")))).as("id"),
        col(contentCol))
    val tagged = guarded(refDocs, 0L).unionByName(guarded(newDocs, offset))
    val minBp = thresholdBp(threshold)
    // DocPairs orders i < j, so a cross-corpus pair is always (ref, new)
    val nearDropped = jaccardFromShingleHashes(
        shingleHashes(tagged, col("id"), shingles), minBp, maxBucket,
        pairFilter = Some(col("p.i") < offset && col("p.j") >= offset))
      .select((col("j") - offset).as(idCol)).distinct()
    val newH = newDocs.select(col(idCol), md5(col(contentCol)).as("__h"))
    val refH = refDocs.select(md5(col(contentCol)).as("__h")).distinct()
    // `bloom = true` swaps the exact probe's anti-join-against-ALL-history
    // for a membership pre-filter: the reference corpus collapses to a
    // bounded-metadata Bloom sketch (m bits regardless of corpus size —
    // the thing a pipeline precomputes and stores between snapshots), new
    // hashes probe it broadcast-side, and only the possibly-member slice
    // re-checks exactly against the reference. Bloom false negatives are
    // impossible, so a definite miss is kept WITHOUT touching the
    // reference — at 100 TB of history that is the difference between
    // shuffling the new shard and shuffling the corpus. Output is
    // row-identical to the plain path (asserted by spec): false positives
    // only route a few extra rows through the exact re-check.
    val exactKept =
      if (!bloom) newH.join(refH, Seq("__h"), "left_anti").select(idCol)
      else {
        val sketch = StatOps.bloomSketch(refH, "__h", bloomBits, bloomHashes)
        // probe the HASH domain, not ids: the plain path's anti-join is
        // row-level on __h, so the probe must be too — keyed by id, a
        // duplicated id carrying two DIFFERENT contents (one present in
        // the reference, one absent) would take min(hit) over both
        // hashes, route down the definite-miss branch as a unit, and
        // KEEP the known-duplicate row the plain path drops. Probing
        // per-hash, every newH row routes by its own content exactly as
        // the anti-join would, and per-row multiplicity under duplicate
        // ids is preserved by the rejoins through newH.
        val probed = StatOps.bloomProbe(newH.select(col("__h")), "__h",
          "__h", sketch, bloomBits, bloomHashes)
        val definiteMiss = newH
          .join(probed.filter(col("bloom_hit") === 0).select("__h"),
            Seq("__h"))
          .select(idCol)
        val possibleHit = newH
          .join(probed.filter(col("bloom_hit") === 1).select("__h"),
            Seq("__h"))
          .join(refH, Seq("__h"), "left_anti")
          .select(idCol)
        definiteMiss.unionByName(possibleHit)
      }
    exactKept.join(nearDropped, Seq(idCol), "left_anti")
  }

  /** MinHash band signatures: `numHashes` min-hashes (hash h of shingle s =
    * md5(h||'|'||s)), grouped into bands of `bandRows`, each band signature
    * the in-order concat of its row mins. Emits (id, band, sig).
    *
    * Plan shape: ONE aggregation with numHashes min() columns over the
    * exploded shingle table — codegen'd md5, map-side partial mins, no
    * numHashes× row blowup; bands explode only the tiny per-doc signature
    * array afterwards.
    *
    * r21 (VERDICT r20 #2, guide §4/§2.3): the mins aggregate RAW 16-byte
    * digests ([[TextOps.md5Salted]]) instead of 32-char hex strings —
    * same winners (unsigned-lexicographic binary order ≡ hex-string
    * order on fixed-length digests; `hex(new sig) == old sig` is the
    * property test), half the aggregation-buffer/shuffle bytes, and no
    * per-(shingle, h) concat+hex allocations. `sig` is BinaryType now —
    * legal because it is only ever a grouping key (never query output).
    */
  def minhashBands(docs: DataFrame, idCol: String, shingles: Column,
                   numHashes: Int, bandRows: Int): DataFrame = {
    requireBands(numHashes, bandRows)
    val mins = (0 until numHashes).map(h =>
      min(TextOps.md5Salted(s"$h|", col("s"))).as(s"m$h"))
    val sigs = shingleTable(docs, idCol, shingles)
      .groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
    bandRowsOf(sigs, numHashes / bandRows) { b =>
      concat((0 until bandRows).map(r => col(s"m${b * bandRows + r}")): _*)
    }
  }

  private[graft] def requireBands(numHashes: Int, bandRows: Int): Unit =
    // integer division would silently discard the trailing hashes (recall
    // quietly differs from the documented 1-(1-J^r)^b) or, for bandRows >
    // numHashes, produce ZERO bands and an empty result
    require(bandRows > 0 && numHashes > 0 && numHashes % bandRows == 0,
      s"bandRows ($bandRows) must divide numHashes ($numHashes)")

  /** (id, band, sig) rows of the per-doc frame `sigs`; band b's sig is `sig(b)`. */
  private def bandRowsOf(sigs: DataFrame, n: Int)(sig: Int => Column): DataFrame = {
    val bandStructs = (0 until n).map(b => struct(lit(b).as("band"), sig(b).as("sig")))
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** [[minhashBandsOph]]'s densify + band key over its slot minimums
    * `slot(j)`, which the streaming face computes per row instead.
    */
  private[graft] def ophBands(signed: DataFrame, numHashes: Int,
                              bandRows: Int)(slot: Int => Column): DataFrame = {
    def dense(j: Int): Column =
      coalesce((0 until numHashes).map(o => slot((j + o) % numHashes)): _*)
    bandRowsOf(signed, numHashes / bandRows) { b =>
      concat_ws("|", (0 until bandRows).map(r =>
        dense(b * bandRows + r).cast(StringType)): _*)
    }
  }

  /** One-permutation MinHash band signatures (Li, Owen & Zhang 2012,
    * "One Permutation Hashing"; densification per Shrivastava & Li 2014):
    * ONE md5-derived hash per shingle instead of [[minhashBands]]'s
    * numHashes — the hash pass that dominates signature building at
    * 100 TB drops numHashes-fold. The hash space splits into `numHashes`
    * buckets (j = h mod numHashes); each bucket keeps its min; EMPTY
    * buckets borrow clockwise from the first non-empty bucket at or
    * after them (rotation densification — the simple variant, adequate
    * for candidate generation; the bias-corrected 2017 scheme matters
    * for kernel ESTIMATION, not banding). Identical shingle sets ⇒
    * identical signatures, so exact duplicates always collide, and the
    * per-band collision probability approximates the classic
    * 1−(1−J^r)^b at large shingle counts.
    *
    * Emits (id, band, sig) — drop-in for [[minhashBands]] in front of
    * the bucket-enumeration stage. Docs with zero shingles emit nothing
    * (no information to sign). Plan shape: ONE aggregation with
    * numHashes conditional-min columns (map-side combined), then a
    * narrow densify + band explode of the tiny per-doc array.
    */
  def minhashBandsOph(docs: DataFrame, idCol: String, shingles: Column,
                      numHashes: Int = 16, bandRows: Int = 4): DataFrame = {
    requireBands(numHashes, bandRows)
    val sh = shingleTable(docs, idCol, shingles)
      .select(col("id"), hash60(col("s")).as("h"))
    val mins = (0 until numHashes).map(j =>
      min(when(col("h") % numHashes === j, col("h"))).as(s"m$j"))
    val sigs = sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
    ophBands(sigs, numHashes, bandRows)(j => col(s"m$j"))
  }

  /** [[minhashLshCandidates]] over the one-permutation signatures — the
    * 1-hash-per-shingle candidate generator. Same bucket-enumeration
    * skeleton and (i, j, bands) contract.
    */
  def minhashLshCandidatesOph(docs: DataFrame, idCol: String,
                              shingles: Column, numHashes: Int = 16,
                              bandRows: Int = 4,
                              maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireLongId(docs, idCol)
    sharedBuckets(minhashBandsOph(docs, idCol, shingles, numHashes, bandRows),
      Seq(col("band"), col("sig")), maxBucket, "bands")
  }

  /** LSH candidate pairs: docs sharing ≥1 band signature, with the count of
    * matching bands. The self-join shuffles on (band, sig) — only true
    * collisions co-locate, which is the whole point of LSH at scale.
    * P(candidate | jaccard J) = 1-(1-J^bandRows)^numBands.
    */
  def minhashLshCandidates(docs: DataFrame, idCol: String, shingles: Column,
                           numHashes: Int = 16, bandRows: Int = 4,
                           maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireLongId(docs, idCol)
    sharedBuckets(minhashBands(docs, idCol, shingles, numHashes, bandRows),
      Seq(col("band"), col("sig")), maxBucket, "bands")
  }

  /** (i, j, countName = buckets shared) over `df`'s ids grouped by `keys`.
    * Bucket-group instead of self-join: the input plan runs ONCE, and pairs
    * are enumerated inside each bucket, which LSH keeps tiny (O(bucket²)
    * over near-identical docs). A bucket over maxBucket (an exact-dup
    * cluster exact-dedup should have removed) is dropped, not exploded.
    */
  private def sharedBuckets(df: DataFrame, keys: Seq[Column],
                            maxBucket: Int, countName: String): DataFrame =
    df.groupBy(keys: _*)
      .agg(sort_array(collect_list(struct(col("id"), lit(0L)))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
      .select(explode(docPairs(col("ds"))).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(count(lit(1)).as(countName))

  /** Exact n-gram Jaccard evaluated ONLY on the given candidate pairs —
    * the verify half of candidate-verify near-dup (LSH proposes, exact
    * Jaccard disposes). This is the at-scale substitute for
    * [[ngramJaccardPairs]]'s inverted-index enumeration: that kernel's
    * work is Θ(Σ bucket²) over same-shingle buckets, which is linear on
    * real corpora (shingle space grows with the corpus, buckets stay
    * cluster-sized) but quadratic when shingle density is high — the sf1
    * decade measurement that motivated this helper (SURVEY §6.3). Here
    * the expensive step is proportional to |candidates| × shingles/doc
    * instead: candidates come from LSH banding (linear in true near-dups
    * by construction), and the verification is two keyed equi-joins.
    *
    * Emits (i, j, jaccard_bp ≥ threshold) — the same row contract as
    * [[ngramJaccardPairs]] restricted to `pairs`. The intersection count
    * here is the TRUE one: candidate-restricted expansion makes a
    * hot-bucket cap unnecessary, so this path has no lower-bound
    * approximation. The two paths agree exactly on any pair both emit
    * UNLESS a shared shingle's bucket exceeded the inverted-index path's
    * `maxBucket` — there the capped kernel undercounts (its documented
    * lower-bound semantics) while this verify is exact, i.e. the
    * candidate-verify path is the STRICTER of the two at saturated
    * densities. Callers reusing the candidate frame should materialize it
    * (`localCheckpoint`) — this function references `pairs` three times.
    *
    * Plan shape: shingle re-expansion is RESTRICTED to docs that appear
    * in some candidate pair (one left-semi join — at production scale the
    * candidate set is vastly smaller than the corpus), then |A∩B| is one
    * (doc, shingle-hash)-keyed equi-join: pairs×A's shingles keyed by i,
    * matched to B's shingles keyed by (j, s). No cross join, no bucket
    * enumeration, every shuffle keyed.
    */
  def verifyJaccardPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                         shingles: Column, threshold: Double,
                         salts: Int = 1): DataFrame = {
    val minBp = thresholdBp(threshold)
    verifyPairCounts(pairs, docs, idCol, shingles, salts)
      .withColumn("jaccard_bp",
        TextOps.bp(col("c"), col("an") + col("bn") - col("c")))
      .filter(col("jaccard_bp") >= minBp)
      .select(col("i"), col("j"), col("jaccard_bp"))
  }

  /** Shared verify body of [[verifyJaccardPairs]] and
    * [[verifyContainmentPairs]]: true intersection counts + both set
    * sizes, restricted to the given candidate pairs → (i, j, c, an, bn).
    * One body so the semi-join restriction, dedup guard, and salting all
    * apply to every score derived from a candidate verify.
    */
  private def verifyPairCounts(pairs: DataFrame, docs: DataFrame,
                               idCol: String, shingles: Column,
                               salts: Int): DataFrame = {
    requireLongId(docs, idCol)
    require(salts > 0, "salts must be positive")
    // distinct: a duplicated (i,j) row would multiply the intersection
    // count c while first(an)/first(bn) stay fixed — a score computed
    // with a doubled numerator and a shrunken (possibly zero or negative)
    // denominator, silently dropping or corrupting a true near-dup pair
    val cleanPairs = pairs.select(col("i"), col("j")).distinct()
    val candIds = cleanPairs.select(col("i").as("__cid"))
      .unionByName(cleanPairs.select(col("j").as("__cid")))
    val sh = shingleHashes(
      docs.join(candIds, docs(idCol) === col("__cid"), "left_semi"),
      col(idCol), shingles)
    val a = sh.select(col("id").as("i"), col("n").as("an"), col("s"))
    val b = sh.select(col("id").as("j"), col("n").as("bn"), col("s"))
    // The i-join is THE skew point of the verify: a boilerplate doc
    // candidate-paired with thousands of others is one hot i whose whole
    // pair×shingle expansion would land on one reducer. salts > 1 routes
    // it through the salted join — pairs of the same i scatter across
    // `salts` reducers by a deterministic hash of j (never rand(): retry
    // idempotence), the shingle side replicates salts× (bounded: it is
    // already candidate-restricted by the semi-join above). The second
    // join needs no salt: its key (j, s) carries the shingle hash, which
    // spreads a hot doc's rows across its whole shingle set naturally.
    val expanded =
      if (salts == 1) cleanPairs.join(a, Seq("i"))
      else JoinOps.saltedJoin(cleanPairs, a, "i", col("j"), salts)
    expanded
      .join(b, Seq("j", "s"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("c"), first(col("an")).as("an"),
        first(col("bn")).as("bn"))
  }

  /** Image near-dup pairs by perceptual hash: dHash every payload
    * (`MultimodalOps.imageDHash` — real JDK decode), block on 4×16-bit
    * hash bands, and keep candidate pairs within `maxHamming`. The
    * multimodal face of the dedup family: survives re-encoding, resizing,
    * and mild edits that defeat exact byte/content hashing.
    *
    * `maxHamming` ≤ 3 so the band blocking is EXHAUSTIVE by pigeonhole
    * (≤3 differing bits cannot touch all 4 bands — some band matches
    * exactly) — EXCEPT buckets over `maxBucket`, which are dropped like
    * every pair kernel here: a large cluster of identical/uniform images
    * (dhash 0 — blank pages, solid colors — is COMMON on a real crawl)
    * exceeds the cap and reports no pairs; run exact-hash dedup on the
    * dhash column first, which handles identical hashes without pair
    * explosion. Plan shape: narrow
    * decode, one shuffle keyed by (band, band-value), within-bucket pair
    * enumeration with the in-bucket Hamming filter (bucket-capped), and
    * one pair-dedup groupBy — never an all-pairs comparison
    * ([[hash64NearDupPairs]]).
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
                        maxHamming: Int,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64NearDupPairs(df, idCol,
      MultimodalOps.imageDHash(df, idCol, payloadCol), "dhash",
      maxHamming, maxBucket)

  /** Audio near-dup pairs by energy-envelope hash
    * (`MultimodalOps.audioEnergyHash` — real PCM decode for WAV/AIFF/AU):
    * the audio face of [[imageNearDupPairs]], finding re-encoded /
    * gain-scaled copies that defeat exact byte hashing. Same 4-band
    * blocking ([[hash64NearDupPairs]]), exhaustive for `maxHamming` ≤ 3.
    */
  def audioNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
                        maxHamming: Int,
                        maxBucket: Int = DefaultMaxBucket): DataFrame =
    hash64NearDupPairs(df, idCol,
      MultimodalOps.audioEnergyHash(df, idCol, payloadCol), "ehash",
      maxHamming, maxBucket)

  /** Shared 64-bit-hash near-dup core of [[imageNearDupPairs]] and
    * [[audioNearDupPairs]]: the parameter guards, then the non-NULL
    * `hashCol` values of `hashed` (built after the guards) blocked on
    * 4×16-bit bands, within-bucket candidates, exact in-bucket Hamming
    * filter. Pigeonhole-exhaustive for hamming ≤ 3.
    *
    * TWO shuffles total: the hash rides through DocPairs' an/bn slots
    * (minRatioBp=0 disables the length-ratio pruning those slots normally
    * feed), so hamming computes inside the bucket and the pair dedup —
    * the same pair can surface from several bands — is one (i,j) groupBy,
    * with no distinct() pass and no hash-attach joins back to `h`. The
    * decode pipeline is consumed exactly once.
    */
  private def hash64NearDupPairs(df: DataFrame, idCol: String,
                                 hashed: => DataFrame,
                                 hashCol: String, maxHamming: Int,
                                 maxBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "maxHamming must be in [0, 3]: 4-band blocking is only exhaustive below 4")
    requireLongId(df, idCol)
    val h = hashed
      .filter(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).as("h64"))
    val bands = h.select(col("id"), col("h64"),
      explode(array((0 until 4).map(b => struct(lit(b).as("bk"),
        shiftright(col("h64"), b * 16).bitwiseAND(lit(0xffffL)).as("bv"))): _*))
        .as("c"))
      .select(col("id"), col("h64"), col("c.bk").as("bk"), col("c.bv").as("bv"))
    bands.groupBy(col("bk"), col("bv"))
      .agg(sort_array(collect_list(struct(col("id"), col("h64").as("n")))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
      .select(explode(docPairs(col("ds"))).as("p"))
      .withColumn("hamming",
        bit_count(col("p.an").bitwiseXOR(col("p.bn"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** 60-bit SimHash over whitespace tokens (term frequency = natural word
    * multiplicity): per bit, sum ±1 by the bit of each token's hash60; the
    * sign vector packs into one BIGINT. ONE shuffle: the 60 per-bit signed
    * sums are 60 aggregation columns of a single groupBy (map-side partial
    * agg), not a 60× row explosion — at 100 TB that's 60 longs of agg state
    * per doc instead of 60 extra shuffled rows per token.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bitSums = (0 until 60).map(b =>
      sum(when(expr(s"(hash >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b"))
    val packed = (0 until 60).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    docs.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
      .withColumn("hash", hash60(col("w")))
      .groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), packed.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming — EXACT, via
    * Hamming-chunk blocking (pigeonhole): the 60-bit code splits into
    * maxHamming+1 disjoint chunks, and any pair within the distance bound
    * differs in ≤ maxHamming chunks, so at least one chunk matches exactly.
    * Each doc emits one row per chunk; candidates meet in (chunk, value)
    * buckets (the shuffle key), the exact bit_count filters inside. The
    * all-pairs cross join this replaces touches n²/2 pairs; blocking
    * touches only bucket collisions — the 100 TB plan, same result set.
    *
    * maxHamming ≥ 60 is the degenerate "every pair" contract (a 60-bit code
    * can't differ in more than 60 bits): blocking is skipped, all docs share
    * one bucket, and `maxBucket` is NOT applied (the caller asked for all
    * pairs; the DocPairs-style kernels fail loudly past array capacity
    * rather than silently returning nothing).
    *
    * `maxBucket` (default 65,535 here — unlike shingle buckets, simhash
    * chunk buckets are 1/2^width corpus slices, not signal-free stop
    * shingles) drops oversized buckets before pair enumeration. CAVEAT: a
    * dropped bucket loses the pairs whose FIRST agreeing combo it was, even
    * if they co-occur in a later surviving bucket.
    *
    * `blockingChunks` is the Manku-style scale knob (WWW'07): with the
    * default (maxHamming+1 chunks, agree-on-1 blocking) bucket sizes are
    * corpus/2^(60/(maxHamming+1)). Raising it to C blocks on every
    * (C−maxHamming)-subset of chunks: C(C, C−maxHamming) rows per doc, but
    * keys carry (C−maxHamming)·60/C bits — e.g. maxHamming=3, C=7 → 35
    * rows/doc and ~34-bit keys, buckets stay tiny even at 10^11 docs.
    * Result set is EXACT for any valid setting (pigeonhole: ham ≤
    * maxHamming leaves ≥ C−maxHamming chunks untouched).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int,
                   maxBucket: Int = 65535,
                   blockingChunks: Int = 0): DataFrame = {
    requireLongId(docs, idCol)
    require(maxHamming >= 0, "maxHamming must be non-negative")
    val chunks =
      if (maxHamming >= 60) 1
      else if (blockingChunks > 0) blockingChunks
      else maxHamming + 1
    // the `chunks == 1` degenerate mode is reserved for maxHamming >= 60
    // (where no chunk can discriminate); an EXPLICIT blockingChunks = 1
    // with a smaller maxHamming must fail like every other out-of-contract
    // value — letting it through would silently select the uncapped
    // single-bucket all-pairs plan
    require(maxHamming >= 60 || (chunks > maxHamming && chunks <= 60),
      s"blockingChunks must be in (maxHamming, 60], got $chunks")
    val codes = simhash(docs, idCol, textCol)
    val keyed =
      if (chunks == 1) {
        // Degenerate: a 60-bit pair can differ in at most 60 bits, so every
        // pair qualifies and no chunk can discriminate — one global bucket
        // (the all-pairs plan the blocking would otherwise approximate).
        codes.select(col("id"), col("simhash"),
          lit(0).as("ck"), lit(0L).as("cv"))
      } else {
        // one blocking row per A-subset combo of chunks (A=1 by default →
        // plain per-chunk blocking); the combo's key packs its chunk
        // values into one long
        import graft.functions.SimhashChunkPairs
        val comboStructs = SimhashChunkPairs.combos(chunks, maxHamming)
          .zipWithIndex.map { case (ks, q) =>
            val cv = ks.foldLeft(lit(0L)) { (acc, k) =>
              val lo = k * 60 / chunks
              val width = (k + 1) * 60 / chunks - lo
              shiftleft(acc, width).bitwiseOR(
                shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1)))
            }
            struct(lit(q).as("ck"), cv.as("cv"))
          }
        codes
          .select(col("id"), col("simhash"), explode(array(comboStructs.toSeq: _*)).as("c"))
          .select(col("id"), col("simhash"), col("c.ck").as("ck"), col("c.cv").as("cv"))
      }
    // ONE shuffle total: the canonical-chunk kernel emits each qualifying
    // pair exactly once (from the first chunk the codes agree on) with the
    // Hamming filter applied in-kernel, so no per-pair dedup aggregation —
    // the naive plan's second shuffle — is needed.
    val sizeOk =
      if (chunks == 1) size(col("ds")) > 1 // all-pairs mode: no cap
      else size(col("ds")) > 1 && size(col("ds")) <= maxBucket
    keyed
      .groupBy(col("ck"), col("cv"))
      .agg(sort_array(collect_list(struct(col("id"), col("simhash")))).as("ds"))
      .filter(sizeOk)
      .select(explode(
        simhashChunkPairs(col("ds"), col("ck"), chunks, maxHamming)).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.ham").as("ham"))
  }

  /** Benchmark decontamination hits — the n-gram overlap check every
    * serious training pipeline runs against its eval benchmarks (cf. the
    * GPT-3 appendix-C / Dolma decontamination recipes): for each corpus
    * doc, the number of distinct shingles it shares with the benchmark
    * corpus (0-hit docs are absent; a threshold on n_hits drives the
    * drop decision).
    *
    * Scale shape: benchmark suites are tiny next to the corpus → their
    * distinct shingle set BROADCASTS; the corpus is scanned once and the
    * only shuffle is the per-doc hit count (map-side combinable). Never
    * a corpus-side shuffle on the shingle key.
    */
  def contaminationHits(docs: DataFrame, idCol: String, shingles: Column,
                        bench: DataFrame, benchShingles: Column): DataFrame = {
    val corpusSh = shingleTable(docs, idCol, shingles)
    val benchSh = bench.select(explode(benchShingles).as("s")).distinct()
    corpusSh.select(col("id"), col("s"))
      .join(broadcast(benchSh), Seq("s"))
      .groupBy(col("id"))
      .agg(countDistinct(col("s")).as("n_hits"))
      .select(col("id").as(idCol), col("n_hits"))
  }

  /** Near-dup candidate pairs from WINNOWING fingerprints
    * ([[graft.ops.TextOps.winnowFingerprints]]): docs sharing ≥
    * `minShared` selected fingerprints. The fingerprint-index flavor of
    * candidate generation — the winnowing guarantee (any shared run of ≥
    * w+k−1 tokens shares a fingerprint) makes this the cheaper sibling of
    * the positional-shingle span path at ~2/(w+1) of the index size,
    * which is exactly the trade plagiarism/overlap detectors ship
    * (MOSS runs this structure). Candidates feed [[verifyJaccardPairs]]
    * or [[duplicatedSpans]]-style inspection; `minShared` ≥ 2 suppresses
    * single-collision noise.
    *
    * Plan shape: the winnow table groups by fingerprint and enumerates
    * pairs inside each bucket with the shared [[docPairs]] kernel.
    * `maxBucket` here is MOSS's published "ignore fingerprints shared by
    * too many documents" rule, not just a skew guard — a fingerprint in
    * hundreds of docs is boilerplate that says nothing about pairwise
    * overlap, and pair enumeration is Θ(Σ bucket²), so the cap IS the
    * scale knob (measured on the saturated-vocab fixture: cap 2000
    * reproduces the x21 quadratic exhibit class at sf2; cap 200 — the
    * declared default — keeps the doubling near-linear, SURVEY §6.3).
    * Dropped buckets are the documented lower-bound semantics, mirrored
    * in the oracle.
    */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, k: Int = 3,
                         w: Int = 4, minShared: Long = 2,
                         maxBucket: Int = 200): DataFrame = {
    requireLongId(docs, idCol)
    winnowOverlapPairsFromIndex(
      TextOps.winnowFingerprints(docs, idCol, k, w), idCol, minShared,
      maxBucket)
  }

  /** [[winnowOverlapPairs]]'s pair stage over an ALREADY-SELECTED
    * fingerprint table — the reuse path for a persisted winnow index
    * ([[graft.ops.ModelIO.loadWinnowIndex]], whose rows are (did, pos,
    * fp)): a production run fingerprints each corpus snapshot ONCE,
    * persists the selection, and pairs any two snapshots (or a snapshot
    * against itself) from the artifacts — never re-deriving grams.
    * Identical plan and results to the from-docs form by construction
    * (that form now delegates here).
    */
  def winnowOverlapPairsFromIndex(fps0: DataFrame, idCol: String,
                                  minShared: Long = 2,
                                  maxBucket: Int = 200): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1 (got $minShared)")
    val fps = fps0.select(col(idCol).as("id"), col("fp")).distinct()
    sharedBuckets(fps, Seq(col("fp")), maxBucket, "shared")
      .filter(col("shared") >= minShared)
  }

  /** Train/eval split-leakage audit: per split label, how many docs have
    * an LSH-verified near-duplicate ([[nearDupPairs]] default path,
    * Jaccard ≥ `threshold`) inside the `trainLabel` split. THE
    * contamination number an eval set ships with — a benchmark whose
    * docs near-dup the training split measures memorization, not
    * generalization (the Lee 2021 / GPT-3 appendix-C failure class). The
    * train row reads as intra-train near-duplication (the same signal
    * [[canonicalKeep]] acts on), so one table audits both directions.
    *
    * Output: (split, n_docs, n_near_train, leak_bp), one row per split
    * label present in `splitCol` (null split = the null-id row class
    * [[graft.ops.SampleOps.hashSplit]] documents — reported as its own
    * row, never folded into a real split).
    *
    * Scale shape: the near-dup pipeline is the dominant cost and is the
    * candidate-verify path measured near-linear in SURVEY §6.3; the
    * audit itself adds one pair-sized semi-join against the train id
    * projection and one map-side-combinable agg over the label scan.
    * Nothing new is corpus-pairwise.
    */
  def splitLeakage(docs: DataFrame, idCol: String, shingles: Column,
                   threshold: Double, splitCol: String,
                   trainLabel: String, oph: Boolean = false): DataFrame = {
    val pairs = nearDupPairs(docs, idCol, shingles, threshold, oph = oph)
    val labels = docs.select(col(idCol).as("__id"), col(splitCol).as("__sp"))
    // symmetric endpoint view: a leaks iff some pair partner b is train
    val ends = pairs.select(col("i").as("__a"), col("j").as("__b"))
      .unionByName(pairs.select(col("j").as("__a"), col("i").as("__b")))
    val trainIds = labels.filter(col("__sp") === trainLabel)
      .select(col("__id").as("__b"))
    val leaky = ends.join(trainIds, Seq("__b"), "left_semi")
      .select(col("__a").as("__id")).distinct()
      .withColumn("__leak", lit(1L))
    labels.join(leaky, Seq("__id"), "left")
      .groupBy(col("__sp").as("split"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__leak")), lit(0L)).as("n_near_train"))
      .withColumn("leak_bp", TextOps.bp(col("n_near_train"), col("n_docs")))
  }

  /** The canonical KEEP/DROP decision table — the artifact a dedup stage
    * actually ships back to the corpus store: near-dup `pairs` →
    * [[connectedComponents]] → per component keep the member with the
    * highest `quality` (doc-id ascending tie-break), every other member
    * dropped with the keeper's id attached as `canonical_id`. Docs in no
    * pair are their own component and keeper. One output row per input
    * doc: (idCol, component, canonical_id, keep_flag 1|0).
    *
    * Plan shape at 100 TB: components cost is the pair graph's (bounded,
    * near-dup-cluster-sized); the decision itself is one LEFT join of the
    * corpus ids against the component table (build side = docs that are
    * in ANY near-dup pair — far smaller than the corpus) plus ONE
    * window over components. The window partitions by component —
    * millions of small partitions, no global sort, no skew (a component
    * is a near-dup cluster, not a popularity bucket).
    */
  def canonicalKeep(docs: DataFrame, idCol: String, quality: Column,
                    pairs: DataFrame, iCol: String = "i",
                    jCol: String = "j"): DataFrame = {
    val comp = connectedComponents(pairs, iCol, jCol)
      .select(col("id").as(idCol), col("comp").as("component"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("q").desc, col(idCol).asc)
    docs.select(col(idCol), quality.as("q"))
      .join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("canonical_id", first(col(idCol)).over(w))
      .withColumn("keep_flag",
        when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select(col(idCol), col("component"), col("canonical_id"),
        col("keep_flag"))
  }

  /** `df` materialized as a local checkpoint, with `metrics` computed by
    * the SAME job: observe() rides them on the checkpoint's
    * materialization, so a driver loop's probe (row count, label sum)
    * costs no action of its own. Eager, because `get` blocks until an
    * action has run the observed plan: a lazy checkpoint would leave it
    * waiting forever.
    */
  private[ops] def checkpointObserved(df: DataFrame, metric: Column,
                                      metrics: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val cp = df.observe(obs, metric, metrics: _*).localCheckpoint(eager = true)
    (cp, obs.get)
  }

  /** Connected components over an undirected near-dup pair list (i, j):
    * every doc that appears in a pair gets its component id = the minimum
    * doc id reachable through the pair graph. This is the step that turns
    * PAIRS into dedup CLUSTERS ("keep one per component") — without it a
    * chain A~B, B~C keeps B twice or drops both.
    *
    * Plan: iterative min-label propagation — per round one join of the
    * label table with the (symmetrized) edge list and a min-aggregation,
    * `localCheckpoint` between rounds so the lineage stays flat. Rounds
    * needed = graph diameter; near-dup components are small and dense
    * (diameter 1–3), and `maxIter` bounds pathological chains. The same
    * loop shape as the k-means trainer: a driver-bounded iteration of
    * fully distributed steps (the only driver data is the convergence
    * count).
    */
  def connectedComponents(pairs: DataFrame, iCol: String = "i",
                          jCol: String = "j", maxIter: Int = 20,
                          requireConvergence: Boolean = true): DataFrame = {
    val edges = pairs.select(col(iCol).as("a"), col(jCol).as("b"))
      .union(pairs.select(col(jCol).as("a"), col(iCol).as("b")))
      .localCheckpoint()
    // Convergence probe FUSED into the checkpoint materialization:
    // min-label propagation only ever DECREASES labels, so the exact
    // decimal sum of labels is strictly monotone — comparing sums detects
    // a fixpoint without the old-vs-new join a changed-row count would
    // need; each round is ONE action, not checkpoint + a probe job.
    def checkpointProbed(df: DataFrame): (DataFrame, java.math.BigDecimal, Long) = {
      val (cp, m) = checkpointObserved(df,
        sum(col("comp").cast(DecimalType(38, 0))).as("label_sum"),
        count(lit(1)).as("n"))
      val s = m("label_sum") match {
        case null                    => java.math.BigDecimal.ZERO
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      }
      (cp, s, m("n").asInstanceOf[Long])
    }
    // Seed with the first propagation round fused into initialization:
    // comp0(v) = min(v, min neighbour) from ONE aggregation over the
    // symmetric edge list (every node appears on the `a` side), instead of
    // a distinct + identity labels + a full join round. Same fixpoint,
    // one fewer iteration of join+checkpoint+probe.
    var (labels, prevSum, n0) = checkpointProbed(edges.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("comp"))
      .select(col("a").as("id"), col("comp")))
    var it = 0
    var done = n0 == 0L
    while (!done && it < maxIter) {
      // each node pulls the smallest label among its neighbours
      val nbrMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(col("a")).agg(min(col("comp")).as("nbr"))
      val (next, nextSum, _) = checkpointProbed(
        labels.join(nbrMin, labels("id") === nbrMin("a"), "left")
          .select(labels("id"),
            least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp")))
      // `next` is materialized (checkpointProbed ran the job), so the
      // previous round's checkpoint blocks are unreachable garbage —
      // free them NOW instead of letting every round's label table pile
      // up in old gen until the session/harness boundary
      Bridge.unpersistCheckpoint(labels)
      labels = next
      done = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      it += 1
    }
    // a silent stop at maxIter would return WRONG components (labels still
    // propagating); fail loudly unless the caller opted into partial labels
    if (!done && requireConvergence) {
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter); raise maxIter or pass " +
          "requireConvergence = false for partial labels")
    }
    // the edge list is loop-scoped: the returned labels are a materialized
    // checkpoint with no lineage into edges, so its blocks can go now
    Bridge.unpersistCheckpoint(edges)
    labels.select(col("id"), col("comp"))
  }

  /** Maximal duplicated token SPANS per document — substring-level exact
    * dedup (after Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): doc-level dedup (exactDedup/nearDupPairs)
    * misses boilerplate repeating INSIDE otherwise-unique documents
    * (headers, license blocks, navigation chrome) — precisely the text an
    * LM memorizes first. A k-token shingle at position p is duplicated
    * when it occurs ≥ `minCount` times across the corpus (any mix of
    * docs — within-doc repetition is duplicated text too); runs of
    * duplicated positions with contiguous [p, p+k) coverage merge into
    * one maximal span (gaps-and-islands: a new island iff p > prev_p + k).
    *
    * Plan shape at 100 TB: positional shingling is a narrow per-row
    * transform (rows ≈ corpus token count); the occurrence count is one
    * map-side-combinable groupBy on the 60-bit shingle hash; flagging is
    * an equi-join back on that hash whose build side carries ONE row per
    * hash — boilerplate skew inflates no reducer (join output ≤ position
    * rows); island-merging is a per-document window (bounded by doc
    * length). Every shuffle keyed; nothing quadratic in corpus size.
    *
    * Returns (doc_id, span_start, span_tokens): 0-based first-token index
    * and covered token count of each maximal duplicated span.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, minCount: Long = 2): DataFrame = {
    val pos = spanPositions(docs, idCol, textCol, k, minCount)
    val dup = pos.groupBy(col("sh")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minCount).select("sh")
    spanIslands(pos.join(dup, Seq("sh")), k)
      .agg(min(col("p")).as("ps"), max(col("p")).as("pe"))
      .select(col("id").as(idCol),
        col("ps").cast(LongType).as("span_start"),
        (col("pe") + k - col("ps")).cast(LongType).as("span_tokens"))
  }

  /** The positional shingles of [[duplicatedSpans]] and [[removeSpans]]:
    * after the parameter guards, one `(id, p, sh)` row per token position
    * `p` whose k-token shingle hashes to `sh`.
    */
  private def spanPositions(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, minCount: Long): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    require(minCount >= 2,
      s"minCount must be >= 2 — 1 would flag every position (got $minCount)")
    val toks = split(col(textCol), " ")
    // guarded: Spark's sequence(0, n) DESCENDS when n < 0 — a sub-k-token
    // doc must contribute zero positions, not phantom ones
    val shArr = when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          p => hash60(concat_ws(" ", slice(toks, p + 1, lit(k))))))
      .otherwise(array().cast(ArrayType(LongType)))
    // the element INDEX of posexplode is the token position
    docs.select(col(idCol).as("id"), posexplode(shArr).as(Seq("p", "sh")))
  }

  /** The island merge of the span ops: flagged `(id, p)` positions whose
    * [p, p+k) coverage is contiguous fall in one island (a new island iff
    * p > prev_p + k), grouped by `(id, island)` for the caller's bounds.
    */
  private def spanIslands(flagged: DataFrame,
                          k: Int): RelationalGroupedDataset = {
    val wOrd = Window.partitionBy("id").orderBy("p")
    flagged
      .withColumn("brk",
        when(col("p") > lag(col("p"), 1).over(wOrd) + k, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
  }

  /** Span REMOVAL — the second half of Lee et al. 2021 ("Deduplicating
    * Training Data Makes Language Models Better", §3): [[duplicatedSpans]]
    * finds the memorization-prone text; this reconstructs the corpus with
    * those spans excised, keeping each duplicated passage's FIRST
    * occurrence (corpus order = (id, position) lexicographic) so the
    * information survives exactly once.
    *
    * Keep-first semantics, precisely: a position row is removable when its
    * k-token shingle occurs ≥ `minCount` times corpus-wide AND the row is
    * not the shingle's first occurrence. Removable positions merge into
    * maximal spans with [[duplicatedSpans]]' gaps-and-islands rule (the
    * shared [[spanIslands]]); a token is dropped when ANY span covers its
    * index, and the cleaned text is the surviving tokens rejoined in
    * order.
    *
    * Plan shape at 100 TB: identical skew posture to [[duplicatedSpans]] —
    * the first-occurrence table is a map-side-combinable groupBy on the
    * shingle hash carrying ONE row per hash (min of a (id, p) struct, NOT
    * a window over sh, whose hot boilerplate hash would melt one reducer),
    * flagging is the same bounded equi-join back, islands a per-doc
    * window. Removal itself is narrow: each doc's spans collapse to one
    * array (bounded by doc length) and a codegen'd `filter` lambda drops
    * covered token indexes — no second pass over the corpus.
    *
    * Returns (idCol, text_clean, n_removed): cleaned text and the count of
    * tokens dropped (0 and the original text for untouched docs).
    */
  def removeSpans(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, minCount: Long = 2): DataFrame = {
    val pos = spanPositions(docs, idCol, textCol, k, minCount)
    val toks = split(col(textCol), " ")
    // one row per duplicated hash: its occurrence count gate and its
    // first-occurrence coordinates (lexicographic struct min)
    val firsts = pos.groupBy(col("sh"))
      .agg(count(lit(1)).as("occ"), min(struct(col("id"), col("p"))).as("f"))
      .filter(col("occ") >= minCount)
      .select(col("sh"), col("f.id").as("fid"), col("f.p").as("fp"))
    val spans = spanIslands(pos.join(firsts, Seq("sh"))
        .filter(!(col("id") === col("fid") && col("p") === col("fp"))), k)
      .agg(min(col("p")).as("ps"), (max(col("p")) + k).as("pe"))
      .groupBy(col("id"))
      .agg(collect_list(struct(col("ps"), col("pe"))).as("__spans"))
    docs.join(spans, docs(idCol) === spans("id"), "left")
      .withColumn("__kept",
        when(col("__spans").isNull, toks).otherwise(
          filter(toks, (_, i) =>
            !exists(col("__spans"), s => i >= s("ps") && i < s("pe")))))
      .select(docs(idCol),
        concat_ws(" ", col("__kept")).as("text_clean"),
        (size(toks) - size(col("__kept"))).cast(LongType).as("n_removed"))
  }

  /** Pairwise MinHash-estimated Jaccard similarity BETWEEN GROUPS (e.g.
    * between sources/domains/snapshots): the corpus-overlap matrix a
    * curation pipeline reads before deciding mixture weights or dropping a
    * crawl that duplicates another ("how much of src3 is src1 again?").
    *
    * Estimator: each group's shingle set collapses to `numHashes` min-hash
    * values (hash h of shingle s = md5(h||'|'||s), the [[minhashBands]]
    * convention — and, as there, the r21 RAW-digest mins: the min winners
    * are identical, and here they are only ever compared for EQUALITY, so
    * the agreement counts cannot move); E[agreement fraction between two
    * groups] = their Jaccard similarity. Emitted as integer counts +
    * floor basis points, so the oracle is hash-exact.
    *
    * Plan shape at 100 TB: ONE map-side-combinable aggregation over the
    * exploded shingle table (numHashes min() columns — min over a multiset
    * equals min over the set, so per-doc duplicate shingles need no
    * distinct pass); everything after operates on groups×numHashes rows —
    * bounded METADATA, like the Bloom sketch. The pair join is groups², a
    * number that is small by definition (sources, not documents).
    */
  def minhashGroupSimilarity(docs: DataFrame, keyCol: String,
                             shingles: Column, numHashes: Int): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive (got $numHashes)")
    val mins = (0 until numHashes).map(h =>
      min(TextOps.md5Salted(s"$h|", col("s"))).as(s"m$h"))
    val sigs = docs.select(col(keyCol).as("k"), explode(shingles).as("s"))
      .groupBy(col("k")).agg(mins.head, mins.tail: _*)
      .select(col("k"), posexplode(
        array((0 until numHashes).map(h => col(s"m$h")): _*)).as(Seq("i", "m")))
    sigs.as("a").join(sigs.as("b"),
        col("a.i") === col("b.i") && col("a.k") < col("b.k"))
      .groupBy(col("a.k").as("key_a"), col("b.k").as("key_b"))
      .agg(sum(when(col("a.m") === col("b.m"), 1L).otherwise(0L)).as("agree"))
      .select(col("key_a"), col("key_b"), col("agree"),
        TextOps.bp(col("agree"), lit(numHashes)).as("est_jaccard_bp"))
  }

  /** Per-document novelty vs the EARLIER corpus (corpus order = ascending
    * id): of a doc's shingles AS PROVIDED (each array element counts once
    * — no distinct pass here, so multiplicity is the caller's choice;
    * `wordShingles` dedups within a doc, making these the distinct
    * n-grams for the standard caller), how many first appeared in a
    * lower-id doc — the "how derivative is this document" curation signal
    * (novelty_bp = 10000 means every shingle is first seen here). Docs
    * with zero shingles (shorter than the shingle width) emit no row —
    * they have no n-gram evidence either way.
    *
    * Plan shape: the shingle table's first-occurrence map is ONE
    * map-side-combinable groupBy(shingle) carrying min(id) — one row per
    * distinct shingle — and the flagging join back is keyed on the
    * shingle with that one-row build side, so a hot boilerplate shingle
    * inflates no reducer (the [[duplicatedSpans]] posture). Per-doc
    * ratios are a second keyed agg on id. Nothing quadratic; two
    * shuffles total.
    */
  def seenBeforeNovelty(docs: DataFrame, idCol: String,
                        shingles: Column): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), explode(shingles).as("s"))
    val firsts = sh.groupBy(col("s")).agg(min(col("id")).as("fd"))
    sh.join(firsts, Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fd") < col("id"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_seen"),
        TextOps.bp(col("n_shingles") - col("n_seen"), col("n_shingles"))
          .as("novelty_bp"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold over an Array[Float]
    * column. Brute-force all-pairs (exact baseline); `VectorOps.lshTopK` /
    * `semanticDedup` are the scale paths. cos emitted in basis points
    * (floor semantics).
    */
  def embeddingNearDup(vecs: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    // sided = (id, vec, norm) with zero-norm rows excluded (0/0 = NaN and
    // Spark's NaN-is-largest semantics would pass `>= threshold`);
    // materialized because it feeds BOTH sides of the self-join — the
    // same multi-consumer rule semanticDedup applies
    val v = VectorOps.sided(vecs, idCol, vecCol, "id", "v", "nrm")
      .localCheckpoint()
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos",
        VectorOps.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("i"), col("b.id").as("j"),
        floor(col("cos") * 10000).cast(LongType).as("cos_bp"))
  }
}
