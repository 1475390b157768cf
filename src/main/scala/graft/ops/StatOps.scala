package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, NumericType, StringType, TimestampNTZType, TimestampType}

/** Distributed order statistics and dataset profiling.
  *
  * The exact-quantile plan is the 100 TB answer to "what is the p99": a
  * histogram pass that needs only map-side-combinable counts, a DISTRIBUTED
  * cumulative-rank bucket search (a window over each group's ≤`buckets`
  * populated-bucket rows — bounded metadata per group, never collected to
  * the driver, so group cardinality is unbounded), and a selection pass that
  * sorts only the rows of the target buckets — never a full per-group sort
  * of the corpus (a window/row_number plan ships every row of a group
  * through one task's sort; fine for small groups, fatal for "percentile
  * over the whole corpus").
  */
object StatOps {

  /** Exact per-group quantiles by three-pass histogram selection.
    *
    * Quantile spec: (name, num, den) picks the value at 1-based rank
    * `ceil(num·n/den)` — p50 = (\"p50\", 1, 2), p99 = (\"p99\", 99, 100) —
    * the same exact-integer position contract as rank-selection SQL, so
    * results are reproducible bit-for-bit across engines.
    *
    * Plan — three scans of the input, all cluster-side: (1) per-group
    * min/max/count (tiny agg, checkpointed so downstream consumers don't
    * rescan); (2) per-(group, bucket) counts over `buckets` linear bins
    * (map-side combine), then the target bucket of each quantile found with
    * a cumulative-sum window over the (group, bucket) rows — each group
    * contributes ≤ `buckets` metadata rows and groups spread across the
    * cluster, so "p99 per domain over 10^8 domains" never lands on the
    * driver; (3) rows of the target buckets only are ranked with a window
    * and the target ranks picked. Skewed value distributions degrade
    * gracefully: a hot bucket means pass 3 sorts more rows, never wrong
    * answers. NaNs are rejected loudly (they have no place on the quantile
    * axis — a NaN would silently land in bucket 0 and shift upper
    * quantiles); nulls are ignored.
    *
    * Returns one row per group: groupCol, then one DoubleType column per
    * quantile name.
    */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     quantiles: Seq[(String, Long, Long)],
                     buckets: Int = 8192): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    require(quantiles.forall { case (_, num, den) =>
      num > 0 && den > 0 && num <= den }, "quantiles must be in (0, 1]")
    require(buckets > 0, "buckets must be positive")
    val spark = df.sparkSession
    import spark.implicits._

    val v = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast(DoubleType).as("v"))
      .filter(col("v").isNotNull)

    // Pass 1: per-group bounds (one row per group, stays in the cluster).
    // max() propagates NaN, so guarding `hi` alone fails the job loudly on
    // any NaN input instead of silently corrupting bucket assignment.
    // localCheckpoint: bounds feeds three consumers (histogram, targets,
    // selection) — without it each consumer would rescan the input.
    val bounds = v.groupBy("g")
      .agg(min("v").as("lo"), max("v").as("__hi0"), count(lit(1)).as("n"))
      .withColumn("hi", when(isnan(col("__hi0")), raise_error(lit(
          s"exactQuantiles: NaN in value column '$valueCol' (unsupported)")))
        .otherwise(col("__hi0")))
      .drop("__hi0")
      .localCheckpoint()

    // Bucket id of a value, given group bounds (clamped; degenerate
    // lo == hi collapses to bucket 0). Must be IDENTICAL in pass 2 and 3.
    def bucketCol(lo: Column, hi: Column): Column =
      least(greatest(
        floor((col("v") - lo) / (hi - lo + lit(Double.MinPositiveValue))
          * buckets).cast(LongType), lit(0L)), lit(buckets - 1L))

    // Pass 2: histogram — counts per (group, bucket), map-side combined.
    val hist = v.join(bounds.select("g", "lo", "hi"), "g")
      .groupBy(col("g"), bucketCol(col("lo"), col("hi")).as("b"))
      .agg(count(lit(1)).as("c"))

    // Distributed bucket search: cumulative counts via a window over each
    // group's populated buckets (≤ `buckets` rows per group — bounded
    // metadata, partitioned across the cluster by group). The target bucket
    // of rank r is the unique bucket with prev_cum < r ≤ cum.
    val wb = Window.partitionBy(col("g")).orderBy(col("b"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wb))
      .withColumn("prev", col("cum") - col("c"))
    val qdf = broadcast(quantiles.toDF("qname", "qnum", "qden"))
    // rank = ceil(num·n/den) in pure long arithmetic (`div`, not `/`: the
    // double quotient loses exactness past 2^53).
    val targets = cum.join(bounds.select("g", "n"), "g")
      .crossJoin(qdf)
      .withColumn("rank", expr("(qnum * n + qden - 1) div qden"))
      .filter(col("rank") > col("prev") && col("rank") <= col("cum"))
      .select(col("g").as("tg"), col("b").as("tb"), col("qname"),
        (col("rank") - col("prev")).as("rk"))
      .localCheckpoint() // groups×quantiles rows; consumed twice below

    // Pass 3: rank only the target buckets' rows; pick the target ranks.
    val w = Window.partitionBy(col("g"), col("b")).orderBy(col("v"))
    val picked = v.join(bounds.select("g", "lo", "hi"), "g")
      .withColumn("b", bucketCol(col("lo"), col("hi")))
      .join(targets.select(col("tg").as("g"), col("tb").as("b")).distinct(),
        Seq("g", "b"), "left_semi")
      .withColumn("rn", row_number().over(w))
      .join(targets, col("rn") === col("rk") &&
        col("g") === col("tg") && col("b") === col("tb"))
      .select(col("g"), col("qname"), col("v"))

    val agg = quantiles.map { case (qname, _, _) =>
      min(when(col("qname") === qname, col("v"))).as(qname)
    }
    picked.groupBy(col("g").as(groupCol))
      .agg(agg.head, agg.tail: _*)
  }

  /** Mergeable per-group distinct-count sketches (HLL, the DataSketches
    * implementation behind Spark's `hll_sketch_agg`): each group gets a
    * small binary sketch that UNIONS losslessly with other sketches of the
    * same column — the incremental corpus-stats primitive ("sketch each
    * day's shard at ingest, merge at read time") that exact distincts
    * cannot provide without re-scanning history. Default lgConfigK = 12 ≈
    * 1.6% relative standard error on a ~4 KB sketch.
    *
    * One map-side-combinable shuffle to build; [[mergeSketches]] is the
    * same agg over stored sketches (rows = groups, not data); estimates
    * are engine-specific → spec-gated against exact distincts, no SQL
    * oracle (the declared x33 policy for sketch outputs).
    */
  def distinctSketch(df: DataFrame, keyCol: String, valCol: String,
                     lgConfigK: Int = 12): DataFrame =
    df.groupBy(col(keyCol))
      .agg(hll_sketch_agg(col(valCol), lit(lgConfigK)).as("sketch"))

  /** Union stored sketches per key (cross-shard / cross-snapshot merge). */
  def mergeSketches(sketches: DataFrame, keyCol: String,
                    sketchCol: String = "sketch"): DataFrame =
    sketches.groupBy(col(keyCol))
      .agg(hll_union_agg(col(sketchCol), lit(false)).as(sketchCol))

  /** Read the distinct-count estimate off a sketch column. */
  def sketchEstimate(df: DataFrame, sketchCol: String = "sketch",
                     as: String = "n_distinct_est"): DataFrame =
    df.withColumn(as, hll_sketch_estimate(col(sketchCol)))

  /** Mergeable per-group count-min sketch — the FREQUENCY sibling of
    * [[distinctSketch]] (heavy hitters / "how often does this token
    * appear", per shard, merged at read time without re-scanning
    * history). The sketch is a dense array<long> of a 2-slot
    * [width, depth] header followed by `depth`×`width` counters (the
    * header is what lets a probe reject a same-product factorization
    * mismatch a bare length check cannot see).
    *
    * FORMAT BREAK (r14): sketches persisted by pre-header builds
    * (headerless, length = depth×width) are NOT readable by this build —
    * [[cmsEstimate]] rejects them loudly, naming the legacy format. There
    * is deliberately no silent fallback: [[mergeCmsSketches]] cannot
    * distinguish a legacy counter in slot 0-1 from a header (it would
    * `min` two counters instead of summing them — corruption in the
    * undetectable direction), so legacy artifacts must be rebuilt, not
    * half-read. Item frequency is
    * estimated as min over rows d of
    * counter[d][hash_d(item) mod width] — a ONE-SIDED estimate (never an
    * undercount; overcounts by at most εN with ε ≈ e/width at the
    * standard depth ≈ ln(1/δ)). Spark has no builtin CMS, so this builds
    * the counters as ordinary map-side-combinable counts: one shuffle
    * keyed by (group, row, bucket), rows per group bounded by
    * depth×width regardless of data volume. Hashes are the engine's
    * md5-derived hash60 — deterministic, but estimates are spec-gated
    * like every sketch (the declared x33 policy).
    */
  def cmsSketch(df: DataFrame, keyCol: String, valCol: String,
                width: Int = 256, depth: Int = 4): DataFrame = {
    require(width > 0 && depth > 0, "width and depth must be positive")
    val slots = depth * width
    df.select(col(keyCol).as("__k"), col(valCol).cast(StringType).as("__v"))
      .select(col("__k"), col("__v"),
        explode(array((0 until depth).map(lit): _*)).as("__d"))
      .groupBy(col("__k"), col("__d"),
        cmsBucket(col("__d"), col("__v"), width).as("__b"))
      .agg(count(lit(1)).as("__c"))
      // sparse (slot, count) → dense array; absent slots are true zeros
      .groupBy(col("__k"))
      .agg(map_from_entries(collect_list(struct(
        (col("__d") * width + col("__b")).cast("int").as("slot"),
        col("__c").as("c")))).as("__m"))
      .select(col("__k").as(keyCol),
        // slots 0-1 are a [width, depth] HEADER: the length check alone
        // cannot distinguish factorizations with the same product
        // (256x4 vs 128x8 both have 1024 slots), and a same-product
        // mismatched probe would silently read wrong counters — breaking
        // the one-sided guarantee in the undetectable direction
        concat(array(lit(width.toLong), lit(depth.toLong)),
          transform(sequence(lit(0), lit(slots - 1)),
            s => coalesce(element_at(col("__m"), s.cast("int")), lit(0L))))
          .as("cms"))
  }

  /** Element-wise sum of stored CMS sketches per key (cross-shard merge —
    * counters are linear, so the merged sketch is EXACTLY the sketch of
    * the concatenated data). Shuffled rows = groups × slots (bounded
    * sketch metadata), never data. Sketches built with different
    * width/depth have different lengths; summing them position-wise would
    * be meaningless, so per key the contributor count must be identical
    * at every slot (constant iff all lengths match) or the merge raises.
    */
  def mergeCmsSketches(sketches: DataFrame, keyCol: String,
                       sketchCol: String = "cms"): DataFrame =
    sketches.select(col(keyCol).as("__k"), posexplode(col(sketchCol)))
      .groupBy(col("__k"), col("pos"))
      // header slots (pos 0-1) carry parameters, not counters: they must
      // agree across contributors (min = max) and pass through un-summed;
      // counter slots are linear and sum
      .agg(sum(col("col")).as("c"), count(lit(1)).as("__n"),
        min(col("col")).as("__lo"), max(col("col")).as("__hi"))
      .groupBy(col("__k"))
      .agg(map_from_entries(collect_list(struct(
            col("pos").cast("int").as("slot"),
            when(col("pos") <= 1, col("__lo")).otherwise(col("c")).as("c"))))
          .as("__m"),
        min(col("__n")).as("__nmin"), max(col("__n")).as("__nmax"),
        max(when(col("pos") <= 1, col("__hi") - col("__lo"))
          .otherwise(lit(0L))).as("__hdrspread"))
      .select(col("__k").as(keyCol),
        when(col("__nmin") === col("__nmax") && col("__hdrspread") === 0L,
          transform(sequence(lit(0), size(col("__m")) - 1),
            s => coalesce(element_at(col("__m"), s.cast("int")), lit(0L))))
        .otherwise(raise_error(concat(
          lit("mergeCmsSketches: mixed sketch parameters for key "),
          col("__k").cast(StringType))))
          .as(sketchCol))

  /** Estimated frequency of `itemCol` under a CMS sketch column: min over
    * depth rows. `width`/`depth` must match the build. One-sided —
    * `freq_est >= true count` always. A probe whose width/depth disagree
    * with the build would index out of range — element_at returns null
    * (ANSI off) and least() skips nulls, silently breaking the one-sided
    * guarantee — so the sketch length is checked and a mismatch raises.
    */
  def cmsEstimate(df: DataFrame, itemCol: String,
                  sketchCol: String = "cms", width: Int = 256,
                  depth: Int = 4, as: String = "freq_est"): DataFrame =
    df.withColumn(as,
      // the [width, depth] header (slots 1-2 in element_at's 1-based
      // indexing) must match the probe parameters EXACTLY — the length
      // check alone passes same-product factorizations (128x8 vs 256x4)
      // whose probes silently read wrong counters
      when(size(col(sketchCol)) === lit(depth * width + 2) &&
          element_at(col(sketchCol), 1) === lit(width.toLong) &&
          element_at(col(sketchCol), 2) === lit(depth.toLong),
        (0 until depth).map { d =>
          // element_at is 1-based on arrays; counters start after the
          // 2-slot header
          element_at(col(sketchCol),
            (lit(d * width) + cmsBucket(lit(d), col(itemCol).cast(StringType),
              width) + 3).cast("int"))
        }.reduce(least(_, _)))
      .otherwise(raise_error(concat(
        lit(s"cmsEstimate: sketch built with other parameters than the " +
          s"probe's width=$width depth=$depth (header/length mismatch); " +
          "sketch length "),
        size(col(sketchCol)).cast(StringType),
        // self-diagnosing for the r14 format break: a pre-header artifact
        // has exactly depth*width slots and must be rebuilt
        when(size(col(sketchCol)) === lit(depth * width),
          lit(" — this is the legacy HEADERLESS length for these " +
            "parameters; sketches persisted by a pre-header build must " +
            "be rebuilt with cmsSketch"))
          .otherwise(lit(""))))))

  /** Row-d bucket of a value: hash60 of \"d<SEP>value\" mod width — ONE
    * definition shared by build and probe (a drifted copy would silently
    * zero every estimate).
    */
  private def cmsBucket(d: Column, v: Column, width: Int): Column =
    pmod(TextOps.hash60(concat_ws("\u0001", d.cast(StringType), v)),
      lit(width.toLong))

  /** The i-th Bloom bit position of a value: hash60 of "i<SEP>value" mod m
    * (same U+0001 separator as cmsBucket, via [[sepJoin]]). ONE definition
    * shared by build and probe (the cmsBucket rule). hash60 is a positive
    * 60-bit value, so pmod == %.
    */
  private def bloomPos(i: Column, v: Column, mBits: Int): Column =
    pmod(TextOps.hash60(sepJoin(i.cast(StringType), v)),
      lit(mBits.toLong))

  /** U+0001-separated join (the cmsBucket separator convention). */
  private def sepJoin(a: Column, b: Column): Column =
    concat_ws(1.toChar.toString, a, b)

  /** Mergeable Bloom MEMBERSHIP sketch — the third sibling of
    * [[distinctSketch]] (HLL) and [[cmsSketch]] (CMS): "might this element
    * be in the reference set?", with NO false negatives and a tunable
    * false-positive rate ((1-e^(-kn/m))^k). The 100 TB use is the
    * incremental-dedup probe: a bloom over the reference corpus's content
    * hashes is bounded METADATA (m bits — ~12 GB for 10^10 docs at 1%
    * FP), so a new shard probes membership with a narrow bounded join
    * instead of an anti-join against 100 TB of history (false positives
    * re-checked exactly against only the colliding slice, false negatives
    * impossible — no duplicate is missed).
    *
    * Representation: sparse rows (widx, bits, m_bits, k_hashes) packing
    * 32 bits per word — bit index <= 31 keeps every mask positive, no
    * sign-bit portability edge — with absent words meaning all-zero.
    * Built as ordinary map-side-combinable bit_or counts (no UDAF); rows
    * bounded by m/32 regardless of data volume. Cross-shard merge is
    * bit_or (bitwise union is EXACTLY the sketch of the concatenated
    * data). m/k ride along in every row so a mismatched probe FAILS
    * LOUDLY (the cmsEstimate rule) instead of probing wrong positions.
    */
  def bloomSketch(df: DataFrame, valCol: String, mBits: Int = 2048,
                  kHashes: Int = 4): DataFrame = {
    require(mBits > 0 && mBits % 32 == 0,
      s"mBits must be a positive multiple of 32, got $mBits")
    require(kHashes > 0, s"kHashes must be positive, got $kHashes")
    df.select(explode(array((0 until kHashes).map(i =>
        bloomPos(lit(i), col(valCol).cast(StringType), mBits)): _*)).as("__p"))
      .groupBy(expr("__p DIV 32").as("widx"))
      .agg(expr("bit_or(shiftleft(1L, CAST(__p % 32 AS INT)))").as("bits"))
      .select(col("widx"), col("bits"),
        lit(mBits).as("m_bits"), lit(kHashes).as("k_hashes"))
  }

  /** Bitwise-OR union of stored Bloom sketches (cross-shard merge —
    * bitwise union is exactly the sketch of the concatenated data).
    * Sketches built with different m/k occupy different position spaces;
    * OR-ing them would fabricate membership, so parameter uniformity is
    * asserted per merged word (and every probe re-validates on read).
    */
  def mergeBloomSketches(sketches: DataFrame): DataFrame =
    sketches.groupBy("widx")
      .agg(expr("bit_or(bits)").as("bits"),
        min("m_bits").as("__m0"), max("m_bits").as("__m1"),
        min("k_hashes").as("__k0"), max("k_hashes").as("__k1"))
      .select(col("widx"),
        when(col("__m0") === col("__m1") && col("__k0") === col("__k1"),
          col("bits"))
          .otherwise(raise_error(concat(
            lit("mergeBloomSketches: mixed m/k at widx "),
            col("widx").cast(StringType)))).as("bits"),
        col("__m0").as("m_bits"), col("__k0").as("k_hashes"))

  /** Probe a Bloom sketch: (idCol, <as>) with 1 = possibly-member (all k
    * bits set), 0 = DEFINITELY absent. The bloom side is bounded (<= m/32
    * rows) and broadcast; absent words are all-zero (left join). Sketch
    * parameters are validated GLOBALLY (a 1-row aggregate of the bounded
    * sketch) before any membership decision: a per-joined-row check would
    * only fire when a probed position lands on a PRESENT word, so a
    * wrong-parameter probe whose positions all missed would return
    * "definitely absent" — a silent false negative on the one guarantee
    * a Bloom filter makes. An EMPTY sketch probes as all-absent with no
    * parameter claim (nothing was ever inserted).
    */
  def bloomProbe(df: DataFrame, idCol: String, valCol: String,
                 bloom: DataFrame, mBits: Int = 2048, kHashes: Int = 4,
                 as: String = "bloom_hit"): DataFrame = {
    val pos = df.select(col(idCol),
      explode(array((0 until kHashes).map(i =>
        bloomPos(lit(i), col(valCol).cast(StringType), mBits)): _*)).as("__p"))
    val meta = broadcast(bloom.agg(
      min("m_bits").as("__m0"), max("m_bits").as("__m1"),
      min("k_hashes").as("__k0"), max("k_hashes").as("__k1")))
    pos.join(broadcast(bloom), expr("__p DIV 32") === bloom("widx"), "left")
      .crossJoin(meta) // 1-row broadcast
      .select(col(idCol),
        when(col("__m0").isNotNull &&
            (col("__m0") =!= lit(mBits) || col("__m1") =!= lit(mBits) ||
             col("__k0") =!= lit(kHashes) || col("__k1") =!= lit(kHashes)),
          raise_error(concat(lit("bloomProbe: sketch built with m/k = "),
            col("__m0").cast(StringType), lit("/"),
            col("__k0").cast(StringType),
            lit(s", probed with $mBits/$kHashes"))).cast(LongType))
          .when(col("bits").isNull, lit(0L))
          .when(col("bits").bitwiseAND(
              expr("shiftleft(1L, CAST(__p % 32 AS INT))")) =!= 0, lit(1L))
          .otherwise(lit(0L)).as("__hit"))
      .groupBy(col(idCol))
      .agg(min(col("__hit")).as(as))
  }

  /** Power-of-two length histogram per key: bucket = number of binary
    * digits of the length (⌊log2⌋+1), with count/sum/min/max of the raw
    * length per (key, bucket) — the sequence-length profile a packing /
    * batching stage reads before sizing context windows ("how many
    * 2^10..2^11-char docs per source"). The bucket is computed EXACTLY as
    * the base-2 string length: floating log2 is not correctly rounded and
    * flips buckets at exact powers of two.
    *
    * One map-side-combinable aggregation, one shuffle; output cardinality
    * is keys × ≤63 buckets — bounded metadata however large the corpus.
    */
  def lengthBuckets(df: DataFrame, keyCol: String, lenCol: String): DataFrame =
    df.groupBy(col(keyCol),
        // negative lengths fail loudly (exactQuantiles' NaN precedent):
        // conv() would treat them as unsigned 2^64+x → a phantom bucket 64
        // that also diverges from the signed printf('%b') oracle
        when(col(lenCol) >= 0, length(conv(col(lenCol), 10, 2)).cast(LongType))
          .otherwise(raise_error(concat(lit(s"lengthBuckets: negative $lenCol "),
            col(lenCol).cast(StringType)))).as("len_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(lenCol)).as("sum_len"),
        min(col(lenCol)).as("min_len"),
        max(col(lenCol)).as("max_len"))

  /** Column profiling: one output row per column with count / null count /
    * exact distinct / min / max. The ANALYZE-style dataset fingerprint a
    * pipeline records before training runs. Works on ANY column type:
    * distinct/count identity uses a LOSSLESS raw key (never the double
    * cast, which would collapse longs ≥ 2^53 and profile string/binary
    * columns as all-null); min_v/max_v are double stats, null for
    * non-numeric columns rather than silently wrong.
    *
    * Plan: two shuffles. N count_distincts in ONE agg would make Catalyst
    * Expand every input row once per distinct group (N+1× the scan through
    * a single hash aggregate — measured 1.47 s for 3 columns over sf0.1
    * lineitem). Instead explode to (col_name, key, value) triples — narrow,
    * no shuffle — then ONE partial-aggregated shuffle on (col_name, key)
    * collapses to the distinct values per column, and a second tiny agg per
    * col_name derives every statistic from the (key, cnt, v) rows: exact
    * distincts WITHOUT Expand, and the per-column work spreads across the
    * cluster instead of one aggregate pipeline.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach(c => require(types.contains(c), s"no such column: $c"))
    // Lossless identity key for the distinct/count aggregates: hex for
    // binary (a UTF-8 string cast garbles arbitrary bytes into replacement
    // chars that can collide); epoch micros for timestamps (the wall-clock
    // string drops the zone offset, so a DST fall-back hour collapses two
    // distinct instants); +0.0 normalization for float/double so -0.0 and
    // 0.0 stay ONE distinct value like SQL DISTINCT and double groupBy;
    // plain string cast for everything else (exact for longs, decimals,
    // strings, dates).
    def rawKey(c: String): Column = types(c) match {
      case BinaryType    => hex(col(c))
      case TimestampType | TimestampNTZType =>
        TsCompat.micros(col(c)).cast(StringType)
      case DoubleType | org.apache.spark.sql.types.FloatType =>
        (col(c) + lit(0.0d)).cast(StringType)
      case _             => col(c).cast(StringType)
    }
    // Numeric view for min_v/max_v only; non-numeric columns get null stats
    // instead of the old behavior (double-cast everything) that silently
    // profiled a string column as n=0, n_distinct=0, n_null=total.
    def numV(c: String): Column = types(c) match {
      case _: NumericType => col(c).cast(DoubleType)
      case TimestampType | TimestampNTZType =>
        TsCompat.utc(col(c)).cast(DoubleType) // epoch seconds
      case _              => lit(null).cast(DoubleType)
    }
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("c"), rawKey(c).as("k"), numV(c).as("v"))): _*)).as("p"))
      .select(col("p.c").as("c"), col("p.k").as("k"), col("p.v").as("v"))
    // v is functionally determined by (c, k), so min(v) just carries it.
    pairs.groupBy("c", "k").agg(count(lit(1)).as("cnt"), min(col("v")).as("v"))
      .groupBy(col("c").as("col_name")).agg(
        coalesce(sum(when(col("k").isNotNull, col("cnt"))), lit(0L)).as("n"),
        coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0L)).as("n_null"),
        count(when(col("k").isNotNull, lit(1))).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
  }

  /** Per-source dataset-card report — the audit table a corpus release
    * ships next to the data ("what is in each slice and how clean is
    * it"): for every source, document and token counts, mean document
    * length, the Gopher-filter pass rate ([[TextOps.gopherFilter]]'s
    * `keep` aggregated), exact-text duplication within the source, and
    * the modal language with its share. Everything integral (centi /
    * basis points, floor) so the DuckDB oracle hash-matches.
    *
    * Plan shape: ONE pass over the text (the narrow Gopher signals fused
    * into the scan) feeding two map-side-combinable keyed aggs — per
    * source, and per (source, lang) for the mode — then a window over the
    * per-(source, lang) METADATA rows (≤ sources × langs) and one keyed
    * join of two bounded relations. The corpus shuffles twice, both
    * combiner-condensed; nothing pairwise, nothing driver-side.
    */
  def sourceReport(docs: DataFrame, srcCol: String = "source",
                   textCol: String = "text",
                   langCol: String = "lang"): DataFrame = {
    val enriched = TextOps.gopherFilter(docs, textCol)
      .withColumn("__toks", size(split(col(textCol), " ")).cast(LongType))
    val perSrc = enriched.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        count_distinct(md5(col(textCol))).as("n_distinct_texts"))
      .withColumn("mean_tokens_centi",
        floor(col("n_tokens").cast(DoubleType) * 100d
          / col("n_docs").cast(DoubleType)).cast(LongType))
      .withColumn("keep_bp", TextOps.bp(col("n_keep"), col("n_docs")))
      .withColumn("dup_text_bp",
        TextOps.bp(col("n_docs") - col("n_distinct_texts"), col("n_docs")))
    // modal language: (count desc, lang asc) over the per-(source, lang)
    // metadata rows — a deterministic mode, ties to the smallest lang
    val wLang = Window.partitionBy(col(srcCol))
      .orderBy(col("n_lang").desc, col(langCol).asc)
    val topLang = docs.groupBy(col(srcCol), col(langCol))
      .agg(count(lit(1)).as("n_lang"))
      .withColumn("__rk", row_number().over(wLang))
      .filter(col("__rk") === 1)
      .select(col(srcCol), col(langCol).as("top_lang"),
        col("n_lang").as("n_top_lang"))
    perSrc.join(topLang, Seq(srcCol))
      .withColumn("top_lang_bp", TextOps.bp(col("n_top_lang"), col("n_docs")))
      .select(col(srcCol), col("n_docs"), col("n_tokens"),
        col("mean_tokens_centi"), col("keep_bp"), col("n_distinct_texts"),
        col("dup_text_bp"), col("top_lang"), col("top_lang_bp"))
  }

  /** Pipeline FUNNEL report: doc/token counts after every stage of a
    * curation pipeline — the observability table every data run ships
    * next to its output ("raw 4.1B docs → quality 2.3B → dedup 1.1B →
    * balanced 0.8B"). Without it, a mix bug (a filter eating 99% of a
    * language, a dedup stage suddenly keeping everything) is invisible
    * until a training run wastes a cluster-month; with it, the diff
    * between two pipeline versions is one small join.
    *
    * `stages` are (name, frame) pairs — typically successive refinements
    * of one pipeline. NOTE: the per-stage aggregates are separate
    * branches of one union, and Spark does not share NARROW subtrees
    * across branches (ReuseExchange only deduplicates exchanges), so a
    * stage that several later stages build on re-executes per branch.
    * Measured (x102, sf0.1→sf2): localCheckpointing the shared stages
    * was a WASH (−15%/+4%/+10%) — counting is far cheaper than the
    * stages, so materialization costs what re-execution saves; cache the
    * shared frames only when their consumers do real work (the x34
    * curation pattern), not for count branches. Token counts come from
    * `tokenCol` evaluated against each stage's rows; an empty stage
    * reports (0, 0) rather than vanishing (the audit must show the stage
    * that killed everything).
    *
    * Scale shape: each stage is ONE map-side-combinable global aggregate
    * (count + sum condense per task before the single-row exchange);
    * the union is `stages.size` metadata rows. Nothing here is more
    * expensive than the pipeline's own stages.
    */
  def funnelReport(stages: Seq[(String, DataFrame)],
                   tokenCol: Column): DataFrame =
    funnel("funnelReport", stages, tokenCol, Nil)

  /** Corpus snapshot diff — the release-to-release audit table: per doc
    * id, `added` (new only) / `removed` (old only) / `changed` (both,
    * content hash differs) / `unchanged`. The table a crawl refresh or a
    * re-processed dump ships so downstream consumers know what moved —
    * and the input the incremental ops (x60/x73) decide their work-list
    * from (only `added`+`changed` need re-dedup/re-scoring).
    *
    * Contract: ids must be unique per snapshot (it's a keyed diff — the
    * multiplicity question [[graft.ops.DedupOps.incrementalDedup]]
    * documents does not arise here by construction of the full-outer
    * join; duplicate ids would produce a row per id-pair, loudly).
    * Comparison is by md5(content) — the cross-engine convention, and at
    * 100 TB the hash comparison moves 16 bytes per row instead of the
    * documents.
    *
    * Plan: ONE full-outer equi-join on the id (two keyed shuffles of
    * hash-projected rows, no text movement), narrow status case.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
                   contentCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol), md5(col(contentCol)).as("__ho"))
    val n = newSnap.select(col(idCol), md5(col(contentCol)).as("__hn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") === col("__hn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Source-mix drift between two snapshots — the ingest-monitor table
    * that catches "one crawl quietly lost a domain" before a training
    * run bakes it in: per source, doc counts and corpus shares (bp) in
    * each snapshot and the share delta. A source present in only one
    * snapshot reports 0 on the other side (the full-outer contract —
    * absence IS the signal, but unlike [[funnelReportBy]]'s open-ended
    * stage universe, two snapshots define a closed source union, so an
    * explicit zero row is well-defined and more readable here).
    *
    * Scale shape: one map-side-combinable count per snapshot, a
    * sources-sized full-outer join, two 1-row broadcasts — output and
    * all intermediates are bounded source metadata.
    */
  def mixDrift(oldSnap: DataFrame, newSnap: DataFrame,
               groupCol: String): DataFrame = {
    def cnt(df: DataFrame, as: String) =
      df.groupBy(col(groupCol)).agg(count(lit(1)).as(as))
    val o = cnt(oldSnap, "n_old")
    val n = cnt(newSnap, "n_new")
    val totO = oldSnap.agg(count(lit(1)).as("__to"))
    val totN = newSnap.agg(count(lit(1)).as("__tn"))
    // an EMPTY snapshot has no shares: null, not a 0/0 ANSI error — the
    // count columns still report, which is the signal that matters there
    def share(n: Column, tot: Column): Column =
      when(tot > 0, TextOps.bp(n, tot)).otherwise(lit(null).cast(LongType))
    o.join(n, Seq(groupCol), "full_outer")
      .na.fill(0L, Seq("n_old", "n_new"))
      .crossJoin(broadcast(totO)).crossJoin(broadcast(totN))
      .withColumn("share_old_bp", share(col("n_old"), col("__to")))
      .withColumn("share_new_bp", share(col("n_new"), col("__tn")))
      .withColumn("delta_bp", col("share_new_bp") - col("share_old_bp"))
      .drop("__to", "__tn")
  }

  /** [[funnelReport]] broken out by a group column (source / language /
    * snapshot): the per-DOMAIN funnel, which is where mix bugs actually
    * hide — a global funnel that drops 40% looks fine until the by-source
    * view shows one domain losing 99% (a filter tuned on English eating a
    * low-resource language, a dedup threshold melting one crawl). One
    * row per (stage, group) PRESENT AT that stage; a group absent from a
    * stage's rows was filtered out entirely — the diff against the
    * stage-0 group set IS the signal (an explicit zero row would require
    * knowing the group universe, which only stage 0 defines).
    *
    * Scale shape: per stage, one map-side-combinable agg keyed by the
    * group — output bounded by stages × groups metadata rows.
    */
  def funnelReportBy(stages: Seq[(String, DataFrame)], tokenCol: Column,
                     groupCol: String): DataFrame =
    funnel("funnelReportBy", stages, tokenCol, Seq(groupCol))

  /** The funnel of both reports, per `groupCols` (none: one global row per
    * stage — `Dataset.agg` is `groupBy().agg`).
    */
  private def funnel(op: String, stages: Seq[(String, DataFrame)],
                     tokenCol: Column, groupCols: Seq[String]): DataFrame = {
    require(stages.nonEmpty, s"$op: stages must be non-empty")
    stages.zipWithIndex.map { case ((name, df), i) =>
      df.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(tokenCol.cast(LongType)), lit(0L)).as("n_tokens"))
        .select((lit(i.toLong).as("stage_idx") +: lit(name).as("stage") +:
          groupCols.map(col)) ++ Seq(col("n_docs"), col("n_tokens")): _*)
    }.reduce(_ unionAll _)
  }
}
