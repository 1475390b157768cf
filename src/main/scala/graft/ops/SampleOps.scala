package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic sampling and dataset splitting for corpus pipelines.
  *
  * Everything keys off the md5-derived `hash60` of the row's id rendered as
  * a decimal string — reproducible across runs, engines (exact DuckDB
  * oracle), partitionings, and cluster sizes, unlike `rand()`-based
  * sampling which is none of those. Narrow, shuffle-free, fuses into the
  * scan: the idiomatic way to carve train/val/test or a 1% dev slice out
  * of a 100 TB corpus is exactly this hash-mod predicate, pushed as close
  * to the source as possible.
  */
object SampleOps {

  /** 60-bit md5 hash of the id's decimal rendering (TextOps contract). */
  private def idHash(idCol: Column): Column =
    TextOps.hash60(idCol.cast("string"))

  /** Loud reserved-name gate: the ops here stage scratch columns under
    * `__`-prefixed names and drop them on the way out — an input already
    * carrying one would be silently overwritten and then DELETED from
    * the output (r15 review). One definition for every op that stages,
    * here and in [[JoinOps]].
    */
  private[ops] def requireFresh(df: DataFrame, names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"input already has internal column(s) ${clash.mkString(", ")} — " +
        "rename before calling (they would be overwritten and dropped)")
  }

  /** Keep ~rateBp/10000 of rows, deterministically by id hash. */
  def hashSample(df: DataFrame, idCol: String, rateBp: Int): DataFrame = {
    // out-of-range rates are typos, not requests for all/none (the
    // percentileSelect convention — a silent 100%/0% slice looks
    // plausible downstream)
    require(rateBp >= 0 && rateBp <= 10000,
      s"hashSample: rateBp must be in [0, 10000] (got $rateBp)")
    df.filter(idHash(col(idCol)) % 10000 < rateBp)
  }

  /** Assign every row a split label by hash bucket: the first `cuts` entry
    * (label, upToBp) whose bound exceeds the row's hash-mod-10000 wins.
    * E.g. Seq(("train", 8000), ("val", 9000), ("test", 10000)) = 80/10/10.
    * Deterministic and stable under corpus growth: a row's split never
    * changes when other rows are added or removed.
    */
  def hashSplit(df: DataFrame, idCol: String,
                cuts: Seq[(String, Int)]): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 10000,
      "cuts must cover the full [0,10000) hash range")
    require(cuts.map(_._2) == cuts.map(_._2).sorted,
      "cut bounds must be ascending")
    val h = idHash(col(idCol)) % 10000
    val label = cuts.init.foldRight(lit(cuts.last._1): Column) {
      case ((name, upTo), rest) => when(h < upTo, lit(name)).otherwise(rest)
    }
    // null id → null split, NOT the fold's terminal label: every when()
    // is null for a null hash, so the unguarded fold dumped 100% of
    // null-id rows into the LAST cut ("test") — silent evaluation-split
    // contamination (hashSample consistently drops them: a null predicate
    // never passes a filter)
    df.withColumn("split", when(h.isNotNull, label))
  }

  /** Token-budget shard packing: assign rows (in `idCol` order) to
    * contiguous training shards of ~`budget` tokens — sequence-packing's
    * first stage. shard = floor(tokens_before_this_row / budget).
    *
    * Scale shape — a distributed prefix sum, NOT a global ordered window
    * (which would serialize 100 TB through one task):
    *   1. per-bucket running sums (windows partitioned by floor(id/bucket),
    *      fully parallel);
    *   2. prefix offsets over the per-bucket TOTALS — a global window, but
    *      over one row per bucket (bounded metadata, like T12's buckets);
    *   3. broadcast the tiny offset table back onto the rows.
    */
  def packShards(df: DataFrame, idCol: String, tokensCol: String,
                 budget: Long, bucketSize: Long = 1L << 20): DataFrame = {
    require(budget > 0, "budget must be positive")
    tokenStarts(df, idCol, tokensCol, bucketSize)
      .withColumn("shard", floor(col("__start") / budget).cast(LongType))
      .drop("__start")
  }

  /** Each row with its global token START offset in `idCol` order —
    * `__start` = sum of `tokensCol` over all lower-id rows. The shared
    * distributed-prefix-sum core of [[packShards]] (shard =
    * start ÷ budget) and [[packSequences]] (seq = start ÷ seqLen): rows
    * bucket by id range, per-bucket totals come from a plain partial-agg
    * over the source (NOT from the running-sum window output — that
    * would evaluate the window subtree twice), the bucket offsets
    * prefix-sum through a global window over ONE ROW PER BUCKET (bounded
    * metadata), broadcast back, and the in-bucket running sum is a
    * bucket-partitioned window. No global sort, no single-reducer stage.
    */
  private def tokenStarts(df: DataFrame, idCol: String, tokensCol: String,
                          bucketSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketSize > 0, "bucketSize must be positive")
    requireFresh(df, "__b", "__run", "__off", "__start")
    // data gates riding the plan (no extra driver job): a null id has no
    // position in the packing order, and a null/negative token count
    // shifts EVERY downstream start offset — both previously corrupted
    // the layout silently (null ids additionally vanished through the
    // non-null-safe offsets join while their tokens stayed in the bucket
    // totals, r15 review)
    val guarded = df.withColumn(tokensCol,
      when(col(idCol).isNull, raise_error(lit(
        s"tokenStarts: null $idCol — packing needs a total id order")))
      .when(col(tokensCol).isNull || col(tokensCol) < 0,
        raise_error(concat(
          lit(s"tokenStarts: $tokensCol must be a non-negative count, got "),
          coalesce(col(tokensCol).cast("string"), lit("null")))))
      .otherwise(col(tokensCol)))
    val withB = guarded.withColumn("__b", floor(col(idCol) / bucketSize))
    val wPre = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy(col("__b"))
      .agg(sum(col(tokensCol)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(wPre), lit(0L)))
      .select(col("__b"), col("__off"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(offsets), Seq("__b"))
      .withColumn("__run", sum(col(tokensCol)).over(wIn))
      .withColumn("__start",
        (col("__off") + col("__run") - col(tokensCol)).cast(LongType))
      .drop("__b", "__run", "__off")
  }

  /** GPT-style concat-and-chunk sequence packing: lay every document's
    * tokens end-to-end in `idCol` order and cut the stream into
    * fixed-length training sequences of `seqLen` tokens. Output: one row
    * per (sequence, document) SPAN — `seq_id`, the document, `seq_off`
    * (where in the sequence the document's contribution starts),
    * `doc_off` (where in the document the span starts), `n_toks` (span
    * length) — the index a loader needs to materialize sequence
    * `seq_id` without re-scanning the corpus. Docs with zero tokens
    * contribute no span. Deterministic in the id order; adding documents
    * with HIGHER ids never changes existing rows (append-stable).
    *
    * Plan: [[tokenStarts]]' distributed prefix sum (no global sort),
    * then a narrow per-row explode over the ≤ n/seqLen + 1 sequences a
    * document overlaps — output rows ≈ corpus tokens ÷ seqLen + docs,
    * linear. Nothing quadratic, nothing single-reducer.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    seqLen: Long, bucketSize: Long = 1L << 20): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    requireFresh(df, "__end", "__sstart", "seq_id", "seq_off", "doc_off",
      "n_toks")
    val starts = tokenStarts(df, idCol, tokensCol, bucketSize)
      .filter(col(tokensCol) > 0)
      .withColumn("__end", col("__start") + col(tokensCol))
    starts
      .withColumn("seq_id", explode(sequence(
        floor(col("__start") / seqLen).cast(LongType),
        floor((col("__end") - 1) / seqLen).cast(LongType))))
      .withColumn("__sstart", col("seq_id") * seqLen)
      .withColumn("seq_off",
        greatest(col("__start") - col("__sstart"), lit(0L)))
      .withColumn("doc_off",
        greatest(col("__sstart") - col("__start"), lit(0L)))
      .withColumn("n_toks",
        least(col("__end"), col("__sstart") + seqLen)
          - greatest(col("__start"), col("__sstart")))
      .drop("__start", "__end", "__sstart")
  }

  /** Contiguous 0-based global row index in `orderCols` order (which must
    * be a total order — add a unique tiebreak column). The stable-sample-
    * indexing primitive ("example 73_412_911 of the training set") that
    * `monotonically_increasing_id` (non-contiguous) and a global
    * row_number window (serializes the corpus through ONE task's sort)
    * both fail to provide at scale.
    *
    * Plan — the distributed prefix-sum shape shared with [[packShards]]:
    * range-repartition on the order columns (global order ACROSS partition
    * ids, Spark's own sampled range exchange), localCheckpoint so the
    * offsets branch and the probe branch share one materialization, count
    * per partition, prefix-sum those counts with a global window over ONE
    * ROW PER PARTITION (bounded metadata), broadcast the offsets back, and
    * rank within partitions.
    */
  def globalRowIndex(df: DataFrame, orderCols: Seq[Column],
                     idxCol: String = "idx"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(orderCols.nonEmpty, "need at least one order column")
    requireFresh(df, "__pid", "__off")
    val np = df.sparkSession.sparkContext.defaultParallelism
    val p = df.repartitionByRange(np, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = p.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .select(col("__pid"), col("__off"))
    val wIn = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    p.join(broadcast(offsets), Seq("__pid"))
      .withColumn(idxCol,
        (col("__off") + row_number().over(wIn) - 1).cast(LongType))
      .drop("__pid", "__off")
  }

  /** Deterministic training-order shuffle: the global pseudo-random
    * permutation + sharding a pretraining loader consumes. Every epoch's
    * order is a pure function of (epoch, id) — rank by
    * `(hash60(epoch || '_' || id), id)` — so any worker can recompute any
    * epoch's layout with no stored state and no `rand()`; re-runs and
    * stragglers see the identical order. `shard = global_pos %
    * numShards` (round-robin over the permutation) gives EXACT shard
    * balance (±1 row), and `shard_pos = global_pos div numShards` is the
    * row's offset within its shard file.
    *
    * Plan: one narrow hash projection, then [[globalRowIndex]]'s
    * distributed prefix sum over the hash order — a range repartition +
    * per-partition windows + a partition-count broadcast; never a global
    * single-partition window. Rows keep all input columns.
    */
  def shuffleOrder(df: DataFrame, idCol: String, numShards: Int,
                   epoch: Long = 0L): DataFrame = {
    require(numShards > 0, s"shuffleOrder: numShards must be > 0 (got $numShards)")
    val h = TextOps.hash60(
      concat(lit(s"${epoch}_"), col(idCol).cast("string")))
    shardLayout(df, h, Seq(col(idCol)), numShards)
  }

  /** `global_pos` by `(h, tieBreak…)`, dealt round-robin into shards. */
  private def shardLayout(df: DataFrame, h: Column, tieBreak: Seq[Column],
                          numShards: Int): DataFrame =
    globalRowIndex(df.withColumn("__h", h), col("__h") +: tieBreak,
        "global_pos")
      .withColumn("shard", (col("global_pos") % numShards).cast(LongType))
      .withColumn("shard_pos",
        expr(s"global_pos div $numShards").cast(LongType))
      .drop("__h")

  /** Stratified deterministic sampling: per-stratum keep rates (basis
    * points), e.g. Map("en" -> 5000) with default 1000 = keep 50% of
    * English rows, 10% of everything else. The rebalancing primitive of
    * corpus curation ("downsample the head language, keep the tail").
    * Same hash-mod predicate as [[hashSample]] — narrow, shuffle-free,
    * reproducible, and a row's fate never changes when rates for OTHER
    * strata change.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       ratesBp: Map[String, Int], defaultBp: Int): DataFrame = {
    require((defaultBp +: ratesBp.values.toSeq).forall(r => r >= 0 && r <= 10000),
      "rates must be in [0, 10000] basis points")
    val rate = ratesBp.toSeq.sortBy(_._1).foldRight(lit(defaultBp): Column) {
      case ((stratum, bp), rest) =>
        when(col(strataCol) === stratum, lit(bp)).otherwise(rest)
    }
    df.filter(idHash(col(idCol)) % 10000 < rate)
  }

  /** Temperature-based domain rebalancing at α = 1/2 (the common
    * multilingual-mixture setting): domain d keeps each row with
    * probability √(n_min/n_d), so sampled counts go as √n_d — the head
    * domain is damped toward the tail, the smallest domain is kept whole.
    * Unlike [[stratifiedSample]] the per-domain rates are COMPUTED from
    * the corpus, not supplied.
    *
    * α is fixed at 1/2 because IEEE-754 requires sqrt (and /, ×) to be
    * correctly rounded, so `floor(10000·√(n_min/n_d))` is bit-identical
    * across engines — the oracle-exactness contract; a general-α pow() is
    * libm-dependent and would not hash-match. Row selection is the same
    * id-hash-mod predicate as [[hashSample]]: deterministic, stable under
    * corpus growth within a domain's rate.
    *
    * Scale shape: domain counts are one map-side-combinable agg (bounded
    * by the domain cardinality), the rate table broadcasts back onto the
    * rows, and the filter is narrow — no corpus-sized shuffle at all.
    */
  def temperatureSample(df: DataFrame, idCol: String,
                        domainCol: String): DataFrame = {
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__nmin"))
    val rates = counts.crossJoin(broadcast(minN)) // 1-row broadcast, not a cross product
      .withColumn("__rate_bp",
        floor(lit(10000d) * sqrt(col("__nmin").cast("double") /
          col("__n").cast("double"))).cast(LongType))
      .select(col(domainCol).as("__dom"), col("__rate_bp"))
    // null-SAFE join: groupBy emits a rate row for a null domain, and rows
    // of that domain must be sampled at it — a plain equi-join never
    // matches null = null and would silently drop them (the
    // stratifiedSample contract: every row has a fate, none vanish)
    df.join(broadcast(rates), col(domainCol) <=> col("__dom"))
      .filter(idHash(col(idCol)) % 10000 < col("__rate_bp"))
      .drop("__dom", "__rate_bp")
  }

  /** Sample DOWN to target mixture weights — the "assemble the training
    * mix" stage (Pile/Dolma-style): given per-domain target shares, keep
    * the LARGEST corpus whose kept-count distribution matches them.
    * Feasible total T = min_d(n_d / w_d) (the scarcest domain relative to
    * its share binds the mix); every domain then keeps rate_d = w_d·T/n_d
    * of its rows by the deterministic id-hash acceptance all samplers
    * here share. Domains not in `weights` are dropped (weight 0); a
    * weighted domain ABSENT from the corpus zeroes T and the mix goes
    * empty (r14, aligned with [[tokenBudgetMixture]] — a typo'd domain
    * name must not silently produce a plausible mix reweighted over the
    * present domains).
    *
    * Scale shape: one map-side-combined count per domain, two
    * domain-sized (bounded metadata) broadcasts, and a narrow hash-mod
    * filter over the corpus — no shuffle of the data itself. The rate
    * arithmetic is a fixed left-to-right double sequence flooring to
    * basis points, so the DuckDB oracle reproduces it bit-for-bit.
    */
  def mixtureSample(df: DataFrame, idCol: String, domainCol: String,
                    weights: Seq[(String, Double)]): DataFrame =
    measureMixture(df, idCol, domainCol, weights, count(lit(1)))

  /** The shared core of [[mixtureSample]] (measure = doc count) and
    * [[tokenBudgetMixture]] (measure = token sum): per weighted domain a
    * map-side-combinable MEASURE, feasible total T = min_d(m_d / w_d),
    * per-domain keep rates, the shared id-hash acceptance. ONE
    * definition (r15 review: two 35-line copies had already needed the
    * same r14 absent-domain fix applied twice).
    *
    * The per-domain measures are restricted to WEIGHTED domains
    * (broadcast semi-join against the weights) BEFORE anything
    * corpus-derived is broadcast — domainCol can be high-cardinality
    * (hosts), and the raw aggregate must never ship as a broadcast. The
    * weights then LEFT-join onto the bounded result: a weighted domain
    * the corpus lacks keeps its row with measure 0, so it zeroes T
    * exactly as documented (an inner join would silently drop it and
    * reweight the mix over the present domains). A zero-measure domain
    * contributes to T but gets no rate row — no corpus doc joins to it,
    * and Spark's ANSI mode throws DIVIDE_BY_ZERO for a zero divisor
    * even in DOUBLE division (observed from this exact expression in
    * the absent-domain spec before the filter existed).
    */
  private def measureMixture(df: DataFrame, idCol: String,
                             domainCol: String,
                             weights: Seq[(String, Double)],
                             measure: Column): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.forall(_._2 > 0), "weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate domain in weights")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = weights.toDF("__dom", "__w")
    val weightedMeasures = df.groupBy(col(domainCol))
      .agg(measure.as("__m"))
      .join(broadcast(wDf.select(col("__dom"))),
        col(domainCol) === col("__dom"), "left_semi")
    val sums = wDf.join(broadcast(weightedMeasures),
        col("__dom") === col(domainCol), "left")
      .select(col("__dom"), col("__w"),
        coalesce(col("__m"), lit(0L)).as("__m"))
    val tRow = sums.agg(
      min(col("__m").cast("double") / col("__w")).as("__T"))
    val rates = sums.filter(col("__m") > 0)
      .crossJoin(broadcast(tRow)) // 1-row broadcast
      .select(col("__dom"),
        floor(lit(10000d) * col("__w") * col("__T")
          / col("__m").cast("double")).cast(LongType).as("__rate_bp"))
    df.join(broadcast(rates), col(domainCol) === col("__dom"))
      .filter(idHash(col(idCol)) % 10000 < col("__rate_bp"))
      .drop("__dom", "__rate_bp")
  }

  /** [[mixtureSample]] with the budget denominated in TOKENS — the unit
    * training mixes are actually specified in (a Pile/Dolma recipe says
    * "5% of tokens from books", not "5% of documents"; with 100× length
    * spread between domains the two differ wildly). Feasible total
    * T = min_d(tokens_d / w_d); each domain keeps rate_d = w_d·T/tokens_d
    * of its DOCS by the shared id-hash acceptance — docs are atomic, so
    * the achieved token share matches the target in expectation (exact
    * proportionality would need document splitting, a different op).
    * Domains not in `weights` drop; a weighted domain with zero tokens —
    * including one entirely ABSENT from the corpus (weights left-join
    * onto the sums, absent coalesced to 0) — zeroes T and the mix goes
    * empty rather than silently reweighted over the present domains.
    *
    * Scale shape: one map-side-combined token sum per domain, two
    * bounded-metadata broadcasts, a narrow hash-mod filter — the corpus
    * never shuffles. Same fixed left-to-right double arithmetic flooring
    * to basis points as [[mixtureSample]], so the oracle reproduces it
    * bit-for-bit.
    */
  def tokenBudgetMixture(df: DataFrame, idCol: String, domainCol: String,
                         tokensCol: String,
                         weights: Seq[(String, Double)]): DataFrame =
    measureMixture(df, idCol, domainCol, weights,
      coalesce(sum(col(tokensCol).cast(LongType)), lit(0L)))

  /** Keep the top `keepBp`/10000 of each GROUP by a score — the
    * percentile-threshold selection FineWeb-style ablations run ("keep
    * the best 30% of each source/language by quality"), where a single
    * GLOBAL score threshold would let one well-scoring source crowd out
    * every other (the same per-group fairness argument as
    * [[graft.ops.LmOps.ccnetBuckets]]'s per-language terciles — this is
    * the SELECTING sibling of that LABELING op, for any score and group).
    * Integral cut rule (shared with `VectorOps.prototypePrune`):
    * rk ≤ ⌈n·keepBp/10000⌉ ⇔ (rk−1)·10000 < n·keepBp — pure integers,
    * no double-ordering hazard; ties break on ascending id.
    *
    * Scale shape: ONE shuffle on the group key for the two windows
    * (rank + count share the partition); group sizes are corpus-share
    * sized — if one group outgrows a partition, pre-aggregate the cut
    * boundary via `StatOps` quantiles and broadcast it (the documented
    * x50 variant); the plan here is the direct form.
    */
  def percentileSelect(df: DataFrame, idCol: String, groupCol: String,
                       scoreCol: String, keepBp: Long,
                       descending: Boolean = true): DataFrame = {
    require(keepBp >= 0 && keepBp <= 10000,
      s"percentileSelect: keepBp must be in [0, 10000] (got $keepBp)")
    import org.apache.spark.sql.expressions.Window
    val ord = if (descending) col(scoreCol).desc else col(scoreCol).asc
    val w = Window.partitionBy(col(groupCol)).orderBy(ord, col(idCol))
    val wc = Window.partitionBy(col(groupCol))
    df.withColumn("__rk", row_number().over(w).cast(LongType))
      .withColumn("__n", count(lit(1)).over(wc))
      .filter((col("__rk") - 1) * 10000 < col("__n") * keepBp)
      .drop("__rk", "__n")
  }

  /** Deterministic per-key downsampling: keep at most `k` rows per key,
    * chosen by id-hash order (not arrival order — reproducible under any
    * partitioning). The domain-balancing primitive of corpus curation:
    * "at most N pages per domain". One shuffle on the key; rank is a
    * standard windowed top-k per key.
    */
  def topKPerKey(df: DataFrame, keyCol: String, idCol: String, k: Int): DataFrame = {
    // k <= 0 is a typo, not a request for an empty corpus
    require(k >= 1, s"topKPerKey: k must be >= 1 (got $k)")
    requireFresh(df, "__rk")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(idHash(col(idCol)), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Epoch UP-sampling to target mixture weights under a doc budget — the
    * dual of [[mixtureSample]], and the missing half of mix assembly:
    * when a domain's target share `w_d · totalDocs` EXCEEDS its corpus
    * size, the domain is repeated for multiple epochs (the LLaMA-1 /
    * Pile recipe: books and wiki run 2+ epochs while web runs <1),
    * capped at `maxEpochs` (repeating a small source too often degrades
    * the model faster than the share shortfall does — the cap is
    * reported via the realized counts, never silently reassigned to
    * other domains).
    *
    * Per domain: `want = floor(w_d · totalDocs)` (ONE correctly-rounded
    * double multiply, then integer math only); full epochs
    * `full = min(want div n_d, maxEpochs)`; a final PARTIAL epoch keeps
    * `(want − full·n_d) · 10000 div n_d` basis points of the domain by
    * the shared deterministic id-hash acceptance — unless the cap
    * already binds, in which case there is no partial epoch. `full = 0`
    * degrades to plain down-sampling, so one operator covers both
    * directions of the mix. Weights are shares of `totalDocs` and need
    * not sum to 1 (domains absent from `weights` are dropped).
    *
    * Output: one row per (doc, epoch), `epoch ∈ [0, full]`, all input
    * columns preserved — the loader replays epoch e by filtering on it.
    * A doc's fate in the partial epoch never changes when OTHER domains'
    * weights move (the [[hashSample]] stability contract). A weighted
    * domain with NO corpus rows contributes nothing — unlike the
    * down-samplers there is no silent-reweighting hazard here (each
    * domain's epoch plan is independent of the others), and the absence
    * is visible in the output: the requested domain has zero rows.
    *
    * Scale shape: one map-side-combined count per domain, a bounded
    * domain-metadata broadcast, then a narrow `explode(sequence)` whose
    * output is exactly the requested budget — the corpus itself never
    * shuffles, and the only data growth is the epochs the caller asked
    * for. Plan-gated (broadcast join, no corpus exchange).
    */
  def epochUpsample(df: DataFrame, idCol: String, domainCol: String,
                    weights: Seq[(String, Double)], totalDocs: Long,
                    maxEpochs: Int): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.forall(_._2 > 0), "weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate domain in weights")
    require(totalDocs > 0, s"totalDocs must be > 0 (got $totalDocs)")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1 (got $maxEpochs)")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = weights.toDF("__dom", "__w")
    val plan = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .join(broadcast(wDf), col(domainCol) === col("__dom"))
      .withColumn("__want",
        floor(col("__w") * lit(totalDocs.toDouble)).cast(LongType))
      .withColumn("__full0", expr("__want div __n"))
      .withColumn("__full",
        least(col("__full0"), lit(maxEpochs.toLong)).cast(LongType))
      // cap binds → no partial epoch; otherwise the remainder in bp.
      // Integer arithmetic throughout (the one double multiply is above).
      .withColumn("__partial_bp",
        when(col("__full0") >= maxEpochs, lit(0L))
          .otherwise(expr("(__want - __full * __n) * 10000 div __n")))
      .select(col("__dom"), col("__full"), col("__partial_bp"))
    df.join(broadcast(plan), col(domainCol) === col("__dom"))
      // sequence(0, full) inclusive: epochs 0..full-1 are full replicas;
      // epoch `full` is the partial one, kept at __partial_bp (which is 0
      // when the cap binds or the remainder is < 1 doc's worth of bp).
      .withColumn("epoch", explode(expr("sequence(0L, __full)")))
      .filter(col("epoch") < col("__full") ||
        idHash(col(idCol)) % 10000 < col("__partial_bp"))
      .drop("__dom", "__full", "__partial_bp")
  }

  /** Replay layout for an EPOCHED replica stream — [[shuffleOrder]] for
    * the [[epochUpsample]] output, where the epoch is a COLUMN of the
    * row rather than a job parameter: global position = rank by
    * `(hash60(epoch‖'_'‖id), id, epoch)` (the shuffleOrder hash
    * convention applied per row, so a doc's replicas scatter AWAY from
    * each other across the run — consecutive training batches never see
    * the same document twice), then round-robin sharding with exact ±1
    * balance. Together epochUpsample → replayLayout is the complete
    * "assemble the mix, lay it out for the loader" path: deterministic,
    * stateless, recomputable by any worker.
    *
    * Plan: one narrow hash projection + [[globalRowIndex]]'s distributed
    * prefix sum (range repartition + per-partition windows + a
    * partition-count broadcast) — never a global single-partition
    * window.
    */
  def replayLayout(df: DataFrame, idCol: String, epochCol: String,
                   numShards: Int): DataFrame = {
    require(numShards > 0, s"replayLayout: numShards must be > 0 (got $numShards)")
    val h = TextOps.hash60(concat(col(epochCol).cast("string"), lit("_"),
      col(idCol).cast("string")))
    shardLayout(df, h, Seq(col(idCol), col(epochCol)), numShards)
  }
}
