package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
  * arXiv:2302.03169) — the published recipe for "pick the slice of a raw
  * 100 TB crawl that looks like a small high-quality target corpus":
  * featurize every document as a bag of HASHED n-grams (unigrams +
  * bigrams folded into `numBuckets` feature buckets), fit two smoothed
  * bag-of-buckets models (target and raw), and score each raw document by
  * its log importance weight `Σ_features [log p_target(b) − log p_raw(b)]`.
  * High-weight docs are the ones the target distribution up-weights;
  * selection keeps the top N. The reference engine has no selection
  * surface at all (its steps stop at decode/cast plumbing — SURVEY §2);
  * this is a first-class curation operator a training-data pipeline runs
  * between dedup and tokenization.
  *
  * Cross-engine determinism (the house conventions): the bucket of an
  * n-gram is `hash60(ngram) % numBuckets` (md5-derived, engine-exact);
  * each bucket's log weight is quantized to an integer ONCE —
  * `floor((ln((nt+1)/(Nt+B)) − ln((nr+1)/(Nr+B))) · 1e6)`, a deterministic
  * function of four integer counts (the x83 LM convention in ratio form)
  * — and per-document aggregation sums integers, which no partition order
  * can perturb. Laplace add-one smoothing over the B-bucket domain keeps
  * every weight finite even for buckets unseen in either corpus.
  *
  * Scale shape at 100 TB: both models are bounded METADATA — at most
  * `numBuckets` rows each (the k×dim legitimacy class), joined back
  * broadcast. Featurization is a narrow explode (unigrams + bigrams ride
  * the same `transform` kernel as [[LmOps]]); model fitting is two
  * map-side-combinable bucket counts plus two 1-row totals; scoring is
  * one broadcast join + one combinable per-doc agg. Selection is a global
  * top-N — Spark's `TakeOrderedAndProject` (per-partition heaps, driver
  * merge of N·partitions rows), NOT a global sort. Nothing shuffles the
  * corpus except the one per-doc aggregation.
  */
object DsirOps {

  private val WScale = 1000000L

  /** Hashed-n-gram feature OCCURRENCES of `textCol`: one row per unigram
    * token and one per consecutive bigram (space-joined, the house
    * shingle spelling), each mapped to its bucket `hash60(s) % B`.
    * A bag model needs occurrence counts, so no distinct pass.
    */
  private[ops] def featureBuckets(docs: DataFrame, idCol: String,
                                  textCol: String, numBuckets: Int): DataFrame = {
    val w = LmOps.tokens(docs, idCol, textCol)
    w.select(col("id"), explode(col("w")).as("s"))
      .unionByName(LmOps.bigrams(w))
      .select(col("id"), (TextOps.hash60(col("s")) % numBuckets).as("b"))
  }

  /** The per-bucket integer log-weight table: one row per bucket observed
    * in EITHER corpus with `(b, n_raw, n_target, w_scaled)`. Bounded by
    * `numBuckets` rows — index metadata, broadcast into the scoring join.
    * `target` need not be a subset of `raw` (full-outer on the bucket).
    */
  def importanceWeightTable(raw: DataFrame, target: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            numBuckets: Int = 1024): DataFrame =
    weightTableFrom(featureBuckets(raw, idCol, textCol, numBuckets),
      featureBuckets(target, idCol, textCol, numBuckets), numBuckets)

  /** The weight table from ALREADY-FEATURIZED streams — the shared core
    * of [[importanceWeightTable]] and [[selectTopN]] (which featurizes
    * the raw corpus ONCE and reuses the stream for scoring; the md5
    * feature hash over every token occurrence is the dominant kernel, so
    * a second featurization pass is a second scan of the corpus).
    * The totals derive from the bucket counts (sum of a ≤B-row table),
    * not from a separate pass over the features.
    */
  private def weightTableFrom(fr: DataFrame, ft: DataFrame,
                              numBuckets: Int): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    // the bucket counts are ≤ numBuckets rows of METADATA but their
    // lineage is the corpus-scale featurization — each feeds TWO
    // consumers (the join and its total), so lazily the md5 feature
    // kernel re-ran per consumer and the "two corpus passes" job was
    // four (r15 review). localCheckpoint the bounded tables instead.
    val cr = fr.groupBy(col("b")).agg(count(lit(1)).as("n_raw"))
      .localCheckpoint()
    val ct = ft.groupBy(col("b")).agg(count(lit(1)).as("n_target"))
      .localCheckpoint()
    val totR = cr.agg(sum(col("n_raw")).as("tot_raw"))
    val totT = ct.agg(sum(col("n_target")).as("tot_target"))
    cr.join(ct, Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("n_raw"), lit(0L)).as("n_raw"),
        coalesce(col("n_target"), lit(0L)).as("n_target"))
      .crossJoin(broadcast(totR))
      .crossJoin(broadcast(totT))
      .withColumn("w_scaled", wScaled(
        coalesce(col("n_target"), lit(0L)), coalesce(col("tot_target"), lit(0L)),
        // tot_raw needs the same empty-corpus coalesce as tot_target: an
        // EMPTY raw side's sum() is null and would null every w_scaled,
        // breaking the "every weight finite" Laplace contract one-sidedly
        col("n_raw"), coalesce(col("tot_raw"), lit(0L)), numBuckets))
      // nb rides in the artifact so a scorer probing with a DIFFERENT
      // modulus fails loudly instead of looking up wrong buckets (the
      // Bloom m_bits/k_hashes convention)
      .select(col("b"), col("n_raw"), col("n_target"), col("w_scaled"),
        lit(numBuckets.toLong).as("nb"))
  }

  /** floor((ln((nt+1)/(Nt+B)) − ln((nr+1)/(Nr+B))) · 1e6) — THE
    * quantization point; all four inputs are integer counts, both engines
    * evaluate the identical double divisions and libm ln, and downstream
    * math is integral after the floor.
    */
  private def wScaled(nt: Column, totT: Column, nr: Column, totR: Column,
                      b: Int): Column =
    floor((log((nt + lit(1L)).cast("double") / (totT + lit(b.toLong)).cast("double"))
      - log((nr + lit(1L)).cast("double") / (totR + lit(b.toLong)).cast("double")))
      * WScale).cast(LongType)

  /** Per-document log importance weights under a weight table from
    * [[importanceWeightTable]]: `(idCol, n_feats, logw_sum)` — the sum of
    * the doc's feature-bucket weights (occurrence-weighted). Documents
    * with empty text still featurize (one empty-string unigram), so every
    * raw doc gets a row — including docs of a NEW corpus whose features
    * hash to buckets unseen at build time: those take the derivable
    * unseen-bucket Laplace weight (nt = nr = 0 under the table's own
    * totals) via a left join, never a silent drop. The weight table is
    * bucket-bounded → broadcast; the corpus shuffles once, on the
    * per-doc agg.
    */
  def importanceWeights(docs: DataFrame, weightTable: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        numBuckets: Int = 1024): DataFrame =
    scoreFeatures(featureBuckets(docs, idCol, textCol, numBuckets),
      weightTable, idCol, numBuckets)

  /** The shared scoring tail of [[importanceWeights]] and [[selectTopN]]
    * (one definition — the scoring join cannot drift between them):
    * left-join features to the broadcast table, fill unseen buckets with
    * the Laplace floor weight derived from the table's own totals, and
    * fail LOUDLY (raise_error, riding the plan — no extra driver job)
    * when the table's embedded `nb` or observed bucket range contradicts
    * the probe's `numBuckets` — a modulus mismatch would otherwise look
    * up wrong buckets and score garbage silently. Legacy tables without
    * the `nb` column get only the bucket-range check.
    */
  private def scoreFeatures(feats: DataFrame, weightTable: DataFrame,
                            idCol: String, numBuckets: Int): DataFrame = {
    val hasNb = weightTable.columns.contains("nb")
    val tot = weightTable.agg(
      coalesce(sum(col("n_raw")), lit(0L)).as("tot_raw"),
      coalesce(sum(col("n_target")), lit(0L)).as("tot_target"),
      max(col("b")).as("__maxb"),
      (if (hasNb) max(col("nb")) else lit(null).cast(LongType)).as("__nb"))
    val fallback = wScaled(lit(0L), col("tot_target"),
      lit(0L), col("tot_raw"), numBuckets)
    feats
      .join(broadcast(weightTable.select(col("b"), col("w_scaled"))),
        Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("__w",
        when(col("__maxb") >= lit(numBuckets.toLong) ||
            (col("__nb").isNotNull && col("__nb") =!= lit(numBuckets.toLong)),
          raise_error(concat(
            lit("importance scoring: weight table was built with a " +
              s"different numBuckets than the probe's $numBuckets " +
              "(table nb="),
            coalesce(col("__nb"), lit(-1L)).cast("string"),
            lit(", max bucket "), col("__maxb").cast("string"), lit(")"))))
          .otherwise(coalesce(col("w_scaled"), fallback)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("__w")).as("logw_sum"))
      .select(col("id").as(idCol), col("n_feats"), col("logw_sum"))
  }

  /** DSIR selection: the `n` raw documents whose hashed-n-gram profile
    * the target corpus up-weights most, ordered by (logw_sum desc, id) —
    * deterministic ranked selection (the paper adds Gumbel noise to get a
    * soft sample; a deterministic pipeline takes the rank cut, and a
    * caller wanting the soft variant perturbs `logw_sum` with a hash of
    * the id before the cut). `orderBy.limit` is Spark's
    * TakeOrderedAndProject — per-partition top-n heaps, no global sort.
    */
  def selectTopN(raw: DataFrame, target: DataFrame, n: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 numBuckets: Int = 1024): DataFrame = {
    // featurize the raw corpus ONCE: the same stream feeds the raw-model
    // counts and the scoring join (localCheckpoint materializes it so the
    // two consumers don't each re-run the md5 feature kernel over every
    // token — at 100 TB this is one corpus scan instead of two)
    val fr = featureBuckets(raw, idCol, textCol, numBuckets).localCheckpoint()
    val wt = weightTableFrom(fr,
      featureBuckets(target, idCol, textCol, numBuckets), numBuckets)
    scoreFeatures(fr, wt, idCol, numBuckets)
      .orderBy(col("logw_sum").desc, col(idCol))
      .limit(n)
  }
}
