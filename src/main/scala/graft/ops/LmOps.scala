package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** N-gram language-model quality scoring — the CCNet/Wenzek-2019 filter
  * family's core signal: train a Laplace-smoothed bigram LM on a corpus,
  * score every document by its mean negative log-likelihood (low NLL =
  * fluent/typical text, high NLL = gibberish, boilerplate soup, or
  * wrong-language residue). The reference has no LM surface (its quality
  * ops stop at heuristics — SURVEY §2.10); this is the model-based tier a
  * 100 TB training-data pipeline runs between the cheap heuristics (x17)
  * and an expensive neural classifier.
  *
  * Everything is integer-exact end-to-end (the x53/x69 convention) so the
  * DuckDB oracle hash-matches: each bigram's surprisal is quantized to an
  * integer ONCE — `floor(ln((n1 + V) / (n2 + 1)) * 1e6)`, a deterministic
  * function of three integer counts — and per-document aggregation then
  * sums integers, which no partition order can perturb. (Summing raw
  * doubles per doc would be order-nondeterministic on both engines.)
  *
  * Scale shape at 100 TB: the model is bounded METADATA — one row per
  * OBSERVED bigram (≤ corpus bigram occurrences, in practice vocab-bounded
  * and Zipf-light), the k×dim legitimacy class, not data. Training is two
  * map-side-combinable keyed counts (bigram, prefix) + one 1-row vocab
  * aggregate broadcast into the plan; scoring is one keyed equi-join of
  * the corpus's bigram occurrences against the model plus one per-doc
  * combinable agg. Nothing quadratic, no driver state, no UDFs — the
  * bigram assembly is a Catalyst higher-order `transform` over the token
  * array, evaluated natively per row.
  */
object LmOps {

  private val NllScale = 1000000L

  /** (id, w): `textCol` split on single spaces, the input of [[bigrams]]. */
  private[ops] def tokens(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), split(col(textCol), " ").as("w"))

  /** Bigram occurrences of a [[tokens]] frame, one output row per
    * consecutive token pair, as the space-joined string "w1 w2" (the house
    * shingle spelling, so the model key matches `TextOps.wordShingles(c,
    * 2)` semantics minus the distinct pass — an LM needs occurrence counts).
    */
  private[ops] def bigrams(w: DataFrame): DataFrame =
    // the filter is the empty-sequence guard, not an optimization:
    // Spark's sequence(1, 0) yields a DESCENDING [1, 0], so a 1-token
    // doc would fabricate bigrams from out-of-range element_at nulls
    w.filter(size(col("w")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "k -> concat(element_at(w, k), ' ', element_at(w, k + 1)))"))
        .as("s"))

  /** Train the smoothed bigram model: one row per observed bigram with
    * `(s = "w1 w2", w1, n2 = count(w1 w2), n1 = count(w1 ·), v = |vocab|,
    * nll_scaled = floor(ln((n1 + v)/(n2 + 1)) * 1e6))`. Laplace add-one
    * over a V-sized successor space; `v` rides every row so a persisted
    * model is self-contained (the backoff paths need it and a loaded
    * model must not depend on re-deriving corpus constants).
    *
    * Plan: bigram explode → two map-side-combinable counts (keyed on the
    * bigram and on its prefix) joined on the prefix, crossJoin of the
    * 1-row vocab count (a broadcast of one long — the declared 1-row
    * crossJoin class). Model rows ∝ distinct observed bigrams.
    */
  def trainBigramLm(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val big = bigrams(tokens(docs, idCol, textCol))
    val c2 = big.groupBy(col("s")).agg(count(lit(1)).as("n2"))
      .withColumn("w1", substring_index(col("s"), " ", 1))
    val c1 = big.select(substring_index(col("s"), " ", 1).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    val v = docs.select(explode(split(col(textCol), " ")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    c2.join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("s"), col("w1"), col("n2"), col("n1"), col("v"),
        nllScaled(col("n1") + col("v"), col("n2") + lit(1L)).as("nll_scaled"))
  }

  /** floor(ln(num/den) * 1e6) over integer counts — THE quantization
    * point. Both engines compute the same IEEE double division and libm
    * ln over identical integer-derived doubles; after the floor, all
    * downstream math is integral.
    */
  private def nllScaled(num: org.apache.spark.sql.Column,
                        den: org.apache.spark.sql.Column) =
    floor(log(num.cast("double") / den.cast("double")) * NllScale)
      .cast(LongType)

  /** Score documents under a trained model: per doc, the number of bigram
    * occurrences, the integer sum of their scaled surprisals, and the
    * floor mean. Docs with < 2 tokens emit no row — they carry no bigram
    * evidence. Out-of-model bigrams back off: seen prefix → the smoothed
    * unseen-successor mass `(n1+v)/1`; unseen prefix → the uniform `1/v`
    * (nll = ln(v)) — so scoring a NEW corpus under a persisted model is
    * total, while same-corpus scoring (the oracle-gated path) never takes
    * a backoff branch.
    *
    * Plan: bigram explode → LEFT join the model on the bigram string →
    * LEFT join the model's prefix table (distinct (w1, n1), derived once)
    * → one combinable per-doc agg. Two keyed joins, both broadcastable
    * when the model is small; the corpus shuffles at most twice.
    */
  def scoreBigramNll(docs: DataFrame, model: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val big = bigrams(tokens(docs, idCol, textCol))
    val prefixes = model.groupBy(col("w1"))
      .agg(max(col("n1")).as("p_n1"), max(col("v")).as("p_v"))
    val vRow = model.agg(max(col("v")).as("g_v"))
    big
      .join(model.select(col("s"), col("nll_scaled")), Seq("s"), "left")
      .withColumn("w1", substring_index(col("s"), " ", 1))
      .join(prefixes, Seq("w1"), "left")
      .crossJoin(broadcast(vRow))
      .withColumn("nll_eff",
        coalesce(
          col("nll_scaled"),
          nllScaled(col("p_n1") + col("p_v"), lit(1L)),
          nllScaled(col("g_v"), lit(1L))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll_eff")).as("nll_sum"))
      .select(col("id").as(idCol), col("n_bigrams"), col("nll_sum"),
        // integer `div`, not floor(double/double): a >2^53 nll_sum would
        // round in the double cast and floor of the rounded quotient can
        // miss by 1 cross-engine; nll_eff >= 0 so div == floor exactly
        // (the `sw div n_toks` house spelling)
        expr("nll_sum div n_bigrams").as("avg_nll_scaled"))
  }

  /** CCNet's head/middle/tail split (Wenzek et al. 2020, "CCNet:
    * Extracting high quality monolingual datasets from web crawl data"):
    * score documents under the bigram model, then WITHIN EACH LANGUAGE
    * split into perplexity terciles — head = the most fluent third
    * (lowest mean NLL), tail = the most gibberish-like. CCNet trains on
    * head, samples middle, drops tail; the bucket label is the artifact.
    *
    * Per-language (not global) terciles are the paper's core move: a
    * global cut would file every low-resource language under "tail".
    * `ntile(3)` runs over `(avg_nll_scaled, id)` — an INTEGER score with
    * an id tie-break, so bucket boundaries carry no cross-engine
    * double-ordering hazard. Docs with < 2 tokens carry no bigram
    * evidence and emit no row (the [[scoreBigramNll]] contract).
    *
    * Plan: the scoring joins plus ONE shuffle on the language key for the
    * ntile window. A language is a coarse partition at 100 TB (English is
    * half the crawl); when one language outgrows a partition, compute the
    * two tercile BOUNDARY values per language instead (the x50 exact
    * per-group quantile machinery) and bucket by broadcast comparison —
    * same labels up to boundary ties, corpus never sorts.
    */
  def ccnetBuckets(docs: DataFrame, model: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   langCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("avg_nll_scaled"), col(idCol))
    scoreBigramNll(docs, model, idCol, textCol)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("tercile", ntile(3).over(w).cast(LongType))
      .withColumn("bucket",
        when(col("tercile") === 1, lit("head"))
          .when(col("tercile") === 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(langCol), col("avg_nll_scaled"),
        col("tercile"), col("bucket"))
  }
}
