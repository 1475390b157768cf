package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, fingerprinting, language ID. All are narrow
  * per-row transformations (no shuffle) built on codegen'd built-ins, so a
  * 100 TB documents table processes as one fused scan stage.
  *
  * Cross-engine determinism contract (shared by the DuckDB oracles):
  *   - hashes derive from md5 hex strings — identical on any engine;
  *   - `hash60` = first 15 md5 hex chars as a 60-bit BIGINT
  *     (DuckDB: `('0x'||substr(md5(x),1,15))::BIGINT`);
  *   - ratios are emitted as basis points via `floor(x*10000)` — floor of a
  *     bit-identical IEEE double is bit-identical, unlike `round(x, n)`
  *     whose half-up vs half-even tie rule differs across engines.
  */
object TextOps {

  /** 60-bit deterministic hash (cross-engine reproducible, see above).
    * Evaluated by the fused [[graft.functions.Hash60]] kernel (r20) —
    * bit-identical to `conv(substring(md5(c), 1, 15), 16, 10)` (the
    * DuckDB mirror spelling) without materializing the hex string per
    * eval. The cast chain goes THROUGH StringType (r21, ADVICE r20 #4):
    * string/binary inputs round-trip byte-identically (the UTF-8 view
    * `md5` itself hashed, and the string cast is a no-op the optimizer
    * removes), while a non-string atomic input hashes its canonical
    * STRING rendering — the old `md5` implicit-cast semantics — instead
    * of silently hashing a raw big-endian byte encoding no oracle
    * mirror computes.
    */
  def hash60(c: Column): Column =
    Bridge.column(graft.functions.Hash60(
      Bridge.expression(c.cast(StringType).cast(BinaryType))))

  /** Raw 16-byte digest of `md5(salt || c)` — the binary MinHash-band
    * fast path ([[graft.functions.Md5Salted]], r21): bitwise the
    * `unhex` of the hex spelling `md5(concat(lit(salt), c))`, with the
    * same min()-ordering (unsigned lexicographic ≡ hex lexicographic —
    * see the kernel scaladoc for the proof obligations and
    * `Md5SaltedSpec` for the property tests). Same StringType-first
    * cast discipline as [[hash60]].
    */
  def md5Salted(salt: String, c: Column): Column =
    Bridge.column(graft.functions.Md5Salted(salt,
      Bridge.expression(c.cast(StringType).cast(BinaryType))))

  /** Ratio → basis points as BIGINT: floor(10000 * num / den). */
  def bp(num: Column, den: Column): Column =
    floor(num.cast(DoubleType) * 10000d / den.cast(DoubleType)).cast(LongType)

  /** Distinct character n-gram shingles (graft.functions.CharNGrams — one
    * eval loop per row instead of an interpreted lambda per element).
    */
  def charShingles(c: Column, n: Int): Column =
    Bridge.column(graft.functions.CharNGrams(Bridge.expression(c), n))

  /** Distinct word n-gram shingles, whitespace tokenization
    * (graft.functions.WordNGrams).
    */
  def wordShingles(c: Column, n: Int): Column =
    Bridge.column(graft.functions.WordNGrams(Bridge.expression(c), n))

  /** Token counts: whitespace tokens, alpha runs, and a BPE-ish segmentation
    * (letter runs | digit runs | single other non-space chars).
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    // backtick-quoted: a column name with a space/keyword must not break
    // (or be interpreted as SQL) inside the expr() strings
    docs.withColumn("ws_tokens", size(split(col(textCol), " ")).cast(LongType))
      .withColumn("alpha_tokens",
        expr(s"size(regexp_extract_all(`$textCol`, '[a-z]+', 0))").cast(LongType))
      .withColumn("bpe_tokens",
        expr(s"size(regexp_extract_all(`$textCol`, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
          .cast(LongType))

  /** The stopword-ratio quality signal as a standalone Column — the
    * [[qualityScore]] `stop_ratio_bp` term, exposed for operators that
    * rank by quality without materializing the full signal frame
    * ([[DedupOps.canonicalKeep]]).
    */
  def stopRatioBp(text: Column,
                  stopwords: Seq[String] = Seq("the", "a", "of", "and", "in"))
      : Column = {
    val words = split(text, " ")
    bp(size(filter(words, w =>
      array_contains(array(stopwords.map(lit): _*), w))), size(words))
  }

  /** Quality-scoring signals, all in BASIS POINTS (floor(ratio·10000)):
    * average word length, stopword ratio, alpha-char ratio — the
    * length/punct/stopword heuristics of C4/Gopher-style corpus filters,
    * shuffle-free.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text",
                   stopwords: Seq[String] = Seq("the", "a", "of", "and", "in"))
      : DataFrame = {
    val words = split(col(textCol), " ")
    docs
      .withColumn("n_words", size(words).cast(LongType))
      .withColumn("avg_word_len_bp",
        bp(length(col(textCol)) - size(words) + lit(1), size(words)))
      .withColumn("stop_ratio_bp", stopRatioBp(col(textCol), stopwords))
      .withColumn("alpha_ratio_bp",
        bp(length(regexp_replace(col(textCol), "[^a-z]", "")), length(col(textCol))))
  }

  /** Bottom-k sketch fingerprint: the k lexicographically-smallest md5'd
    * char-8gram shingles, concatenated. Two near-identical documents share
    * most smallest-hashes, so equal fingerprints ≈ high Jaccard; the sketch
    * is O(1) per doc and groupBy-able at any scale (vs O(n²) pair compare).
    */
  def fingerprint(docs: DataFrame, textCol: String = "text", k: Int = 4): DataFrame =
    docs.withColumn("fp",
      Bridge.column(graft.functions.Md5BottomK(
        Bridge.expression(charShingles(col(textCol), 8)), k)))

  /** Per-doc token Shannon entropy (micro-nats, integral) — the
    * "gibberish or boilerplate at either extreme" quality signal: near-0
    * entropy = one token repeated (looped generations, padding); maximal
    * entropy at uniform usage. H = Σ_t (tf/n)·ln(n/tf), computed as the
    * integer sum of per-TERM quantized contributions
    * `floor(tf·ln(n/tf)/n · 1e6)` — quantize-then-sum (the x53/x83
    * convention), so no partition order can perturb the result and the
    * DuckDB oracle is hash-exact. Output: (idCol, n_tokens,
    * entropy_micro). Single-token docs score exactly 0.
    *
    * Scale shape: the doc's token count `n` is computed NARROWLY at the
    * scan and rides the group key (constant per doc — no second
    * doc-keyed window/join), so the whole op is one explode + two
    * doc-scoped map-side-combinable aggs — word-count's shuffle bill;
    * nothing corpus-wide.
    */
  def tokenEntropy(docs: DataFrame, idCol: String,
                   textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(idCol).as("__eid"),
        size(split(col(textCol), " ")).cast(LongType).as("__n"),
        explode(split(col(textCol), " ")).as("__t"))
      .groupBy(col("__eid"), col("__n"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    tf.withColumn("__h", floor(
        col("__tf").cast(DoubleType)
          * log(col("__n").cast(DoubleType) / col("__tf").cast(DoubleType))
          / col("__n").cast(DoubleType) * lit(1000000d)).cast(LongType))
      .groupBy(col("__eid"))
      .agg(max(col("__n")).as("n_tokens"), sum(col("__h")).as("entropy_micro"))
      .withColumnRenamed("__eid", idCol)
  }

  /** Phrase-blocklist decision table — the C4-style "remove any page
    * containing a bad-words-list phrase" stage (Raffel et al. 2020 §2.2
    * applies exactly this with the LDNOOBW list), equally the
    * blocked-domain / policy-phrase filter every production corpus runs.
    * Matching is whole-word contiguous-phrase (a phrase of n words
    * matches a doc's word n-grams — never substrings, so "ass" does not
    * flag "class", the known C4 false-positive family at CHARACTER
    * granularity). Output: one row per doc — (idCol, n_hits, keep) where
    * n_hits counts DISTINCT blocklist phrases present and keep = no hit.
    *
    * Scale shape: the blocklist is bounded metadata → it BROADCASTS;
    * docs explode only to the n-gram lengths the list actually contains
    * (one narrow pass per distinct length, usually 1–2), one
    * map-side-combinable per-doc count, one keyed left join back to the
    * id projection. The corpus text is never shuffled.
    */
  def blocklistHits(docs: DataFrame, idCol: String, phrases: Seq[String],
                    textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty, "blocklistHits: phrases must be non-empty")
    require(phrases.forall(_.trim.nonEmpty), "blank blocklist phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val lens = phrases.map(_.split(" ").length).distinct.sorted
    val pDf = phrases.distinct.toDF("__phrase")
    val grams = lens.map { n =>
        docs.select(col(idCol).as("__bid"),
          explode(wordShingles(col(textCol), n)).as("__g"))
      }.reduce(_ unionByName _)
    val hits = grams.join(broadcast(pDf), col("__g") === col("__phrase"))
      .groupBy(col("__bid"))
      // wordShingles emits DISTINCT grams per doc, so this count is the
      // number of distinct phrases matched
      .agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol).as("__bid"))
      .join(hits, Seq("__bid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("__bid").as(idCol), col("n_hits"),
        (col("n_hits") === 0L).as("keep"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, "Winnowing:
    * Local Algorithms for Document Fingerprinting"): per doc, hash every
    * positional `k`-token gram (the [[graft.ops.DedupOps.duplicatedSpans]]
    * convention: hash60 of the space-joined slice), slide a window of `w`
    * consecutive gram positions, and select each window's minimum —
    * ties broken by SMALLEST position, i.e. the lexicographic min of
    * (hash, pos). The selected (pos, fp) set is the published guarantee:
    * any shared substring of ≥ w+k-1 tokens yields at least one shared
    * fingerprint, at an expected density of 2/(w+1) — the principled
    * "keep a sketch that still catches every long overlap" subset that a
    * full positional-shingle table oversizes by ~(w+1)/2×. Docs with
    * fewer than `w` gram positions have no full window and emit no row
    * (declared — the reference algorithm's boundary choice varies;
    * sub-window docs belong to exact dedup anyway).
    *
    * Cross-engine contract (r20/r21, ADVICE r20 #1): the Spark side
    * compares a `struct(h, p)` window-min key, whose (h asc, p asc)
    * ordering equals the DuckDB mirror's min over a ZERO-PADDED DECIMAL
    * concat of (hash, pos) — lexicographic order equals numeric order
    * for fixed-width non-negative integers. `posLimit` exists to KEEP
    * that equivalence: it bounds positions to the mirror's 8-digit pad,
    * so a doc the pad would misorder fails loudly on BOTH engines'
    * behalf. Do not remove the guard just because the struct key itself
    * needs no pad.
    *
    * Scale shape: one narrow gram projection + ONE doc-keyed shuffle for
    * the two windows (frame-min and per-doc max share the partition);
    * output ≈ 2/(w+1) of gram count. Downstream overlap detection is a
    * groupBy on `fp` — the same skew-immune posture as span dedup.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, k: Int = 3,
                         w: Int = 4, textCol: String = "text",
                         posLimit: Long = 100000000L): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    require(w > 0, s"w must be positive (got $w)")
    require(posLimit >= 1 && posLimit <= 100000000L,
      s"posLimit must be in [1, 1e8] (got $posLimit)")
    val toks = split(col(textCol), " ")
    // the ORACLE's (hash,pos) window-min key zero-pads pos to 8 decimal
    // digits (the Spark side uses the struct key below, which needs no
    // pad); lexicographic = numeric ONLY for positions ≤ 99,999,999, so
    // a doc whose gram count EXCEEDS posLimit (positions run 0..grams−1
    // — a doc with exactly posLimit grams still fits the pad) fails
    // LOUDLY here instead of silently diverging from the string-keyed
    // mirror (lower posLimit only in tests to exercise the failure path)
    val grams = size(toks).cast(LongType) - (k - 1)
    // guarded: sequence(0, n) DESCENDS for n < 0 (the duplicatedSpans trap)
    val shArr = when(grams > posLimit,
        raise_error(concat(lit("winnowFingerprints: document '"),
          col(idCol).cast("string"), lit("' has "), grams.cast("string"),
          lit(s" gram positions > $posLimit — the fixed 8-digit position" +
            " pad would misorder the window-min key; split the document" +
            " or widen the pad"))).cast(ArrayType(LongType)))
      .when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          p => hash60(concat_ws(" ", slice(toks, p + 1, lit(k))))))
      .otherwise(array().cast(ArrayType(LongType)))
    val pos = docs.select(col(idCol).as("__wid"),
      posexplode(shArr).as(Seq("p", "h")))
    // the (hash, pos) window-min key is a STRUCT (r20): struct ordering
    // is (h asc, p asc) — exactly the zero-padded string key this
    // replaces, without building and re-parsing a 27-char string per
    // token position (the posLimit pad-width guard above stays: it is a
    // documented, spec-exercised input bound)
    val key = struct(col("h"), col("p"))
    val byDoc = Window.partitionBy("__wid")
    val frame = byDoc.orderBy("p").rowsBetween(Window.currentRow, w - 1)
    pos
      .withColumn("__maxp", max(col("p")).over(byDoc))
      .withColumn("__wmin", min(key).over(frame))
      .filter(col("p") <= col("__maxp") - (w - 1))
      .select(col("__wid"),
        col("__wmin.p").cast(LongType).as("pos"),
        col("__wmin.h").as("fp"))
      .distinct()
      .withColumnRenamed("__wid", idCol)
  }

  /** Repetition signals (the Gopher-style repetition filters): fraction of
    * duplicate words and duplicate word-bigrams, in basis points. High
    * values flag boilerplate / looped generations. Narrow and shuffle-free;
    * the bigram set reuses the WordNGrams single-eval kernel.
    */
  def repetitionScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), " ")
    val nWords = size(words)
    val nBigrams = nWords - 1
    docs
      .withColumn("n_words", nWords.cast(LongType))
      .withColumn("dup_word_bp",
        bp(nWords - size(array_distinct(words)), nWords))
      .withColumn("dup_bigram_bp",
        when(nBigrams > 0,
          bp(nBigrams - size(wordShingles(col(textCol), 2)), nBigrams))
          .otherwise(lit(0L)))
  }

  /** Gopher's n-gram repetition family in full (Rae et al. 2021 §A.1.1):
    * per document and n ∈ [minN, maxN], the character coverage of the MOST
    * COMMON word n-gram (`top_bp`) and of ALL duplicated n-grams
    * (`dup_bp`), in basis points of the document's character length —
    * Gopher thresholds the top-gram family at n = 2..4 and the dup-gram
    * family at n = 5..10; this emits both signals for every n so the
    * decision layer (x88-style) picks its own cuts.
    *
    * Coverage = occurrences × n-gram char length, CAPPED at 10000:
    * overlapping occurrences overcount characters (the standard
    * approximation — exact position-marking is not expressible without a
    * per-doc bitmap), so the cap keeps the signal a fraction. Ties for
    * the top gram break lexicographically; all arithmetic is integral
    * (`div`), so the oracle matches bit-for-bit. Docs shorter than n
    * words emit no row for that n; empty docs emit nothing.
    *
    * Plan (r20, guide §2.3/§2.4): ONE narrow per-row kernel
    * ([[graft.functions.TopNgramStats]]) computes every n's
    * (top gram, count, dup char mass) in a single pass over the token
    * array, then a tiny per-doc explode of (maxN − minN + 1) structs.
    * ZERO exchanges — the previous shape exploded corpus × 9 positional
    * gram STRINGS through two doc-keyed aggregation shuffles for what is
    * a pure per-row function of the document (every byte of every
    * 2..10-gram crossed the wire twice). Same winner, tie rule (binary
    * UTF-8 order), char accounting (code points), and emitted row set —
    * equivalence is regression-tested against the aggregation form over
    * adversarial docs (`Round13cOpsSpec`) and the x97 oracle.
    */
  def topNgramCoverage(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       minN: Int = 2, maxN: Int = 10): DataFrame = {
    require(minN >= 1 && minN <= maxN,
      s"topNgramCoverage: need 1 <= minN <= maxN (got $minN..$maxN)")
    docs
      .filter(length(col(textCol)) > 0)
      .select(col(idCol), length(col(textCol)).cast(LongType).as("__len"),
        explode(Bridge.column(graft.functions.TopNgramStats(
          Bridge.expression(col(textCol)), minN, maxN))).as("__t"))
      .select(col(idCol), col("__t.n").as("n"),
        col("__t.g").as("top_gram"), col("__t.cnt").as("top_cnt"),
        least(expr("(__t.cnt * __t.glen * 10000) div __len"), lit(10000L))
          .as("top_bp"),
        least(expr("(__t.dupc * 10000) div __len"), lit(10000L))
          .as("dup_bp"))
  }

  /** Compression-ratio quality signal (Gopher §A.1.1): DEFLATE-compressed
    * length over raw byte length, in basis points. Very low ratios flag
    * boilerplate/repetition, very high ratios flag noise. Narrow and
    * shuffle-free; spec-gated rather than oracle-gated (zlib output is not
    * guaranteed identical across engines/builds).
    */
  def compressionRatio(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("deflate_bp",
      // empty text has no ratio: bp would divide by zero (floor(+Inf) =
      // Long.MaxValue — a sentinel that wrecks any threshold/aggregate
      // downstream); null says "no signal" honestly
      when(length(col(textCol)) === 0, lit(null))
        .otherwise(bp(Bridge.column(graft.functions.DeflateLen(Bridge.expression(col(textCol)))),
          length(col(textCol)).cast(LongType))))

  /** Rare-token ratio per document: the share (basis points) of token
    * OCCURRENCES whose corpus DOCUMENT frequency is below `minDf` — the
    * garbage/typo/boilerplate signal quality pipelines threshold on (a
    * high rare-token share flags OCR noise, code soup, non-language).
    * Complements [[qualityScore]]'s doc-local signals with a corpus-
    * relative one.
    *
    * Scale shape: explode to (doc, token) — narrow; document frequency =
    * one partial-aggregated shuffle keyed by token; tokens→df is a plain
    * hash join on the token key (the vocabulary of a 100 TB corpus is NOT
    * broadcastable — shuffle join, spread across executors); the per-doc
    * rollup is one map-side-combinable shuffle on the doc id. No windows,
    * no driver state; a hot token ("the") is one reduce key with a count,
    * never a pair explosion.
    */
  def rareTokenRatio(docs: DataFrame, idCol: String, minDf: Long,
                     textCol: String = "text"): DataFrame = {
    // (doc, token) with per-doc occurrence count FIRST: the df aggregation
    // becomes a plain count over these pairs (no countDistinct two-phase),
    // and the token-keyed join moves distinct pairs instead of every raw
    // occurrence — the shuffled volume drops by the mean within-doc token
    // multiplicity, which for a natural-language corpus is the Zipf head.
    val pairs = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("__occ"))
    val dfTab = pairs.groupBy(col("w")).agg(count(lit(1)).as("__df"))
    pairs.join(dfTab, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("__occ")).as("n_tokens"),
        sum(when(col("__df") < minDf, col("__occ")).otherwise(0L)).as("n_rare"))
      .withColumn("rare_bp", bp(col("n_rare"), col("n_tokens")))
  }

  /** Corpus vocabulary: the `k` most frequent whitespace tokens, ties
    * broken on the token. Explode → partial-agg count (map-side combine
    * collapses each partition's counts before the shuffle) → top-k
    * (TakeOrderedAndProject, never a global sort).
    */
  def vocabTopK(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)

  /** Per-document salient terms: the `k` terms with the highest
    * tf·(N/df) score — TF-IDF's ranking with the logarithm replaced by the
    * raw inverse document frequency, so the score stays in EXACT integer
    * arithmetic (`floor(tf·10000·N/df)` basis points) and is reproducible
    * bit-for-bit across engines (log on doubles is libm-dependent; ranking
    * by tf·N/df is order-equivalent to tf·exp-idf for per-doc top-k use).
    *
    * Scale shape: one explode + (doc,term) count with map-side combine, a
    * term-keyed df aggregation joined back on the term key, and a per-doc
    * top-k window. No broadcast of corpus-sized state; N is a scalar agg.
    */
  def termSalience(docs: DataFrame, idCol: String, k: Int,
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
    val tf = words.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "w").crossJoin(broadcast(n))
      // Integral `div`, not `/`: Spark's `/` widens to double, and past 2^53
      // (tf·10000·N at ~1e9 docs) floor(double quotient) diverges from true
      // integer floor division — `div` keeps the score in long arithmetic
      // end-to-end, matching engines that use integer `//`. The long product
      // itself overflows when tf·n_docs exceeds ~9.2e14 (e.g. tf > ~920 at
      // 1e9 docs) — beyond that, rescale the basis-point factor.
      .withColumn("salience_bp", expr("tf * 10000 * n_docs div df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("salience_bp").desc, col("w"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(idCol), col("w").as("term"), col("tf"), col("df"),
        col("salience_bp"), col("__rk").cast(LongType).as("rank"))
  }

  /** Corpus collocations: top-`k` word bigrams by document-level PMI —
    * score_bp = floor(10000·df(xy)·N / (df(x)·df(y))), where df counts
    * DISTINCT documents containing the bigram/word (document co-occurrence
    * PMI: exact integer arithmetic, no logs, engine-portable). `minDf`
    * suppresses one-off bigrams whose ratio would otherwise dominate.
    *
    * Scale shape: two map-side-combined distinct-doc counts (bigrams and
    * words), two equi-joins of the bigram table against the word-count
    * table on the word key, then TakeOrderedAndProject top-k. The word
    * table is vocabulary-sized (≪ corpus); nothing broadcasts corpus-scale
    * state.
    */
  def bigramPmi(docs: DataFrame, idCol: String, k: Int, minDf: Long,
                textCol: String = "text"): DataFrame = {
    val bigDf = docs
      .select(col(idCol), explode(wordShingles(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("df_xy"))
      .filter(col("df_xy") >= minDf)
    val wordDf = docs
      .select(col(idCol), explode(wordShingles(col(textCol), 1)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df_w"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    bigDf
      .withColumn("x", split(col("bg"), " ").getItem(0))
      .withColumn("y", split(col("bg"), " ").getItem(1))
      .join(wordDf.select(col("w").as("x"), col("df_w").as("df_x")), "x")
      .join(wordDf.select(col("w").as("y"), col("df_w").as("df_y")), "y")
      .crossJoin(broadcast(n))
      // Integral `div` for the same reason as termSalience: long arithmetic
      // end-to-end (doubles lose integer exactness past 2^53); overflows only
      // when df_xy·n_docs exceeds ~9.2e14.
      .withColumn("pmi_bp", expr("df_xy * 10000 * n_docs div (df_x * df_y)"))
      .select(col("bg").as("bigram"), col("df_xy"), col("df_x"), col("df_y"),
        col("pmi_bp"))
      .orderBy(col("pmi_bp").desc, col("bigram"))
      .limit(k)
  }

  /** Model-based quality score — the classifier-filtering stage of a
    * CCNet/GPT-3-style pipeline, with the x17 heuristic as distant
    * supervision: docs whose stopword ratio clears `labelBp` form the
    * positive class, the rest the negative; each token earns a
    * Laplace-smoothed quantized posterior
    * `weight_bp = (good_df + 1) · 10000 div (df + 2)` over DOCUMENT
    * frequency (burst-robust — a token repeated 100× in one spam page
    * counts once), and a document scores the integral mean of its
    * DISTINCT tokens' weights. All arithmetic is integral (the x53 PMI
    * convention) so the DuckDB oracle is hash-exact — no log-odds ulp
    * drift across engines; the score is a monotone transform of the NB
    * log-posterior's per-token vote.
    *
    * Plan shape at 100 TB: one distinct-token explode (narrow), one
    * map-side-combinable groupBy on the token for the weight table, one
    * keyed equi-join back (build side = vocab, one row per token), one
    * groupBy doc. Train and score are the SAME two shuffles — no
    * driver-side model state; the "model" is a vocab-sized DataFrame a
    * production pipeline would persist and reuse for scoring new shards.
    */
  def qualityClassifierScore(docs: DataFrame, idCol: String,
                             textCol: String = "text",
                             labelBp: Long = 1500): DataFrame =
    qualityClassifierScoreWith(docs, idCol,
      qualityClassifierTrain(docs, textCol, labelBp), textCol)

  /** Train half of [[qualityClassifierScore]]: the token weight table
    * (w, w_bp) — THE model artifact. A production pipeline trains this
    * once per corpus snapshot, persists it ([[ModelIO.saveClassifierVocab]])
    * and scores every subsequent shard with
    * [[qualityClassifierScoreWith]]; load-then-score is bit-identical to
    * train-then-score (ModelIOSpec) because the weights are exact
    * integers.
    */
  def qualityClassifierTrain(docs: DataFrame, textCol: String = "text",
                             labelBp: Long = 1500): DataFrame = {
    val labeled = qualityScore(docs, textCol)
      .withColumn("good",
        when(col("stop_ratio_bp") >= labelBp, 1L).otherwise(0L))
      .select(col(textCol).as("__t"), col("good"))
    // distinct tokens per doc: wordShingles n=1 (codegen'd, dedup inside)
    labeled.select(col("good"), explode(wordShingles(col("__t"), 1)).as("w"))
      .groupBy(col("w"))
      .agg(sum(col("good")).as("gdf"), count(lit(1)).as("df"))
      .withColumn("w_bp", expr("(gdf + 1) * 10000 div (df + 2)"))
      .select("w", "w_bp")
  }

  /** Score half of [[qualityClassifierScore]]: integral mean of each
    * doc's DISTINCT tokens' weights from a (w, w_bp) table — typically a
    * persisted vocab ([[ModelIO.loadClassifierVocab]]). Tokens absent
    * from the vocab contribute nothing (inner join — same as the
    * combined path, whose vocab covers every token by construction); a
    * doc with NO in-vocab tokens emits no row.
    */
  def qualityClassifierScoreWith(docs: DataFrame, idCol: String,
                                 weights: DataFrame,
                                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(wordShingles(col(textCol), 1)).as("w"))
      .join(weights, Seq("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("w_bp")).as("sw"))
      .select(col("id").as(idCol), col("n_toks"),
        expr("sw div n_toks").as("score_bp"))

  /** Sliding-window token chunking — split each document into fixed-size
    * token windows with `overlap` tokens of context carry-over (the
    * context-window splitting step before tokenization/packing). Chunk k
    * covers words [k·step, k·step+chunkSize) with step = chunkSize−overlap;
    * every word starts a chunk's fresh region exactly once. Narrow explode:
    * the only row growth is the ~n/step chunks per doc, no shuffle.
    */
  def chunkTokens(docs: DataFrame, idCol: String, chunkSize: Int, overlap: Int,
                  textCol: String = "text"): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      "need chunkSize > overlap >= 0")
    val step = chunkSize - overlap
    // Last chunk index K = max(0, ceil((n − chunkSize)/step)): the
    // smallest K whose chunk reaches the end of the doc. The old
    // floor((n−1)/step) bound emitted one more chunk whenever the
    // previous chunk already covered the whole doc — a PURE-OVERLAP
    // duplicate (e.g. n=17, 20/4 windows: chunk 1 = tokens 17..17 ⊂
    // chunk 0) that injected systematically duplicated training samples.
    docs.select(col(idCol), split(col(textCol), " ").as("__w"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          greatest(lit(0), floor((size(col("__w")) - chunkSize + step - 1)
            / lit(step).cast(DoubleType))).cast(IntegerType))))
      .select(col(idCol), col("chunk_idx").cast(LongType).as("chunk_idx"),
        array_join(slice(col("__w"), col("chunk_idx") * step + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** PII redaction patterns (C4/Dolma-style corpus scrubbing), applied in
    * order: emails first (their local parts would otherwise feed the phone
    * pattern), then dotted IPv4, then international-format phone numbers.
    * Patterns stay in the RE2-compatible subset (no lookaround/backrefs) so
    * the DuckDB oracle runs them verbatim.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9][0-9 -]{6,}[0-9]", "<PHONE>"))

  /** Redact PII spans in `textCol` → `red` plus per-category match counts
    * (counted on the ORIGINAL text, redacted sequentially — so an email
    * whose domain looks like an IP counts once under each pattern but is
    * consumed by the first rewrite). Narrow and shuffle-free: at 100 TB
    * this fuses into the scan stage like every other TextOps signal.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counted = piiPatterns.foldLeft(docs) { case (df, (cat, pat, _)) =>
      // lit(pat), not expr-embedded: SQL string literals eat backslashes.
      df.withColumn(s"n_$cat", regexp_count(col(textCol), lit(pat)).cast(LongType))
    }
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, rep)) => regexp_replace(c, pat, rep)
    }
    counted.withColumn("red", redacted)
  }

  /** Char-TRIGRAM profiles only: every entry must be exactly 3 chars or
    * it can never match a 3-char shingle. (An earlier zh profile of
    * SINGLE CJK characters was structurally dead — zh could score only
    * via the all-zero tie-break; CJK language-ID needs a per-character
    * scheme, not trigrams, so it is out of scope for this op and
    * documents with no profile hits are labeled "und".)
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    // latin tier (r19 broadened: it/pt/nl/pl — VERDICT r18 #4)
    "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng "),
    "es" -> Seq(" de", "de ", " la", "la ", "os ", " el", "el ", "ión", "ón ", " qu"),
    "fr" -> Seq(" de", "de ", " le", "le ", "es ", " la", "nt ", "ent", " et", "et "),
    "de" -> Seq(" de", "der", "er ", "ie ", " di", "die", "ein", "ch ", "sch", "und"),
    "it" -> Seq(" di", "di ", " ch", "che", "lla", " il", "il ", "zio", "one", "ità"),
    "pt" -> Seq(" de", "de ", "ão ", "ção", "os ", " os", " um", "um ", "ara", " pa"),
    "nl" -> Seq(" he", "het", "et ", "van", " va", "een", " ee", "ijk", "ij ", "aar"),
    "pl" -> Seq(" ni", "nie", "ie ", "ego", "go ", " pr", "prz", "rzy", " po", "ych"),
    // per-SCRIPT tiers (r19, VERDICT r18 #2): [[langIdRouted]] restricts
    // the argmax to the script the page is written in — ru/uk compete
    // only under Cyrillic, ar/fa only under Arabic — so a brand name or
    // quoted latin phrase can never steal a Cyrillic page for English
    "ru" -> Seq(" на", "на ", " не", "ого", "го ", "ть ", "ая ", " по", "ние", "ост"),
    "uk" -> Seq(" і ", "ння", "ськ", "ть ", "ій ", "ої ", "ів ", "іст", "ідо", " що"),
    "ar" -> Seq(" ال", "الم", "في ", " في", "ين ", "ون ", "ها ", "ة ا", " من", "من "),
    "fa" -> Seq(" که", "که ", " را", "را ", "ای ", "های", " می", "می ", "ده ", " با"),
    "el" -> Seq("και", " κα", "αι ", "της", " τη", "την", " το", "το ", "ου ", "να "),
    "he" -> Seq(" של", "של ", "ים ", " את", "את ", "ות ", "ית ", " על", "על ", " עם"),
    "hi" -> Seq(" है", "है ", " के", "के ", " की", "की ", " मे", "में", " से", "ता "))
  require(langProfiles.values.forall(_.forall(_.length == 3)),
    "language profiles must be char trigrams")

  /** The Unicode script group each profile competes under —
    * [[langIdRouted]]'s routing key: `latn` profiles score only where
    * [[scriptLangId]] found no dominant non-latin script; the others
    * score only under their own script's evidence.
    */
  val langScript: Map[String, String] = Map(
    "en" -> "latn", "es" -> "latn", "fr" -> "latn", "de" -> "latn",
    "it" -> "latn", "pt" -> "latn", "nl" -> "latn", "pl" -> "latn",
    "ru" -> "cyrl", "uk" -> "cyrl", "ar" -> "arab", "fa" -> "arab",
    "el" -> "grek", "he" -> "hebr", "hi" -> "deva")
  require(langScript.keySet == langProfiles.keySet,
    "every profile language needs a script group")

  /** Character-trigram-profile language ID — the classic n-gram heuristic
    * (Cavnar & Trenkle '94 shape): score = |profile ∩ doc trigrams| /
    * |doc trigrams| per language, predict the argmax. Profiles here are
    * compact built-in stop-trigram sets; real deployments would broadcast a
    * trained profile table instead (same plan shape: no shuffle, the profile
    * is a plan-time literal).
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame =
    // argmax by (hits, lang) — array_max over structs compares field-wise,
    // so ties break deterministically on the lexicographically-largest
    // lang. Zero hits everywhere = NO evidence → "und" (undetermined),
    // never a fabricated winner.
    docs.withColumn("__scores", trigramScores(col(textCol)))
      .withColumn("pred_hits", array_max(col("__scores")).getField("hits"))
      .withColumn("pred_lang",
        when(col("pred_hits") === 0L, lit("und"))
          .otherwise(array_max(col("__scores")).getField("lang")))
      .drop("__scores")

  /** The trigram score list of [[langId]] and [[langIdRouted]]: one
    * `(hits, lang)` struct per profile, in language order, where `hits`
    * = |profile ∩ distinct char trigrams of `text`|.
    */
  private def trigramScores(text: Column): Column = {
    val tri = charShingles(text, 3)
    array(langProfiles.toSeq.sortBy(_._1).map { case (lang, prof) =>
      // tri is distinct, so |array_intersect| == filter-count, but
      // array_intersect runs a native hash-set probe instead of an
      // interpreted lambda per element (~10× on wide corpora).
      struct(
        size(array_intersect(tri, array(prof.map(lit): _*)))
          .cast(LongType).as("hits"),
        lit(lang).as("lang"))
    }: _*)
  }

  /** Script evidence fires only when the script's codepoints are at
    * least this share (basis points) of the page's NON-WHITESPACE
    * codepoints — 3000 bp = 30%. An absolute-count precedence (the r18
    * shape) flipped a 5,000-word English page to `ja` on ONE quoted
    * kana phrase and misrouted it through the ja quality profile; real
    * routers threshold on script SHARE. 30% is far below any genuinely
    * CJK/Cyrillic/… page (typically 60–95% even with inline latin
    * brand names and numbers) and far above any quotation (a quoted
    * phrase in a real page is a fraction of a percent).
    */
  val ScriptShareBp: Long = 3000L

  /** The counted script blocks as regex character-class ranges — ONE
    * definition, interpolated verbatim into the DuckDB mirrors (literal
    * BMP ranges behave identically in java.util.regex and RE2). Key
    * order is the column order of [[scriptLangId]].
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "hira" -> "ぁ-ゟ",
    "kata" -> "゠-ヿ",
    "hangul" -> "가-힣",
    "han" -> "㐀-䶿一-鿿", // unified han + Extension A (both BMP)
    "thai" -> "ก-๛",
    "cyrl" -> "Ѐ-ӿ",
    "arab" -> "؀-ۿ",
    "grek" -> "Ͱ-Ͽ",
    "hebr" -> "֐-׿",
    "deva" -> "ऀ-ॿ")

  /** SCRIPT-based language evidence (r18, share-thresholded and
    * extended to the non-latin alphabetic web in r19 — the declared
    * boundary of [[langId]]: trigram profiles are the wrong unit for
    * space-free scripts, and script evidence is the cheap exact router
    * for every non-latin alphabet). The classic Unicode-script router
    * every real pipeline runs BEFORE an n-gram model: count codepoints
    * per script block (hiragana, katakana, hangul syllables, unified
    * han incl. Extension A, thai, cyrillic, arabic, greek, hebrew,
    * devanagari — literal BMP ranges, so one codegen'd regexp_replace
    * per script on BOTH engines), then the precedence, each arm gated
    * on the script holding ≥ [[ScriptShareBp]] of non-whitespace
    * codepoints (see there — the r19 mixed-script fix):
    *
    *  - any kana AND a dominant CJK (kana+han) share → `ja` (kanji
    *    alone is ambiguous, kana is not; the han term keeps a normal
    *    kanji-heavy Japanese page above the share bar);
    *  - else dominant hangul → `ko`; thai → `th`; han-only → `zh`
    *    (ja/ko text without its phonetic script is rare outside
    *    single-word fragments);
    *  - else a dominant Cyrillic/Arabic/Greek/Hebrew/Devanagari share
    *    → the SCRIPT GROUP label (`cyrl`/`arab`/`grek`/`hebr`/`deva`)
    *    — these scripts carry several languages each, so the label
    *    routes to the script's own trigram profiles in
    *    [[langIdRouted]] instead of fabricating one language;
    *  - else → `und` (latin / mixed / quotation-only evidence — route
    *    to [[langId]]'s latin trigram tier).
    *
    * Output: per-script codepoint counts (`n_hira`, `n_kata`,
    * `n_hangul`, `n_han`, `n_thai`, `n_cyrl`, `n_arab`, `n_grek`,
    * `n_hebr`, `n_deva`) + `script_lang`. Narrow, shuffle-free,
    * scan-fused — the [[langId]] plan shape.
    *
    * Fidelity bound: all counted blocks are BMP (han includes
    * Extension A, U+3400–U+4DBF — BMP, reachable via the GB18030
    * decode path; Extension B+ is supplementary and stays out of
    * scope), where `length()` counts code units = codepoints on both
    * engines; text containing SUPPLEMENTARY chars (emoji, CJK
    * extension B) inflates the subtraction base by one per surrogate
    * pair on the JVM side — harmless here (supplementary chars are in
    * NO counted block, so the per-script counts stay exact and the
    * share denominator only grows, making the threshold marginally
    * more conservative).
    */
  def scriptLangId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val ranges = ScriptRanges.toMap
    def inRange(key: String): Column =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), s"[${ranges(key)}]", "")))
        .cast(LongType)
    // share gate in MULTIPLY form (n·10000 ≥ bp·n_nonspace): integer-
    // exact on both engines, no division, no div-by-zero arm; the n>0
    // conjunct keeps empty/whitespace-only text at `und` (0 ≥ 0 would
    // otherwise pass the share test vacuously)
    val nNonspace =
      length(regexp_replace(col(textCol), "\\s", "")).cast(LongType)
    def dominant(n: Column): Column =
      n > 0L && n * 10000L >= lit(ScriptShareBp) * nNonspace
    docs
      .withColumn("n_hira", inRange("hira"))
      .withColumn("n_kata", inRange("kata"))
      .withColumn("n_hangul", inRange("hangul"))
      .withColumn("n_han", inRange("han"))
      .withColumn("n_thai", inRange("thai"))
      .withColumn("n_cyrl", inRange("cyrl"))
      .withColumn("n_arab", inRange("arab"))
      .withColumn("n_grek", inRange("grek"))
      .withColumn("n_hebr", inRange("hebr"))
      .withColumn("n_deva", inRange("deva"))
      .withColumn("script_lang",
        when(col("n_hira") + col("n_kata") > 0L &&
            dominant(col("n_hira") + col("n_kata") + col("n_han")),
          lit("ja"))
          .when(dominant(col("n_hangul")), lit("ko"))
          .when(dominant(col("n_thai")), lit("th"))
          .when(dominant(col("n_han")), lit("zh"))
          .when(dominant(col("n_cyrl")), lit("cyrl"))
          .when(dominant(col("n_arab")), lit("arab"))
          .when(dominant(col("n_grek")), lit("grek"))
          .when(dominant(col("n_hebr")), lit("hebr"))
          .when(dominant(col("n_deva")), lit("deva"))
          .otherwise(lit("und")))
  }

  /** The COMPLETE language router: script evidence first (exact,
    * cheap, share-thresholded — see [[scriptLangId]]), then the
    * trigram tier RESTRICTED to the languages of the page's script
    * ([[langScript]]): `cyrl` pages compete only among ru/uk, `arab`
    * among ar/fa, `grek`/`hebr`/`deva` among their single profiles,
    * and everything else (latin/mixed) among the latin profiles — so
    * an inline English phrase can never steal a Cyrillic page, and a
    * quoted CJK phrase can never flip an English one (the r19 share
    * threshold). `pred_lang` is the routed label, `pred_hits` the
    * winning profile's hit count WITHIN the routed group (0 hits →
    * `und`, never a fabricated winner); both tiers' evidence columns
    * ride along for audits. One fused narrow pass — neither tier
    * shuffles.
    */
  def langIdRouted(docs: DataFrame, textCol: String = "text"): DataFrame = {
    def groupArr(g: String): Column =
      array(langScript.collect { case (l, s) if s == g => l }
        .toSeq.sorted.map(lit): _*)
    val allowed = when(col("script_lang") === "cyrl", groupArr("cyrl"))
      .when(col("script_lang") === "arab", groupArr("arab"))
      .when(col("script_lang") === "grek", groupArr("grek"))
      .when(col("script_lang") === "hebr", groupArr("hebr"))
      .when(col("script_lang") === "deva", groupArr("deva"))
      .otherwise(groupArr("latn"))
    scriptLangId(docs, textCol)
      .withColumn("__m", array_max(filter(trigramScores(col(textCol)),
        s => array_contains(allowed, s.getField("lang")))))
      .withColumn("pred_hits", col("__m").getField("hits"))
      .withColumn("pred_lang",
        when(col("script_lang").isin("ja", "ko", "th", "zh"),
          col("script_lang"))
          .when(col("pred_hits") === 0L, lit("und"))
          .otherwise(col("__m").getField("lang")))
      .drop("__m")
  }

  /** Canonical text normalization — the pre-dedup step every web corpus
    * runs so that case/whitespace/punctuation noise doesn't defeat exact
    * dedup: lowercase, collapse whitespace runs to one space, trim, and
    * (optionally) strip every char outside [a-z0-9 ]. Returned as a
    * Column so it fuses into whatever scan feeds the dedup — narrow,
    * codegen'd, zero extra passes. `DedupOps.exact(docs.withColumn("t",
    * normalizeText(col)), …)` is normalized exact dedup.
    */
  def normalizeText(text: Column, stripPunct: Boolean = false): Column = {
    val collapsed = trim(regexp_replace(lower(text), "\\s+", " "))
    if (stripPunct) trim(regexp_replace(
      regexp_replace(collapsed, "[^a-z0-9 ]", ""), "\\s+", " "))
    else collapsed
  }

  /** BM25 scored retrieval (Robertson/Spärck Jones; the Okapi BM25
    * formula with k1 = 1.2, b = 0.75): for each query document, the
    * top-`k` corpus documents by summed BM25 term weight — the retrieval
    * primitive of seed-based curation ("find everything in the crawl that
    * looks like these reference docs") and of retrieval-augmented eval
    * set construction. Query terms are DISTINCT (standard bag-of-terms
    * query form); self-matches are excluded.
    *
    * Cross-engine determinism: each (term, doc) weight is a deterministic
    * double expression over integer counts (tf, df, dl, N, Σdl) quantized
    * ONCE — `floor(1e6 · ln((N−df+0.5)/(df+0.5) + 1) · (tf·2.2) /
    * (tf + 1.2·(0.25 + 0.75·dl/avgdl)))` — and per-pair aggregation sums
    * integers. The k1/b constants appear as the LITERALS 1.2/2.2/0.25/
    * 0.75 on both engines (computing 1.2+1 at runtime rounds to a
    * DIFFERENT double than the literal 2.2 — the one-ulp trap this
    * hardcoding avoids).
    *
    * Scale shape: the corpus collapses to its postings (tf) and doc-length
    * (dl) tables in two map-side-combinable shuffles — the inverted index
    * a production deployment builds once and persists; df is a
    * vocab-sized agg. The query-terms table joins the postings FIRST, so
    * everything downstream is ∝ the posting lists of query terms, not the
    * corpus; corpus-wide constants (N, Σdl) ride a broadcast 1-row
    * crossJoin; the top-k is a per-query window over scored candidates.
    */
  def bm25TopK(queries: DataFrame, corpus: DataFrame, k: Int,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bm25TopKWith(queries,
      bm25Postings(corpus, idCol, textCol), k, idCol, textCol)

  /** The BM25 inverted index as a standalone artifact: (did, t, tf)
    * postings — ONE explode pass over the corpus, one map-side-combined
    * agg. Everything else BM25 needs (doc lengths, document frequencies,
    * N, Σdl) DERIVES from this table (every doc appears: `split` of an
    * empty text still yields one empty token), so the postings frame is
    * the complete persistable index — build once on the 100 TB corpus,
    * [[graft.ops.ModelIO.saveBm25Postings]] it, and score any future
    * query batch against the parquet without re-reading the corpus.
    */
  def bm25Postings(corpus: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    corpus.select(col(idCol).as("did"),
        explode(split(col(textCol), " ")).as("t"))
      .groupBy(col("did"), col("t")).agg(count(lit(1)).as("tf"))

  /** [[bm25TopK]] scoring against a prebuilt/reloaded [[bm25Postings]]
    * frame — the serving half of the build-once-score-many split. All
    * corpus statistics derive from the postings (N = distinct docs — the
    * corpus row count by the every-doc-appears invariant above), so
    * load-then-score is bit-identical to build-then-score
    * (`ModelIoSpec`'s round-trip contract).
    */
  def bm25TopKWith(queries: DataFrame, postings: DataFrame, k: Int,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the checkpointed postings feed their four consumers (df, dl,
    // total, the scoring join) without re-running the build (or
    // re-scanning the loaded parquet) per branch
    val tf = postings.localCheckpoint()
    val dl = tf.groupBy(col("did")).agg(sum(col("tf")).as("dl"))
    val dfT = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val stats = tf.agg(countDistinct(col("did")).as("n_docs"))
    val tot = tf.agg(sum(col("tf")).as("n_toks"))
    val qt = queries.select(col(idCol).as("qid"),
      explode(split(col(textCol), " ")).as("t")).distinct()
    val avgdl = col("n_toks").cast(DoubleType) / col("n_docs").cast(DoubleType)
    val scored = qt.join(tf, Seq("t"))
      .filter(col("qid") =!= col("did"))
      .join(dfT, Seq("t"))
      .join(dl, Seq("did"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(tot))
      .withColumn("w_scaled", floor(
        lit(1000000d)
          * log((col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)) + lit(1.0))
          * (col("tf").cast(DoubleType) * lit(2.2))
          / (col("tf").cast(DoubleType)
            + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast(DoubleType) / avgdl)))
        .cast(LongType))
    val pair = scored.groupBy(col("qid"), col("did"))
      .agg(count(lit(1)).as("n_terms"), sum(col("w_scaled")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("did"))
    pair.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("qid"), col("did"), col("n_terms"), col("score"), col("rk"))
  }

  /** Gopher-rule quality DECISION TABLE (Rae et al. 2021 §A.1.1) — the
    * published heuristic filter battery as one shippable artifact: per
    * document, every signal the rules read, one boolean per rule, and the
    * conjunction `keep`. The earlier quality ops expose raw signals
    * (x17/x36/x45); this is the downstream decision a pipeline actually
    * writes next to the corpus, with per-rule flags kept so an audit can
    * ask "what share failed WHICH rule" without re-deriving anything.
    *
    * Rules (Gopher's defaults, word-level adaptations noted):
    *  - word count in [minWords, maxWords] (paper: 50..100k)
    *  - mean word length in [3, 10] chars (integer centi-chars here)
    *  - symbol-to-word ratio ('#' or '…') ≤ 0.1
    *  - ≥ 80% of words contain ≥ 1 alphabetic char
    *  - ≥ minStopHits distinct members of the 8-stopword probe list
    *    ("the be to of and that have with") present as whole words
    *  - duplicate-word fraction ≤ 30% (the paper's duplicate-line family
    *    collapsed to word granularity — single-line corpus documents
    *    have no line structure to measure)
    *
    * Every ratio is integral (centi / basis points, floor) so the DuckDB
    * oracle hash-matches. Narrow and shuffle-free: one pass over the
    * text column, no joins, fuses into the scan — at 100 TB this is a
    * free rider on whatever stage reads the text anyway.
    */
  def gopherFilter(docs: DataFrame, textCol: String = "text",
                   minWords: Long = 50L, maxWords: Long = 100000L,
                   minStopHits: Long = 2L): DataFrame = {
    val fixed = Map("min_words" -> minWords, "max_words" -> maxWords,
      "min_stop_hits" -> minStopHits)
    gopherTable(docs, textCol, array(GopherStopProbe.map(lit): _*),
      (field, default) => lit(fixed.getOrElse(field, default)))
  }

  /** Gopher's English defaults as profile values — ONE definition shared
    * by [[gopherFilter]], [[gopherFilterByLang]]'s fallback arm, and the
    * x168 oracle mirror.
    */
  val GopherStopProbe: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** LANGUAGE-AWARE Gopher battery (the CCNet discipline — CCNet §3.2 /
    * RefinedWeb run their quality rules per language): the same decision
    * table as [[gopherFilter]], but the stopword probe and the
    * language-sensitive thresholds come from a per-language `profiles`
    * table joined on `langCol` (key it off [[langId]]'s `pred_lang`, an
    * HTTP Content-Language header, or a domain card — the op does not
    * care how the label was derived). An English-only config silently
    * eats low-resource languages: every French page fails an English
    * stopword probe, and short-function-word languages fail an
    * English-tuned mean-word-length floor — exactly the per-group
    * collapse [[StatOps.funnelReportBy]] exists to surface.
    *
    * `profiles` columns (every one NULLable — a missing value falls back
    * to the Gopher English default, so a one-column override works):
    *
    *  - `lang` — join key;
    *  - `stop_words` (array) — the whole-word stopword probe
    *    (default: the 8 English Gopher stopwords);
    *  - `min_stop_hits` (default 2), `min_words` (50),
    *    `max_words` (100000);
    *  - `min_word_len_centi` (300) / `max_word_len_centi` (1000) — the
    *    mean-word-length band (French/German function words pull the
    *    mean under the English floor);
    *  - `min_alpha_bp` (8000) — the alphabetic-word floor (a future
    *    space-free CJK profile sets it to 0: "words" by whitespace is
    *    the wrong unit there).
    *
    * A doc whose language has NO profile row gets the full English
    * defaults (the documented conservative fallback — [[gopherFilter]]'s
    * decisions: both ops run the one [[gopherTable]]). The non-language
    * rules (dup-word, symbol ratio) keep their global Gopher bounds.
    *
    * Scale shape: `profiles` is language-count-sized → BROADCAST; the
    * corpus never shuffles — every signal and rule fuses into the scan
    * exactly like [[gopherFilter]] (plan-gated in the query tier).
    */
  def gopherFilterByLang(docs: DataFrame, profiles: DataFrame,
                         textCol: String = "text",
                         langCol: String = "lang"): DataFrame = {
    val pcols = Seq("stop_words", "min_stop_hits", "min_words",
      "max_words", "min_word_len_centi", "max_word_len_centi",
      "min_alpha_bp")
    gopherTable(
        docs.join(profileByLang(profiles, langCol, pcols), Seq(langCol), "left"),
        textCol,
        coalesce(col("__p_stop_words"), array(GopherStopProbe.map(lit): _*)),
        (field, default) => coalesce(col(s"__p_$field"), lit(default)))
      .drop(pcols.map(c => s"__p_$c"): _*)
  }

  /** The Gopher decision table of [[gopherFilter]] and
    * [[gopherFilterByLang]]: the six signals, the six rules and `keep`.
    * `stopWords` is the whole-word stopword probe; `bound(field,
    * default)` is the bound of a language-sensitive rule, named by its
    * profile field, whose Gopher English value is `default`.
    *
    * Chars-in-words count via single-space removal: robust to texts that
    * are not perfectly single-space-joined (unlike length − n + 1).
    */
  private def gopherTable(docs: DataFrame, textCol: String,
                          stopWords: Column,
                          bound: (String, Long) => Column): DataFrame = {
    val words = split(col(textCol), " ")
    val nWords = size(words).cast(LongType)
    val wordChars = length(regexp_replace(col(textCol), " ", "")).cast(LongType)
    val symCount = (length(col(textCol))
      - length(regexp_replace(col(textCol), "[#…]", ""))).cast(LongType)
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len_centi",
        floor(wordChars.cast(DoubleType) * 100d / nWords.cast(DoubleType))
          .cast(LongType))
      .withColumn("dup_word_bp", bp(nWords - size(array_distinct(words)), nWords))
      .withColumn("alpha_word_bp",
        bp(size(filter(words, w =>
          length(regexp_replace(w, "[^a-zA-Z]", "")) > 0)), nWords))
      .withColumn("sym_bp", bp(symCount, nWords))
      .withColumn("stop_hits",
        size(array_intersect(array_distinct(words), stopWords)).cast(LongType))
      .withColumn("keep_n_words",
        col("n_words") >= bound("min_words", 50L) &&
          col("n_words") <= bound("max_words", 100000L))
      .withColumn("keep_word_len",
        col("mean_word_len_centi") >= bound("min_word_len_centi", 300L) &&
          col("mean_word_len_centi") <= bound("max_word_len_centi", 1000L))
      .withColumn("keep_dup", col("dup_word_bp") <= 3000L)
      .withColumn("keep_alpha", col("alpha_word_bp") >= bound("min_alpha_bp", 8000L))
      .withColumn("keep_sym", col("sym_bp") <= 1000L)
      .withColumn("keep_stop", col("stop_hits") >= bound("min_stop_hits", 2L))
      .withColumn("keep",
        col("keep_n_words") && col("keep_word_len") && col("keep_dup") &&
          col("keep_alpha") && col("keep_sym") && col("keep_stop"))
  }

  /** A per-language profile table as a broadcast `(langCol, __p_<c>…)`
    * frame, one row per language — the join side of every `ByLang` op.
    * Duplicate lang rows collapse DETERMINISTICALLY (max over the whole
    * row-struct — the soft404Flags discipline, r18): a left join on a
    * profile table with two rows for one lang would silently MULTIPLY
    * every doc of that language. Unique-key inputs pass through
    * bit-identically (max of one row is that row).
    */
  private[ops] def profileByLang(profiles: DataFrame, langCol: String,
                                 pcols: Seq[String]): DataFrame =
    broadcast(profiles.select(
        col("lang").as(langCol) +:
          pcols.map(c => col(c).as(s"__p_$c")): _*)
      .groupBy(langCol)
      .agg(max(struct(pcols.map(c => col(s"__p_$c")): _*)).as("__p"))
      .select(col(langCol) +:
        pcols.map(c => col(s"__p.__p_$c").as(s"__p_$c")): _*))

  /** Feature-hashed bag-of-words document vectors (the hashing trick,
    * Weinberger et al. 2009, arXiv:0902.2206) — the bridge from the TEXT
    * table into the vector family: every doc becomes a `dim`-bucket
    * signed-count vector with NO vocabulary pass, no model, and no
    * external embedding service, so SemDeDup / ANN / prototypicality run
    * on corpora that only have text. bucket = hash60(token) mod dim;
    * sign = one independent bit of the same hash (`(h div dim) mod 2`) —
    * the signed sum makes colliding tokens cancel in expectation instead
    * of accumulating (the paper's unbiasedness fix).
    *
    * Output is SPARSE — one row per (id, bucket) with the signed
    * occurrence sum (a value can legitimately cancel to 0; the row is
    * kept so the representation is a pure function of the text) — which
    * is the form a 100 TB corpus actually stores: Θ(tokens) rows worst
    * case, never Θ(docs·dim). [[hashedBowDense]] densifies for consumers
    * that need `Array[Float]`.
    *
    * Scale shape: one narrow explode over the token stream, then ONE
    * doc-scoped map-side-combinable aggregate — exactly the shuffle a
    * word-count pays. All-integer values → hash-exact DuckDB oracle.
    */
  def hashedBow(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", dim: Int = 64): DataFrame = {
    require(dim > 0, s"hashedBow: dim must be > 0 (got $dim)")
    docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("__t"))
      .filter(length(col("__t")) > 0)
      .select(col(idCol), hash60(col("__t")).as("__h"))
      .select(col(idCol), (col("__h") % dim).cast(LongType).as("bucket"),
        when(expr(s"(__h div $dim) % 2 = 0"), lit(1L))
          .otherwise(lit(-1L)).as("__sgn"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__sgn")).cast(LongType).as("val"))
  }

  /** Dense `Array[Float]` view of [[hashedBow]] — the adapter that feeds
    * the hashed vectors into [[graft.ops.VectorOps]] (cosine top-k,
    * SemDeDup, prototypicality). One more doc-keyed aggregate
    * (map→dense transform over a bounded `dim`); use only when the
    * consumer genuinely needs dense vectors — the sparse form is the one
    * that scales.
    */
  def hashedBowDense(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", dim: Int = 64): DataFrame =
    hashedBow(docs, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("val"))))
        .as("__m"))
      .select(col(idCol),
        expr(s"transform(sequence(0L, ${dim - 1}L), i -> " +
          "cast(coalesce(element_at(__m, i), 0L) as float))").as("embedding"))
}
