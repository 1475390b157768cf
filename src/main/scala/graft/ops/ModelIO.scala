package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persist/reload for the engine's reusable MODEL ARTIFACTS — the bounded
  * byproducts of whole-corpus training jobs that a production pipeline
  * computes once per snapshot and reuses across every subsequent run:
  *
  *   - the IVF codebook (k×dim float centroids) + its int8 quantization
  *     scale ([[VectorOps.kmeansCentroidsExact]], [[VectorOps.sqScale]]);
  *   - a learned BPE merge list ([[BpeOps.trainMerges]]);
  *   - a Bloom membership sketch over corpus content hashes
  *     ([[StatOps.bloomSketch]]);
  *   - the quality-classifier vocab ([[TextOps.qualityClassifierTrain]]).
  *
  * At 100 TB these artifacts are the PRODUCT of entire jobs (a codebook
  * train scans the corpus per Lloyd round; the Bloom sketch of a 10^10-doc
  * history is the history's whole dedup state) — recomputing them per run
  * is not a plan. Format is plain parquet with explicit schemas, so the
  * artifacts are readable by any engine and diffable by ordinary tooling;
  * every value class round-trips losslessly (floats/doubles/longs/strings
  * are stored exactly by parquet), and each load validates the schema so a
  * path mix-up fails loudly instead of scoring with the wrong table.
  * ModelIOSpec proves load-then-score ≡ train-then-score bit-for-bit for
  * every artifact below but the bigram LM, whose round trip is LmOpsSpec's.
  *
  * Writes use overwrite mode: an artifact path names ONE model version —
  * version by path (the lakehouse convention), not by append.
  */
object ModelIO {

  private def requireColumns(df: DataFrame, path: String,
                             want: Seq[(String, DataType)]): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    want.foreach { case (n, t) =>
      // simpleString compare: nullability-insensitive (parquet round-trips
      // may relax containsNull/nullable without changing a stored value;
      // DataType.sameType is private[sql])
      require(have.get(n).exists(_.simpleString == t.simpleString),
        s"$path is not the expected artifact: wanted column $n: " +
          s"${t.simpleString}, schema is ${df.schema.simpleString}")
    }
    df.select(want.map(c => col(c._1)): _*)
  }

  /** An artifact's columns, declared once for its save and its load. */
  private final class Artifact(val cols: (String, DataType)*) {
    def names: Seq[String] = cols.map(_._1)
    def project(df: DataFrame): DataFrame = df.select(names.map(col): _*)
    def load(spark: SparkSession, path: String): DataFrame =
      requireColumns(spark.read.parquet(path), path, cols)
  }

  private val Codebook = new Artifact(
    "cid" -> IntegerType, "vec" -> ArrayType(FloatType, containsNull = false))
  private val SqScale = new Artifact("qscale" -> DoubleType)
  private val BpeMerges = new Artifact("merge_rank" -> IntegerType,
    "left_sym" -> StringType, "right_sym" -> StringType, "pair_count" -> LongType)
  private val BloomSketch = new Artifact("widx" -> LongType, "bits" -> LongType,
    "m_bits" -> IntegerType, "k_hashes" -> IntegerType)
  private val Bm25Postings = new Artifact(
    "did" -> LongType, "t" -> StringType, "tf" -> LongType)
  private val ClassifierVocab = new Artifact("w" -> StringType, "w_bp" -> LongType)
  private val NbWeights = new Artifact("token" -> StringType,
    "c_pos" -> LongType, "c_neg" -> LongType, "w" -> LongType)
  private val NbConsts = new Artifact(Seq("w_default", "prior", "n_pos",
    "n_neg", "vocab", "d_pos", "d_neg").map(_ -> LongType): _*)
  private val BigramLm = new Artifact("s" -> StringType, "w1" -> StringType,
    "n2" -> LongType, "n1" -> LongType, "v" -> LongType, "nll_scaled" -> LongType)
  private val PqCodebooks = new Artifact("s" -> IntegerType,
    "j" -> IntegerType, "cw" -> ArrayType(FloatType, containsNull = false))
  private val WinnowIndex = new Artifact(
    "did" -> LongType, "pos" -> LongType, "fp" -> LongType)

  /** nb (the build modulus, r15) rides along when present so a loaded
    * table still fails loudly on a mismatched-numBuckets probe; tables
    * from older builds save without it (scorers then fall back to the
    * bucket-range check only).
    */
  private def dsirWeights(columns: Array[String]): Artifact =
    new Artifact(Seq("b", "n_raw", "n_target", "w_scaled").map(_ -> LongType) ++
      (if (columns.contains("nb")) Seq("nb" -> LongType) else Nil): _*)

  // ---- IVF codebook + quantization scale ----------------------------------

  /** Persist a codebook as (cid INT, vec ARRAY<FLOAT>) — one row per
    * centroid, cid = position. k×dim floats: coalesce(1) keeps the
    * artifact a single tidy file.
    */
  def saveCodebook(spark: SparkSession, path: String,
                   centroids: Seq[Array[Float]]): Unit = {
    require(centroids.nonEmpty, "refusing to save an empty codebook")
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF(Codebook.names: _*)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveCodebook]] artifact in cid order — bit-identical to
    * the trained array (parquet stores float32 exactly). Cids must be
    * contiguous 0..n−1 (the loadBpeMerges rank-hole rule): a corrupted
    * artifact with a missing cid would otherwise silently SHIFT every
    * later centroid to the wrong array position, and cell ids computed
    * against the loaded codebook would no longer match train time.
    */
  def loadCodebook(spark: SparkSession, path: String): Array[Array[Float]] = {
    val rows = Codebook.load(spark, path).orderBy("cid").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"$path: corrupted codebook — expected contiguous cid $i, " +
          s"found ${r.getInt(0)}")
    }
    rows.map(_.getSeq[Float](1).toArray)
  }

  /** Persist the scalar-quantization scale (one DOUBLE row) next to the
    * codebook it belongs to.
    */
  def saveSqScale(spark: SparkSession, path: String, qscale: Double): Unit = {
    import spark.implicits._
    Seq(qscale).toDF(SqScale.names: _*)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadSqScale(spark: SparkSession, path: String): Double = {
    val rows = SqScale.load(spark, path).collect()
    require(rows.length == 1, s"$path: expected exactly 1 qscale row, " +
      s"got ${rows.length}")
    rows(0).getDouble(0)
  }

  // ---- BPE merge list ------------------------------------------------------

  /** Persist a learned merge list as (merge_rank INT, left_sym, right_sym
    * STRING, pair_count BIGINT) — the portable tokenizer model.
    */
  def saveBpeMerges(spark: SparkSession, path: String,
                    merges: Seq[BpeOps.Merge]): Unit = {
    require(merges.nonEmpty, "refusing to save an empty merge list")
    import spark.implicits._
    merges.map(m => (m.rank, m.left, m.right, m.pairCount))
      .toDF(BpeMerges.names: _*)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a [[saveBpeMerges]] artifact in rank order; ranks must be the
    * contiguous 1..n a trainer emits (merge order is the model — a hole
    * means a corrupted artifact).
    */
  def loadBpeMerges(spark: SparkSession, path: String): Seq[BpeOps.Merge] = {
    val rows = BpeMerges.load(spark, path).orderBy("merge_rank").collect()
      .map(r => BpeOps.Merge(r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    require(rows.map(_.rank).sameElements(1 to rows.length),
      s"$path: merge ranks not contiguous 1..${rows.length}")
    rows.toSeq
  }

  // ---- Bloom membership sketch ---------------------------------------------

  /** Persist a [[StatOps.bloomSketch]] (sparse (widx, bits, m_bits,
    * k_hashes) words). No coalesce: the sketch is m/32 rows — bounded,
    * but a 12 GB ten-billion-doc sketch should keep its partitioning.
    */
  def saveBloomSketch(sketch: DataFrame, path: String): Unit =
    BloomSketch.project(sketch).write.mode("overwrite").parquet(path)

  /** Reload a Bloom sketch; m/k ride in every row, so a probe with
    * mismatched parameters still fails loudly downstream
    * ([[StatOps.bloomProbe]]'s embedded-parameter check).
    */
  def loadBloomSketch(spark: SparkSession, path: String): DataFrame =
    BloomSketch.load(spark, path)

  // ---- BM25 inverted index -------------------------------------------------

  /** Persist a [[TextOps.bm25Postings]] inverted index (did, t, tf). The
    * postings are the COMPLETE index — dl/df/N/Σdl all derive from them
    * ([[TextOps.bm25TopKWith]]) — so this one table is the whole
    * build-once artifact. Integral counts → load-then-score ≡
    * build-then-score bit-for-bit. No coalesce: postings ∝ corpus token
    * types, a genuinely large table whose partitioning should survive.
    */
  def saveBm25Postings(postings: DataFrame, path: String): Unit = {
    // same pre-write gate as saveWinnowIndex: the loader reads did as
    // LongType, so fail before the corpus-scale write, not on reload
    require(postings.schema("did").dataType == LongType,
      "did must be LongType for the BM25 postings artifact " +
        s"(got ${postings.schema("did").dataType.simpleString})")
    Bm25Postings.project(postings).write.mode("overwrite").parquet(path)
  }

  def loadBm25Postings(spark: SparkSession, path: String): DataFrame =
    Bm25Postings.load(spark, path)

  // ---- Quality-classifier vocab --------------------------------------------

  /** Persist a [[TextOps.qualityClassifierTrain]] weight table
    * (w STRING, w_bp BIGINT) — integral weights, so load-then-score is
    * exactly train-then-score.
    */
  def saveClassifierVocab(weights: DataFrame, path: String): Unit =
    ClassifierVocab.project(weights).write.mode("overwrite").parquet(path)

  def loadClassifierVocab(spark: SparkSession, path: String): DataFrame =
    ClassifierVocab.load(spark, path)

  // ---- Token Naive Bayes model ---------------------------------------------

  /** Persist a [[ClassifyOps.trainTokenNb]] model as TWO parquet
    * directories under `path` — `weights/` (one row per vocab token)
    * and `consts/` (one row). All-integer weights (micro-nat scaled
    * longs) → load-then-score ≡ train-then-score bit-for-bit
    * (ModelIOSpec). No coalesce on weights: vocab rows on a web corpus
    * are a genuinely large table.
    */
  def saveNbModel(model: ClassifyOps.NbModel, path: String): Unit = {
    NbWeights.project(model.weights)
      .write.mode("overwrite").parquet(s"$path/weights")
    NbConsts.project(model.consts)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/consts")
  }

  def loadNbModel(spark: SparkSession, path: String): ClassifyOps.NbModel =
    ClassifyOps.NbModel(NbWeights.load(spark, s"$path/weights"),
      NbConsts.load(spark, s"$path/consts"))

  // ---- Bigram language model -----------------------------------------------

  /** Persist a [[LmOps.trainBigramLm]] model (one row per observed bigram,
    * integral counts + pre-quantized integral surprisal; the vocab size
    * rides every row so the artifact is self-contained for the backoff
    * paths). All-integer values → load-then-score ≡ train-then-score
    * bit-for-bit. No coalesce: model rows ∝ distinct observed bigrams,
    * which on a web-scale corpus is a genuinely large table.
    */
  def saveBigramLm(model: DataFrame, path: String): Unit =
    BigramLm.project(model).write.mode("overwrite").parquet(path)

  def loadBigramLm(spark: SparkSession, path: String): DataFrame =
    BigramLm.load(spark, path)

  // ---- DSIR importance-weight table ----------------------------------------

  /** Persist a [[DsirOps.importanceWeightTable]] (≤ numBuckets rows of
    * integral counts + the pre-quantized integral log weight). All-integer
    * values → load-then-score ≡ train-then-score bit-for-bit; at 100 TB
    * the two corpus passes that built this table are a whole job, and
    * every subsequent selection run reads the ~1k-row artifact instead.
    */
  def saveDsirWeights(weights: DataFrame, path: String): Unit =
    dsirWeights(weights.columns).project(weights)
      .coalesce(1).write.mode("overwrite").parquet(path)

  def loadDsirWeights(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    requireColumns(df, path, dsirWeights(df.columns).cols)
  }

  // ---- PQ codebooks --------------------------------------------------------

  /** Persist [[VectorOps.pqSeedCodebooks]]-shaped codebooks as one row per
    * (subspace, codeword) — float components round-trip exactly through
    * parquet FLOAT, so a loaded codebook encodes and scores bit-for-bit
    * like the trained one (the index-metadata artifact next to the coarse
    * centroids and qscale).
    */
  def savePqCodebooks(spark: SparkSession, path: String,
                      codebooks: Array[Array[Array[Float]]]): Unit = {
    import spark.implicits._
    // refuse at save time what loadPqCodebooks would reject at load time
    // (the saveCodebook/saveBpeMerges convention) — an empty artifact is
    // a bug at the producer, not something to discover on the next run
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "refusing to save an empty PQ codebook")
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (cw, j) => (s, j, cw.toSeq) }
    }.toSeq.toDF(PqCodebooks.names: _*)
      // m×ksub driver-local metadata — one tidy file, not a file per
      // default-parallelism slice (the saveCodebook rationale)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadPqCodebooks(spark: SparkSession, path: String): Array[Array[Array[Float]]] = {
    val rows = PqCodebooks.load(spark, path).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    require(rows.nonEmpty, s"empty PQ codebook at $path")
    // distinct-cell count, not raw row count: a duplicated (s,j) row
    // masking a missing one would pass a length check and leave a null
    // codeword that NPEs (or silently mis-scores) at probe time
    val cells = rows.map(r => (r._1, r._2)).toSet
    require(cells.size == rows.length,
      s"$path: corrupted PQ codebook — duplicate (s,j) rows")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    require(cells.size == m * ksub,
      s"ragged PQ codebook at $path: ${cells.size} cells for $m×$ksub")
    val out = Array.ofDim[Array[Float]](m, ksub)
    rows.foreach { case (s, j, cw) => out(s)(j) = cw }
    out
  }

  // ---- Winnowing fingerprint index -----------------------------------------

  /** Persist a [[TextOps.winnowFingerprints]] selection table — one row
    * per selected (doc, position, fingerprint), exactly the index MOSS
    * keeps between runs so overlap detection against a new batch never
    * re-fingerprints the old corpus. All-integer values → load-then-pair
    * ≡ build-then-pair bit-for-bit
    * ([[graft.ops.DedupOps.winnowOverlapPairsFromIndex]]). No coalesce:
    * the selection is ~2/(w+1) of the corpus GRAM count — corpus-scale,
    * written distributed like the corpus itself (the Bloom/bigram-LM
    * class of artifact, not the k×dim-metadata class).
    */
  def saveWinnowIndex(fps: DataFrame, idCol: String, path: String): Unit = {
    // fail BEFORE the corpus-scale write: loadWinnowIndex requires a
    // LongType did, so a string-id corpus would complete an expensive
    // distributed write whose artifact its own loader then rejects
    require(fps.schema(idCol).dataType == LongType,
      s"$idCol must be LongType for the winnow index " +
        s"(got ${fps.schema(idCol).dataType.simpleString}); cast ids " +
        "before saving — loadWinnowIndex reads did as LongType")
    fps.select(col(idCol).as("did") +: WinnowIndex.names.tail.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  def loadWinnowIndex(spark: SparkSession, path: String): DataFrame =
    WinnowIndex.load(spark, path)
}
