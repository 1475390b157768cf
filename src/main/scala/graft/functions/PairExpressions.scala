package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All ordered pairs of an array<struct<id: long, n: long>> (sorted by id
  * upstream via sort_array) as array<struct<i, an, j, bn>> — the pair
  * enumeration inside a dedup bucket (same-shingle docs, same-LSH-band
  * docs) as ONE tight loop per bucket instead of a nested higher-order
  * `transform`/`slice`/`flatten` (interpreted lambda per generated element,
  * the difference is ~2× on pair-heavy plans). Downstream `explode` of the
  * result stays in whole-stage codegen, as does this via the static call.
  *
  * `minRatioBp` > 0 applies the classic similarity-join LENGTH FILTER at
  * the source: Jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose
  * size ratio is below the threshold can never qualify and is never
  * emitted — an EXACT prune (~40% of candidate pairs on a typical corpus)
  * that shrinks the pair shuffle before it exists.
  *
  * Quadratic by construction — identical cardinality to the equivalent
  * self-join. Callers in DedupOps bound bucket sizes (`maxBucket` filter
  * before this expression evaluates); as a backstop, `compute` checks the
  * pair count in Long arithmetic and fails loudly — never allocates a
  * negative/overflowed array — if an unbounded caller feeds it a bucket
  * over 65,535 docs (the largest whose pair count fits an array).
  */
case class DocPairs(child: Expression, minRatioBp: Long = 0L)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("an", LongType, nullable = false),
    StructField("j", LongType, nullable = false),
    StructField("bn", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "doc_pairs"

  override protected def nullSafeEval(input: Any): Any =
    DocPairs.compute(input.asInstanceOf[ArrayData], minRatioBp)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DocPairs.compute($c, ${minRatioBp}L)")
  override protected def withNewChildInternal(newChild: Expression): DocPairs =
    copy(child = newChild)
}

object DocPairs {
  def compute(arr: ArrayData, minRatioBp: Long): GenericArrayData = {
    val m = arr.numElements()
    // 65,535 is the documented bound: 65,536 rows' pair count
    // (2,147,450,880) still fits an Int but no JVM array/buffer of that
    // size is allocatable — a `pairs > Int.MaxValue` check passed it
    // through to an opaque executor OOM
    val pairs = m.toLong * (m - 1L) / 2L
    if (m > 65535) {
      throw new IllegalArgumentException(
        s"doc_pairs: bucket of $m rows yields $pairs pairs (exceeds array " +
          "capacity); cap bucket sizes upstream (DedupOps maxBucket)")
    }
    val ids = new Array[Long](m)
    val ns = new Array[Long](m)
    var x = 0
    while (x < m) {
      val row = arr.getStruct(x, 2)
      ids(x) = row.getLong(0)
      ns(x) = row.getLong(1)
      x += 1
    }
    val out = new ArrayBuffer[Any](if (pairs < 64L) pairs.toInt else 64)
    var a = 0
    while (a < m) {
      var b = a + 1
      while (b < m) {
        val lo = math.min(ns(a), ns(b))
        val hi = math.max(ns(a), ns(b))
        if (minRatioBp <= 0L || lo * 10000L >= minRatioBp * hi) {
          out += (new GenericInternalRow(
            Array[Any](ids(a), ns(a), ids(b), ns(b))): InternalRow)
        }
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** SimHash pair enumeration inside a blocking bucket, emitting each
  * qualifying pair EXACTLY ONCE across all buckets.
  *
  * Blocking scheme (Manku/Jain/Das Sarma, WWW'07 generalized): the 60-bit
  * code splits into `chunks` disjoint ranges; by pigeonhole any pair with
  * Hamming distance ≤ maxHamming agrees on ≥ A = chunks − maxHamming of
  * them, so blocking keys are the concatenated values of every A-subset
  * ("combo") of chunks. `chunks = maxHamming+1` (A = 1, combos = single
  * chunks) is the cheap default; LARGER `chunks` trades more rows per doc
  * (C(chunks, A) combos) for exponentially smaller buckets — the knob that
  * keeps buckets tiny on a 100-billion-doc corpus.
  *
  * Canonical-combo rule: a pair is emitted only from the FIRST combo (in
  * enumeration order) whose chunks all agree — the pair stream is globally
  * distinct, so no per-pair dedup shuffle exists. The Hamming filter runs
  * in-kernel; only final result rows leave the bucket.
  *
  * Input: array<struct<id: long, code: long>> (sorted by id) + the
  * bucket's combo index. Output: array<struct<i, j, ham>>.
  * `chunks == 1` is the degenerate all-pairs mode (maxHamming ≥ 60).
  */
case class SimhashChunkPairs(left: Expression, right: Expression,
                             chunks: Int, maxHamming: Int)
    extends BinaryExpression {
  // the kernel's own contract, enforced at PLAN time — without this an
  // out-of-contract config (1 < chunks <= maxHamming) would be clamped
  // by combos' a = max(chunks - maxHamming, 1) and SILENTLY DROP
  // qualifying pairs (the pigeonhole guarantee no longer holds: a pair
  // with ham spread across every chunk agrees on no combo); chunks > 60
  // would yield zero-width masks where every combo "agrees". DedupOps
  // guards its own layer; the expression must not return plausible wrong
  // output when used directly.
  require(maxHamming >= 0, "maxHamming must be non-negative")
  require(chunks == 1 || (chunks > maxHamming && chunks <= 60),
    s"chunks must be 1 (all-pairs mode) or in (maxHamming, 60], got $chunks")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false),
    StructField("ham", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "simhash_chunk_pairs"

  override protected def nullSafeEval(ds: Any, ck: Any): Any =
    SimhashChunkPairs.compute(ds.asInstanceOf[ArrayData],
      ck.asInstanceOf[Int], chunks, maxHamming)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ds, ck) =>
      s"graft.functions.SimhashChunkPairs.compute($ds, $ck, $chunks, $maxHamming)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimhashChunkPairs =
    copy(left = newLeft, right = newRight)
}

object SimhashChunkPairs {
  /** Per-chunk bit masks over the 60-bit code. */
  def chunkMasks(chunks: Int): Array[Long] = {
    val masks = new Array[Long](chunks)
    var k = 0
    while (k < chunks) {
      val lo = k * 60 / chunks
      val width = (k + 1) * 60 / chunks - lo
      masks(k) = ((1L << width) - 1L) << lo
      k += 1
    }
    masks
  }

  /** Cap on C(chunks, A): the blocking-row multiplier per doc AND the
    * per-pair mask scan. C(30, 20) = 30M would pass DedupOps's coarse
    * guard yet hang the driver building combos and emit 30M blocking rows
    * per doc — reject with the real constraint named.
    */
  val MaxCombos: Long = 100000L

  /** All A-subsets of chunk indices (A = chunks − maxHamming, min 1), in a
    * fixed lexicographic enumeration shared by key construction and the
    * canonical-combo rule.
    */
  def combos(chunks: Int, maxHamming: Int): Array[Array[Int]] = {
    val a = math.max(chunks - maxHamming, 1)
    var n = 1L // C(chunks, a), overflow-safe under the cap check
    var i = 0
    while (i < a && n <= MaxCombos) { n = n * (chunks - i) / (i + 1); i += 1 }
    require(n <= MaxCombos,
      s"simhash blocking would need C($chunks, $a) > $MaxCombos combos " +
        "(blocking rows per doc); lower blockingChunks or raise maxHamming")
    def rec(from: Int, left: Int): List[List[Int]] =
      if (left == 0) List(Nil)
      else (from to chunks - left).toList.flatMap(i =>
        rec(i + 1, left - 1).map(i :: _))
    rec(0, a).map(_.toArray).toArray
  }

  // comboMasks are constants of (chunks, maxHamming) — cached so the
  // kernel does not rebuild the recursive combo enumeration on EVERY
  // bucket row (the doc advertises "one tight loop per bucket")
  private val maskCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  private def comboMasksFor(chunks: Int, maxHamming: Int): Array[Long] =
    maskCache.computeIfAbsent((chunks, maxHamming), { key =>
      val masks = chunkMasks(key._1)
      combos(key._1, key._2).map(_.map(masks).reduce(_ | _))
    })

  def compute(arr: ArrayData, comboIdx: Int, chunks: Int,
              maxHamming: Int): GenericArrayData = {
    val m = arr.numElements()
    // the same capacity backstop DocPairs has — DedupOps's uncapped
    // all-pairs mode (maxHamming >= 60, one global bucket) relies on this
    // failing LOUDLY instead of an opaque executor OOM
    // same 65,535 bound as DocPairs (see there for the off-by-one story)
    if (m > 65535) {
      val pairs = m.toLong * (m - 1L) / 2L
      throw new IllegalArgumentException(
        s"simhash_chunk_pairs: bucket of $m rows yields $pairs pairs " +
          "(exceeds array capacity); cap bucket sizes upstream " +
          "(DedupOps maxBucket / avoid the uncapped all-pairs mode)")
    }
    val ids = new Array[Long](m)
    val codes = new Array[Long](m)
    var x = 0
    while (x < m) {
      val row = arr.getStruct(x, 2)
      ids(x) = row.getLong(0)
      codes(x) = row.getLong(1)
      x += 1
    }
    // a combo agrees iff xor & comboMask == 0 — masks are cached
    // constants of (chunks, maxHamming)
    val comboMasks = comboMasksFor(chunks, maxHamming)
    val out = new ArrayBuffer[Any]()
    var a = 0
    while (a < m) {
      var b = a + 1
      while (b < m) {
        val xor = codes(a) ^ codes(b)
        val ham = java.lang.Long.bitCount(xor)
        if (ham <= maxHamming) {
          var first = -1
          var q = 0
          while (first < 0 && q < comboMasks.length) {
            if ((xor & comboMasks(q)) == 0L) first = q
            q += 1
          }
          // chunks == 1: degenerate all-pairs bucket — emit unconditionally
          if (chunks == 1 || first == comboIdx) {
            out += (new GenericInternalRow(
              Array[Any](ids(a), ids(b), ham.toLong)): InternalRow)
          }
        }
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out.toArray)
  }
}
