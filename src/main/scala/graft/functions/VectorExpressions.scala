package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Left-fold dot product of two Array[Float] columns in double precision —
  * the hot kernel of every similarity/ANN operator (ops/VectorOps).
  *
  * Why a custom expression: Spark's higher-order functions
  * (`aggregate(zip_with(...))`) are CodegenFallback and allocate a lambda
  * frame per element — ~50× slower on a 64-dim dot product evaluated
  * millions of times in a pair join. This expression compiles to a tight
  * primitive loop inside whole-stage codegen (`doGenCode`), keeping the
  * similarity join fully codegen'd at 100 TB scale.
  *
  * Semantics are IDENTICAL to the HOF form and to DuckDB's
  * `list_reduce(list_transform(...), +)`: per-index float→double widening,
  * strict left-to-right IEEE addition starting at 0.0 — bit-exact results
  * for the oracle compare. Null elements are treated as 0 contribution
  * (embeddings carry no null elements; documented engine contract).
  *
  * The one kernel here whose loop is written into the generated code
  * instead of called as a static [[Kernel]] `compute`: as a static call
  * the JIT often left it un-inlined in real plans (one call site shared
  * by UnsafeArrayData, ColumnarArray and GenericArrayData inputs), and
  * x25/x65/x66 ran slower at sf0.1.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // loud on length mismatch: a silent min() would hand corrupted or
    // mixed-model embeddings a plausible partial dot product — confident
    // wrong similarity scores are strictly worse than a failed job
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"float_vec_dot: length mismatch ${x.numElements()} vs ${y.numElements()}")
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "float_vec_dot: length mismatch " + $x.numElements() + " vs " + $y.numElements());
         |}
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Symmetric int8 scalar quantization of an Array[Float] vector into a
  * BINARY column — the storage kernel of the quantized ANN path. A float32
  * corpus embedding column is 4 bytes/dim; at 100 TB of embeddings the
  * index either quantizes or doesn't fit. Output is one signed byte per
  * component: `clamp(floor(x·qscale), -127, 127)` with `qscale =
  * 127/max|x|` derived from one corpus aggregate — 4× smaller, and as a
  * flat BinaryType the bytes are contiguous (no per-element ArrayData
  * overhead in the shuffle or the probe loop).
  *
  * Every step is engine-exact so a SQL oracle reproduces the bytes: x·qscale
  * is ONE IEEE double multiply on exact inputs (float widens losslessly),
  * floor of it is engine-independent, and the clamp compares doubles — the
  * same `greatest(-127, least(127, floor(x*qscale)))` any engine computes.
  * Clamping is symmetric at ±127 (not -128): the quantized domain stays
  * negation-closed, and with qscale = 127/max|x| the clamp only fires on
  * the max-magnitude component itself (x·qscale = ±127 ± 1 ulp). Null
  * elements quantize to 0 (same no-null-elements contract as the dots).
  */
case class QuantizeVec(child: Expression, qscale: Double)
    extends UnaryKernel {
  require(qscale > 0 && !qscale.isInfinite && !qscale.isNaN,
    s"quantize_vec: qscale must be a positive finite double (got $qscale)")

  override protected def inputType: DataType = ArrayType(FloatType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "quantize_vec"

  override protected def nullSafeEval(a: Any): Any =
    QuantizeVec.compute(a.asInstanceOf[ArrayData], qscale)
  override protected def computeCall(ctx: CodegenContext): String => String =
    c => s"graft.functions.QuantizeVec.compute($c, $qscale)"

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

object QuantizeVec {
  def compute(x: ArrayData, qscale: Double): Array[Byte] = {
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val q = Math.max(-127.0, Math.min(127.0,
          Math.floor(x.getFloat(i).toDouble * qscale)))
        out(i) = q.toByte
      }
      i += 1
    }
    out
  }
}

/** Left-fold dot product of two int8-quantized BINARY vectors in double —
  * `sqrt(int8_vec_dot(q,q))/qscale` is the quantized-index norm the ADC
  * probe divides by. Byte products are exact small ints (≤ 127²) widened
  * to double, summed left-to-right from 0.0 — the identical sequence a SQL
  * engine folds over the quantized list, so norms are bit-exact. Length
  * mismatch fails loudly (same contract as float_vec_dot).
  */
case class Int8VecDot(left: Expression, right: Expression)
    extends BinaryKernel {
  override protected def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int8_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Int8VecDot.compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8VecDot =
    copy(left = newLeft, right = newRight)
}

object Int8VecDot {
  def compute(x: Array[Byte], y: Array[Byte]): Double = {
    if (x.length != y.length)
      throw new IllegalArgumentException(
        s"int8_vec_dot: length mismatch ${x.length} vs ${y.length}")
    var acc = 0.0
    var i = 0
    while (i < x.length) {
      acc += x(i).toDouble * y(i).toDouble
      i += 1
    }
    acc
  }
}

/** Asymmetric distance kernel: int8-quantized BINARY corpus vector ×
  * full-precision Array[Float] query — the ADC scoring loop of quantized
  * IVF (Jégou et al., IVFADC: the query side keeps full precision, only
  * the stored corpus side pays quantization error). Per term ONE double
  * multiply of a signed byte against a widened float, left-folded from
  * 0.0 — mirrorable op-for-op by a SQL engine, so the probe ranks are
  * oracle-exact. The caller divides by qscale once at the end
  * (dequantizing the SUM, not each term — fewer ops, same exactness).
  */
case class Int8FloatVecDot(left: Expression, right: Expression)
    extends BinaryKernel {
  override protected def inputTypes: Seq[DataType] =
    Seq(BinaryType, ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int8_float_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Int8FloatVecDot.compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object Int8FloatVecDot {
  def compute(x: Array[Byte], y: ArrayData): Double = {
    if (x.length != y.numElements())
      throw new IllegalArgumentException(
        s"int8_float_vec_dot: length mismatch ${x.length} vs ${y.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < x.length) {
      if (!y.isNullAt(i)) acc += x(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}

/** Argmax-cosine cell assignment against a DRIVER-HELD codebook — the
  * kernel that keeps corpus-proportional clustering (SemDeDup at scale)
  * off the quadratic row-explosion path. A `crossJoin(broadcast(cent))`
  * assignment materializes n×k scored rows before any aggregate can
  * collapse them; with k ∝ n (the sizing that keeps cells constant) that
  * intermediate is n²/perCell rows and dominated the x65 decade
  * measurement (3.0× per sf2 doubling). This expression evaluates the
  * same k cosines as one tight loop over a plan-embedded float
  * matrix — one output row per vector, zero extra rows, O(k·dim) flops
  * per row that 32 cores chew through in milliseconds at fixture scale.
  *
  * Literal-tree alternative rejected: `array_max(array(k structs))` (the
  * k-means trainer's shape, fine at k=8) emits k·dim literal nodes —
  * hundreds of thousands of constants at k≈10³ — which overflows the
  * generated method/constant-pool budget and falls back to interpreted.
  * Here the codebook is ONE reference object (`ctx.addReferenceObj`), so
  * generated code size is independent of k.
  *
  * Semantics are bit-identical to the join form the DuckDB oracle
  * mirrors: cos = leftFoldDot(vec, cent_c) / (nrm · cn_c) in IEEE double,
  * winner = highest cos, ties → LOWEST cid (enforced by ascending-cid
  * iteration with a strict `>`). Constructor demands ascending cids,
  * positive norms, and a consistent dim, so a malformed codebook fails at
  * plan time, not as silently wrong cells.
  */
case class NearestCentroid(left: Expression, right: Expression,
                           cids: Array[Long], flat: Array[Float],
                           cns: Array[Double], dim: Int)
    extends BinaryKernel {
  require(cids.nonEmpty, "nearest_centroid: empty codebook")
  require(dim > 0, s"nearest_centroid: dim must be positive (got $dim)")
  require(flat.length == cids.length * dim,
    s"nearest_centroid: flat codebook length ${flat.length} != " +
      s"${cids.length} centroids * $dim dims")

  // structural equality over the Array params (case-class equality on
  // arrays is REFERENCE equality): without this, two expressions built
  // from the same codebook never compare equal and Catalyst's
  // semanticEquals-based reuse (CSE, project collapsing) is defeated.
  // The params stay primitive arrays — an IndexedSeq would box every
  // access in the per-row argmax loop.
  override def equals(o: Any): Boolean = o match {
    case that: NearestCentroid =>
      left == that.left && right == that.right && dim == that.dim &&
        java.util.Arrays.equals(cids, that.cids) &&
        java.util.Arrays.equals(flat, that.flat) &&
        java.util.Arrays.equals(cns, that.cns)
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(
    left, right, Integer.valueOf(dim),
    Integer.valueOf(java.util.Arrays.hashCode(cids)),
    Integer.valueOf(java.util.Arrays.hashCode(flat)),
    Integer.valueOf(java.util.Arrays.hashCode(cns)))
  require(cns.length == cids.length,
    s"nearest_centroid: ${cns.length} norms for ${cids.length} centroids")
  require(cns.forall(_ > 0),
    "nearest_centroid: zero/negative-norm centroid (filter before building)")
  require(cids.zip(cids.tail).forall { case (a, b) => a < b },
    "nearest_centroid: cids must be strictly ascending (tie rule = lowest cid)")

  override protected def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NearestCentroid.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Double],
      cids, flat, cns, dim)
  override protected def computeCall(ctx: CodegenContext): (String, String) => String = {
    val cidsRef = ctx.addReferenceObj("ncCids", cids, "long[]")
    val flatRef = ctx.addReferenceObj("ncFlat", flat, "float[]")
    val cnsRef = ctx.addReferenceObj("ncCns", cns, "double[]")
    (x, nrm) => s"graft.functions.NearestCentroid.compute(" +
      s"$x, $nrm, $cidsRef, $flatRef, $cnsRef, $dim)"
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {
  def compute(x: ArrayData, nrm: Double, cids: Array[Long], flat: Array[Float],
              cns: Array[Double], dim: Int): Long = {
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"nearest_centroid: vector length ${x.numElements()} != codebook dim $dim")
    var best = Double.NegativeInfinity
    var bestId = cids(0)
    var c = 0
    while (c < cids.length) {
      var acc = 0.0
      val off = c * dim
      var i = 0
      while (i < dim) {
        if (!x.isNullAt(i)) acc += x.getFloat(i).toDouble * flat(off + i).toDouble
        i += 1
      }
      val cos = acc / (nrm * cns(c))
      if (cos > best) { best = cos; bestId = cids(c) }
      c += 1
    }
    bestId
  }
}

/** PQ encoder: one pass over an Array[Float] vector producing its `m`
  * product-quantization codes — `code_s = argmin_j (|x_s|² − 2·x_s·c +
  * |c|²)` over subspace `s`'s `ksub` codewords, ties → lowest code. The
  * composed-expression form (per-codeword `slice`+dot structs inside
  * `array_min`) evaluates the subvector slice per codeword; this kernel
  * reads the input ArrayData once per subspace and keeps the whole argmin
  * in two registers — the encode loop an index BUILD runs over the full
  * corpus, so it must be one tight loop inside codegen, not 4×16 array
  * allocations per row.
  *
  * Arithmetic is BIT-IDENTICAL to the composed form (and so to the
  * DuckDB oracle): per-element products in double, left folds in index
  * order, `(xs2 − dot·2) + cn2` association, ascending-`j` strict-`<`
  * argmin (= array_min's keep-first tie rule). Null elements are skipped
  * in both folds, matching FloatVecDot pair-skip semantics.
  */
case class PqEncode(child: Expression, flat: Array[Float],
                    cn2: Array[Double], m: Int, ksub: Int, dsub: Int)
    extends UnaryKernel {
  require(m > 0 && ksub > 0 && dsub > 0, "pq_encode: m, ksub, dsub must be positive")
  require(flat.length == m * ksub * dsub,
    s"pq_encode: flat codebook length ${flat.length} != $m*$ksub*$dsub")
  require(cn2.length == m * ksub,
    s"pq_encode: ${cn2.length} codeword norms for ${m * ksub} codewords")

  // structural equality over the Array params — same rationale as
  // NearestCentroid (reference equality defeats Catalyst expression reuse)
  override def equals(o: Any): Boolean = o match {
    case that: PqEncode =>
      child == that.child && m == that.m && ksub == that.ksub &&
        dsub == that.dsub &&
        java.util.Arrays.equals(flat, that.flat) &&
        java.util.Arrays.equals(cn2, that.cn2)
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(
    child, Integer.valueOf(m), Integer.valueOf(ksub), Integer.valueOf(dsub),
    Integer.valueOf(java.util.Arrays.hashCode(flat)),
    Integer.valueOf(java.util.Arrays.hashCode(cn2)))

  override protected def inputType: DataType = ArrayType(FloatType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(a: Any): Any =
    PqEncode.compute(a.asInstanceOf[ArrayData], flat, cn2, m, ksub, dsub)
  override protected def computeCall(ctx: CodegenContext): String => String = {
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "float[]")
    val cn2Ref = ctx.addReferenceObj("pqCn2", cn2, "double[]")
    c => s"graft.functions.PqEncode.compute($c, $flatRef, $cn2Ref, $m, $ksub, $dsub)"
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  def compute(x: ArrayData, flat: Array[Float], cn2: Array[Double],
              m: Int, ksub: Int, dsub: Int): GenericArrayData = {
    if (x.numElements() != m * dsub)
      throw new IllegalArgumentException(
        s"pq_encode: vector length ${x.numElements()} != ${m * dsub}")
    val codes = new Array[Int](m)
    // the subspace's components, read once per subspace rather than once
    // per codeword; a null element stays skipped in both folds
    val xs = new Array[Double](dsub)
    val present = new Array[Boolean](dsub)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var xs2 = 0.0
      var i = 0
      while (i < dsub) {
        present(i) = !x.isNullAt(base + i)
        if (present(i)) {
          val v = x.getFloat(base + i).toDouble
          xs(i) = v
          xs2 += v * v
        }
        i += 1
      }
      var best = Double.PositiveInfinity
      var bestJ = 0
      var j = 0
      while (j < ksub) {
        val off = (s * ksub + j) * dsub
        var dot = 0.0
        var k = 0
        while (k < dsub) {
          if (present(k)) dot += xs(k) * flat(off + k).toDouble
          k += 1
        }
        val d2 = xs2 - dot * 2 + cn2(s * ksub + j)
        if (d2 < best) { best = d2; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new GenericArrayData(codes)
  }
}
