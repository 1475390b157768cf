package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct n-gram shingle expressions — the hot tokenization kernels of
  * the dedup/fingerprint operators (ops/TextOps, ops/DedupOps).
  *
  * Why custom expressions: the built-in composition
  * `array_distinct(transform(sequence(...), i -> substr/concat...))` runs an
  * interpreted lambda per element (HOFs are CodegenFallback) — hundreds of
  * expression-tree evals per document. These evaluate one tight Scala loop
  * per row, and `doGenCode` emits a static call so the surrounding stage
  * stays inside whole-stage codegen (an interpreted expression would
  * demote the entire stage to interpreted rows). Output element SETS are
  * identical to the HOF form (first-occurrence distinct order; consumers
  * either sort, min, or join — order-insensitive).
  */

/** Distinct character n-grams of a string: charShingles(text, n). */
case class CharNGrams(child: Expression, n: Int) extends UnaryKernel {
  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"
  override protected def inputType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    CharNGrams.compute(input.asInstanceOf[UTF8String], n)
  override protected def computeCall(ctx: CodegenContext): String => String =
    c => s"graft.functions.CharNGrams.compute($c, $n)"
  override protected def withNewChildInternal(newChild: Expression): CharNGrams =
    copy(child = newChild)
}

object CharNGrams {
  def compute(input: UTF8String, n: Int): GenericArrayData = {
    val s = input.toString
    // code-POINT shingling: slicing by UTF-16 unit would split a
    // supplementary character (emoji) into lone surrogates, which encode
    // as '?' on UTF-8 output — shingle sets would diverge from the
    // substr-based HOF form and the DuckDB oracle on any non-BMP text,
    // and distinct emoji would collapse into identical '?' shingles
    val cpCount = s.codePointCount(0, s.length)
    if (cpCount < n) new GenericArrayData(Array.empty[Any])
    else {
      // char offset of each code point start, plus the end sentinel
      val starts = new Array[Int](cpCount + 1)
      var ci = 0
      var off = 0
      while (ci < cpCount) {
        starts(ci) = off
        off = s.offsetByCodePoints(off, 1)
        ci += 1
      }
      starts(cpCount) = s.length
      val seen = new mutable.LinkedHashSet[String]
      var i = 0
      val end = cpCount - n
      while (i <= end) {
        seen += s.substring(starts(i), starts(i + n))
        i += 1
      }
      new GenericArrayData(seen.iterator.map(UTF8String.fromString).toArray[Any])
    }
  }
}

/** Bottom-k sketch: the k lexicographically-smallest md5 hex digests of the
  * input strings, concatenated — the whole fingerprint kernel as one
  * shuffle-free per-row eval (explode+agg would shuffle each document's
  * full row k-hundred times). Hex form matches Spark's `md5()` builtin and
  * DuckDB's `md5()` exactly.
  */
case class Md5BottomK(child: Expression, k: Int) extends UnaryKernel {
  require(k > 0, "k must be positive")
  override def dataType: DataType = StringType
  override def prettyName: String = "md5_bottom_k"
  override protected def inputType: DataType = ArrayType(StringType)

  override protected def nullSafeEval(input: Any): Any =
    Md5BottomK.compute(input.asInstanceOf[ArrayData], k)
  override protected def computeCall(ctx: CodegenContext): String => String =
    c => s"graft.functions.Md5BottomK.compute($c, $k)"
  override protected def withNewChildInternal(newChild: Expression): Md5BottomK =
    copy(child = newChild)
}

object Md5BottomK {
  // per-thread digest: MessageDigest.getInstance does a JCA provider
  // lookup — once per ROW on the fingerprint hot path adds up; digest()
  // resets the instance, so no explicit reset is needed
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(arr: ArrayData, k: Int): UTF8String = {
    val n = arr.numElements()
    val md = localMd.get()
    // bounded size-k insertion (k is typically 4): sorting ALL of a
    // document's digests to keep the k smallest is O(n log n) per row
    // where O(n·k) suffices. `top(0..size)` stays sorted ascending;
    // duplicate digests are kept, matching the sorted.take(k) semantics.
    val top = new Array[String](k)
    var size = 0
    var i = 0
    while (i < n) {
      // null elements carry no shingle: skipped, not an NPE mid-codegen
      if (!arr.isNullAt(i)) {
        // Hex.encode is THE canonical lowercase codec — a second inline
        // hex loop here could drift from it
        val h = Hex.encode(md.digest(arr.getUTF8String(i).getBytes))
        if (size < k || h.compareTo(top(size - 1)) < 0) {
          var j = if (size < k) size else k - 1
          while (j > 0 && top(j - 1).compareTo(h) > 0) {
            top(j) = top(j - 1)
            j -= 1
          }
          top(j) = h
          if (size < k) size += 1
        }
      }
      i += 1
    }
    val out = new java.lang.StringBuilder(32 * size)
    var t = 0
    while (t < size) { out.append(top(t)); t += 1 }
    UTF8String.fromString(out.toString)
  }
}

/** Distinct word n-grams (single-space joined) of a whitespace-tokenized
  * string: wordShingles(text, n). Tokenization matches `split(text, ' ')`.
  */
case class WordNGrams(child: Expression, n: Int) extends UnaryKernel {
  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override protected def inputType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    WordNGrams.compute(input.asInstanceOf[UTF8String], n)
  override protected def computeCall(ctx: CodegenContext): String => String =
    c => s"graft.functions.WordNGrams.compute($c, $n)"
  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

object WordNGrams {
  def compute(input: UTF8String, n: Int): GenericArrayData = {
    val words = input.toString.split(" ", -1)
    if (words.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new mutable.LinkedHashSet[String]
      val sb = new java.lang.StringBuilder
      var i = 0
      val end = words.length - n
      while (i <= end) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(words(i + k))
          k += 1
        }
        seen += sb.toString
        i += 1
      }
      new GenericArrayData(seen.iterator.map(UTF8String.fromString).toArray[Any])
    }
  }
}
