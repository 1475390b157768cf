package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document top-n-gram statistics as ONE narrow kernel (r20,
  * optimization guide §2.3 "shuffle fewer bytes" + §2.4 "remove shuffles
  * outright"): the Gopher repetition family (x97) needs, per document
  * and n ∈ [minN, maxN], the most frequent positional word n-gram (ties
  * broken by the lexicographically smallest gram — binary UTF-8 order,
  * the cross-engine rule) and the duplicated-gram character mass
  * `Σ_{grams with cnt ≥ 2} cnt · numChars(gram)`.
  *
  * The previous plan exploded corpus × (maxN−minN+1) positional gram
  * STRINGS through two keyed exchanges (gram-count agg, then the argmax
  * agg) — every byte of every 2..10-gram of every document crossed the
  * shuffle twice for a result that is a pure per-row function of the
  * document. This kernel computes the same numbers in one pass over the
  * token array: zero exchanges, output 9 small structs per document.
  *
  * Value contract (mirrors the x97 DuckDB oracle exactly):
  *   - tokenization is the caller's `split(text, ' ')` semantics
  *     (`String.split(" ", -1)` — trailing empties kept);
  *   - grams are positional (occurrence-counted), single-space joined;
  *   - tie rule: among max-count grams the smallest by CODE POINT order
  *     (= UTF-8 byte order = Spark UTF8String / DuckDB default order —
  *     NOT Java String UTF-16 order, which disagrees above U+FFFF);
  *   - `glen` is the gram's code-point count (Spark `length()`);
  *   - an n with zero grams (doc shorter than n tokens) emits no entry.
  *
  * Output: array<struct<n:long, g:string, cnt:long, glen:long,
  * dupc:long>>, ascending n. Null text → null.
  */
case class TopNgramStats(child: Expression, minN: Int, maxN: Int)
    extends UnaryKernel {
  require(minN >= 1 && minN <= maxN,
    s"need 1 <= minN <= maxN (got $minN..$maxN)")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("g", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("glen", LongType, nullable = false),
    StructField("dupc", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "top_ngram_stats"
  override protected def inputType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    TopNgramStats.compute(input.asInstanceOf[UTF8String], minN, maxN)

  override protected def computeCall(ctx: CodegenContext): String => String =
    c => s"graft.functions.TopNgramStats.compute($c, $minN, $maxN)"

  override protected def withNewChildInternal(
      newChild: Expression): TopNgramStats = copy(child = newChild)
}

object TopNgramStats {

  /** Code-point order compare — identical to comparing the two strings'
    * UTF-8 byte sequences (what Spark's UTF8String ordering and DuckDB's
    * default collation both do). Java String.compareTo is UTF-16
    * code-UNIT order, which sorts supplementary characters (≥ U+10000)
    * BEFORE U+E000..U+FFFF — the one divergence this exists to avoid.
    */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  def compute(input: UTF8String, minN: Int, maxN: Int): GenericArrayData = {
    // VALID-UTF-8 input assumption (ADVICE r20 #3): toString replaces
    // ill-formed byte sequences with U+FFFD, so two byte-distinct grams
    // of NON-UTF-8 data could collapse into one key here while the
    // byte-exact aggregation form (and the DuckDB oracle) keeps them
    // apart. Every caller feeds decoded text (the charset tier runs
    // first), where the two views are identical; route raw bytes through
    // DecodeCharset before this kernel, never directly into it.
    val words = input.toString.split(" ", -1)
    val t = words.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](maxN - minN + 1)
    val counts = new java.util.HashMap[String, Array[Long]]()
    val sb = new java.lang.StringBuilder
    var n = minN
    while (n <= maxN) {
      if (t >= n) {
        counts.clear()
        var p = 0
        val end = t - n
        while (p <= end) {
          sb.setLength(0)
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(words(p + k))
            k += 1
          }
          val g = sb.toString
          val c = counts.get(g)
          if (c == null) counts.put(g, Array(1L))
          else c(0) += 1L
          p += 1
        }
        // argmax by (cnt desc, gram code-point order asc) + the dup mass
        var topG: String = null
        var topCnt = 0L
        var dupc = 0L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val g = e.getKey
          val cnt = e.getValue()(0)
          if (cnt >= 2L) dupc += cnt * g.codePointCount(0, g.length)
          if (cnt > topCnt || (cnt == topCnt && cpCompare(g, topG) < 0)) {
            topG = g
            topCnt = cnt
          }
        }
        out += InternalRow(n.toLong, UTF8String.fromString(topG), topCnt,
          topG.codePointCount(0, topG.length).toLong, dupc)
      }
      n += 1
    }
    new GenericArrayData(out.toArray)
  }
}
