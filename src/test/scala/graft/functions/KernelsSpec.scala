package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec
import graft.functions.{GraftFunctions => F}
import graft.ops.VectorOps

/** Kernel-level specs for `graft.functions`: the vector/ANN kernels
  * against reference left folds and clamps, their loud failure modes,
  * and the one-`compute` contract ([[Kernel]]) — interpreted and
  * generated code give the same rows, nulls and errors (for
  * [[FloatVecDot]], whose loop is still written twice, the check that
  * the two copies agree).
  */
class KernelsSpec extends SparkSpec {
  import spark.implicits._

  test("NearestCentroid matches the broadcast-join argmax on every vector") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    // reference assignment: the crossJoin + row_number form the DuckDB
    // oracle mirrors (ties -> lowest cid)
    val cent = vecs.orderBy(col("vec_id")).limit(24)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
      .filter(col("cn") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    val joined = vecs
      .withColumn("nrm", VectorOps.norm(col("embedding")))
      .filter(col("nrm") > 0)
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        VectorOps.dot(col("embedding"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    // expression assignment over the same codebook
    val seeds = cent.orderBy("cid").collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val assign = bridge.column(graft.functions.NearestCentroid(
      bridge.expression(col("embedding")),
      bridge.expression(VectorOps.norm(col("embedding"))),
      seeds.map(_._1), seeds.flatMap(_._2), seeds.map(_._3), 16))
    val expr = vecs.select(col("vec_id"), assign.as("cell"))
    val diff = expr.as("a").join(joined.as("b"), Seq("vec_id"))
      .filter(col("a.cell") =!= col("b.cell")).count()
    assert(diff == 0L, s"$diff vectors assigned to a different cell")
  }

  test("QuantizeVec bytes match the reference clamp-floor on random vectors") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 100L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4f - 2f))).toDF("id", "v")
    val maxAbs = 2.0 // fixture range; deliberately NOT the corpus max so the clamp fires
    val qscale = 127.0 / maxAbs
    val got = vecs.select(col("id"), VectorOps.quantizeInt8(col("v"), qscale).as("qv"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toMap
    vecs.collect().foreach { r =>
      val exp = r.getSeq[Float](1).map { x =>
        math.max(-127.0, math.min(127.0, math.floor(x.toDouble * qscale))).toByte
      }.toArray
      assert(got(r.getLong(0)).sameElements(exp), s"row ${r.getLong(0)}")
    }
  }

  test("int8 dot kernels match reference left folds; length mismatch is loud") {
    val rnd = new scala.util.Random(13)
    val rows = (0L until 50L).map { i =>
      val f = Array.fill(16)(rnd.nextFloat() * 2f - 1f)
      val q = Array.fill(16)((rnd.nextInt(255) - 127).toByte)
      (i, q, f)
    }
    val df = rows.toDF("id", "q", "f")
    val got = df.select(col("id"),
        VectorOps.int8Dot(col("q"), col("q")).as("qq"),
        VectorOps.int8FloatDot(col("q"), col("f")).as("qf"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    rows.foreach { case (i, q, f) =>
      val qq = q.foldLeft(0.0)((a, b) => a + b.toDouble * b.toDouble)
      val qf = q.zip(f).foldLeft(0.0)((a, p) => a + p._1.toDouble * p._2.toDouble)
      assert(got(i)._1 == qq && got(i)._2 == qf, s"row $i") // bit-exact, not approx
    }
    val bad = Seq((1L, Array[Byte](1, 2, 3), Array(1f, 2f))).toDF("id", "q", "f")
    val e = intercept[Exception] {
      bad.select(VectorOps.int8FloatDot(col("q"), col("f"))).collect()
    }
    assert(e.getMessage.contains("length mismatch")
      || e.getCause != null && e.getCause.getMessage.contains("length mismatch"))
  }

  test("sqScale and QuantizeVec fail loudly on degenerate input") {
    intercept[IllegalArgumentException] {
      graft.functions.QuantizeVec(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("v")), 0.0)
    }
    val zeros = Seq((1L, Array(0f, 0f))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      VectorOps.sqScale(zeros, "v")
    }
  }

  test("codegen'd ABI/Borsh decode matches eval semantics incl. allowFail nulls") {
    import graft.functions.GraftFunctions
    // Transfer(from indexed, to indexed, value): row 1 valid, row 2 has
    // truncated data — allowFail=true must null the struct, not throw
    val a1 = Array.tabulate[Byte](32)(i => if (i >= 12) (i + 1).toByte else 0)
    val a2 = Array.tabulate[Byte](32)(i => if (i >= 12) (i + 7).toByte else 0)
    val amount = { val b = new Array[Byte](32); b(31) = 42; b }
    val rows = Seq(
      (1L, a1, a2, amount),
      (2L, a1, a2, Array[Byte](1, 2, 3))
    ).toDF("id", "t1", "t2", "data")
    val dec = GraftFunctions.evm_decode_event(
      "Transfer(address indexed from, address indexed to, uint32 value)",
      col("t1"), col("t2"), lit(null).cast("binary"), col("data"),
      allowFail = true)
    val got = rows.select(col("id"), dec.as("e"))
      .select(col("id"), col("e.value").as("v")).orderBy("id").collect()
    assert(got(0).getLong(1) == 42L, "valid row must decode through codegen")
    assert(got(1).isNullAt(1), "allowFail row must null, not throw, in codegen")
    // Borsh: u64 LE amount after an 8-byte discriminator
    val disc = "0102030405060708"
    val ok = Hex.decodeHex(disc) ++ Array[Byte](9, 0, 0, 0, 0, 0, 0, 0)
    val badDisc = Array.fill[Byte](8)(0) ++ Array[Byte](9, 0, 0, 0, 0, 0, 0, 0)
    val brows = Seq((1L, ok), (2L, badDisc)).toDF("id", "data")
    val bdec = GraftFunctions.svm_decode_instruction(disc, "amount:u64",
      col("data"), allowFail = true)
    val bgot = brows.select(col("id"), bdec.as("e"))
      .select(col("id"), col("e.amount").as("a")).orderBy("id").collect()
    assert(bgot(0).getDecimal(1).longValueExact == 9L)
    assert(bgot(1).isNullAt(1), "discriminator mismatch must null under allowFail")
  }

  private object Hex {
    def decodeHex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  test("NearestCentroid fails loudly on a malformed codebook") {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val v = bridge.expression(col("embedding"))
    val n = bridge.expression(lit(1.0))
    intercept[IllegalArgumentException] { // unsorted cids break the tie rule
      graft.functions.NearestCentroid(v, n,
        Array(2L, 1L), Array.fill(4)(1f), Array(1.0, 1.0), 2)
    }
    intercept[IllegalArgumentException] { // zero-norm centroid
      graft.functions.NearestCentroid(v, n,
        Array(1L, 2L), Array.fill(4)(1f), Array(1.0, 0.0), 2)
    }
    intercept[IllegalArgumentException] { // flat length != k * dim
      graft.functions.NearestCentroid(v, n,
        Array(1L, 2L), Array.fill(3)(1f), Array(1.0, 1.0), 2)
    }
  }

  // --- one compute per kernel: interpreted ≡ generated ----------------------

  /** One kernel's projection over the fixture, and optionally a
    * projection over the malformed row that must fail with `errText`.
    */
  private case class KernelCase(name: String, out: Column,
                                err: Option[(Column, String)] = None)

  private def rootMessage(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage

  private def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("interpreted and generated kernels agree on rows, nulls and errors") {
    val disc = "f8c6"
    val sjis = new String("日本語".getBytes("windows-31j"), "ISO-8859-1")
    def fs(xs: Option[Float]*): Seq[Option[Float]] = xs
    // row 2 is null in every column; rows 3-4 carry null elements, a
    // non-byte view, an unknown charset and undecodable instructions
    val rows = Seq(
      (1L, fs(Some(1.5f), Some(-2.25f), Some(0.5f)), fs(Some(0.25f), Some(4f), Some(-1f)),
        Array[Byte](1, -2, 3), Array[Byte](4, 5, -6), Option(2.0), sjis, "shift_jis",
        Array[Byte](0xf8.toByte, 0xc6.toByte, 9, 0, 0, 0, 0, 0, 0, 0)),
      (2L, null, null, null, null, None, null, null, null),
      (3L, fs(Some(1f), None, Some(2f)), fs(None, Some(3f), Some(0.5f)),
        Array[Byte](127, -127, 0), Array[Byte](-1, -1, -1), Option(0.5), "\u4e00", "utf-8",
        Array[Byte](0, 0, 9, 0, 0, 0, 0, 0, 0, 0)),
      (4L, fs(Some(0f), Some(-0.75f), Some(3f)), fs(Some(1f), Some(1f), Some(1f)),
        Array[Byte](0, 0, 0), Array[Byte](1, 2, 3), Option(3.0), "abc", "no-such-charset",
        Array[Byte](0xf8.toByte, 0xc6.toByte, 1)))
    // localCheckpoint: a LocalRelation would be folded at plan time by
    // interpreted eval in both modes
    val fixture = rows.toDF("id", "v", "w", "q", "r", "nrm", "view", "cs", "data")
      .localCheckpoint()
    val bad = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f), Array[Byte](1, 2), Array[Byte](1),
        1.0, Array[Byte](0, 0)))
      .toDF("v", "w", "q", "r", "nrm", "data").localCheckpoint()
    def e(c: String) = Bridge.expression(col(c))
    def centroid(v: String, nrm: String) = Bridge.column(NearestCentroid(e(v), e(nrm),
      Array(3L, 7L), Array(1f, 0f, 0f, 0f, 1f, 1f), Array(1.0, math.sqrt(2.0)), 3))
    def pq(v: String) = Bridge.column(PqEncode(e(v),
      Array(1f, -1f, 0.5f, 2f, 0f, 3f), Array(1.0, 1.0, 0.25, 4.0, 0.0, 9.0), 3, 2, 1))
    val cases = Seq(
      KernelCase("float_vec_dot", VectorOps.dot(col("v"), col("w")),
        Some(VectorOps.dot(col("v"), col("w")) -> "length mismatch 2 vs 3")),
      KernelCase("quantize_vec", VectorOps.quantizeInt8(col("v"), 42.5)),
      KernelCase("int8_vec_dot", VectorOps.int8Dot(col("q"), col("r")),
        Some(VectorOps.int8Dot(col("q"), col("r")) -> "length mismatch 2 vs 1")),
      KernelCase("int8_float_vec_dot", VectorOps.int8FloatDot(col("q"), col("w")),
        Some(VectorOps.int8FloatDot(col("q"), col("w")) -> "length mismatch 2 vs 3")),
      KernelCase("nearest_centroid", centroid("v", "nrm"),
        Some(centroid("v", "nrm") -> "vector length 2 != codebook dim 3")),
      KernelCase("pq_encode", pq("v"), Some(pq("v") -> "vector length 2 != 3")),
      KernelCase("decode_charset",
        Bridge.column(DecodeCharset(e("view"), e("cs")))),
      KernelCase("svm_decode_instruction",
        F.svm_decode_instruction(disc, "amount:u64", col("data"), allowFail = true),
        Some(F.svm_decode_instruction(disc, "amount:u64", col("data")) ->
          "discriminator mismatch")))
    val interpreted = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val generated = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false")
    def run(c: KernelCase, wholeStage: Boolean): (Seq[Row], Option[String]) = {
      val df = fixture.select(col("id"), c.out.as("k"))
      val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty == wholeStage, s"${c.name}: ${df.queryExecution.executedPlan}")
      val out = df.collect().sortBy(_.getLong(0)).toSeq
      val err = c.err.map { case (k, text) =>
        val msg = rootMessage(intercept[Exception](bad.select(k).collect()))
        assert(msg.contains(text), s"${c.name}: $msg")
        msg
      }
      (out, err)
    }
    cases.foreach { c =>
      val viaEval = withConfs(interpreted)(run(c, wholeStage = false))
      val viaCodegen = withConfs(generated)(run(c, wholeStage = true))
      assert(viaEval == viaCodegen, c.name)
      assert(viaEval._1.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L), c.name)
      assert(viaEval._1(1).isNullAt(1), s"${c.name}: a null row gives NULL")
    }
  }
}
