package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec
import graft.functions.{GraftFunctions => F}

/** Golden-vector tests mirroring the reference's
  * `tests/test_steps.py` (base58 vs the python `base58` lib semantics,
  * Anchor discriminator vectors at test_steps.py:161-163) plus public
  * Keccak/ABI known-answer vectors.
  */
class FunctionsSpec extends SparkSpec {

  private def hexStr(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  // --- keccak256 (public known-answer vectors) -----------------------------

  test("keccak256 known vectors") {
    assert(hexStr(Keccak.hash256(Array.emptyByteArray)) ==
      "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
    assert(hexStr(Keccak.hash256("abc".getBytes("UTF-8"))) ==
      "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")
    // rate-boundary input (136 bytes = exactly one block before padding)
    assert(hexStr(Keccak.hash256(Array.fill[Byte](136)(0x61))).length == 64)
  }

  test("evm_topic0 canonicalizes human signatures (erc20_custom.py:115)") {
    val transfer = "Transfer(address indexed from, address indexed to, uint256 amount)"
    assert(Abi.parseEvent(transfer).canonical == "Transfer(address,address,uint256)")
    assert(hexStr(Keccak.topic0(transfer)) ==
      "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
    assert(hexStr(Keccak.topic0("Approval(address indexed owner, address indexed spender, uint256 value)")) ==
      "8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925")
  }

  test("DocPairs overflow guard rejects buckets whose pair count exceeds Int") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val big = new GenericArrayData(Array.tabulate[Any](70000)(i =>
      new GenericInternalRow(Array[Any](i.toLong, 0L))))
    val err = intercept[IllegalArgumentException](DocPairs.compute(big, 0L))
    assert(err.getMessage.contains("cap bucket sizes"))
  }

  test("DocPairs length filter prunes exactly the under-ratio pairs") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // sizes 10, 20, 100: at ratio 0.5 only (10,20) qualifies
    val bucket = new GenericArrayData(Array[Any](
      new GenericInternalRow(Array[Any](1L, 10L)),
      new GenericInternalRow(Array[Any](2L, 20L)),
      new GenericInternalRow(Array[Any](3L, 100L))))
    assert(DocPairs.compute(bucket, 0L).numElements() == 3)
    val filtered = DocPairs.compute(bucket, 5000L)
    assert(filtered.numElements() == 1)
    assert(filtered.getStruct(0, 4).getLong(0) == 1L &&
      filtered.getStruct(0, 4).getLong(2) == 2L)
  }

  test("SimhashChunkPairs emits each pair once, from its first agreeing chunk") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // maxHamming=3 → 4 chunks of 15 bits. Codes: a=0, b differs in bit 0
    // (chunk 0), c differs from a in bits 20,35,50 (chunks 1,2,3).
    val a = 0L
    val b = 1L
    val c = (1L << 20) | (1L << 35) | (1L << 50)
    def bucket(rows: (Long, Long)*) = new GenericArrayData(
      rows.map { case (id, code) =>
        new GenericInternalRow(Array[Any](id, code)): Any }.toArray)
    // (a,b) agree first on chunk 1 (xor touches only chunk 0)
    val inChunk0 = SimhashChunkPairs.compute(bucket(1L -> a, 2L -> b), 0, 4, 3)
    assert(inChunk0.numElements() == 0)
    val inChunk1 = SimhashChunkPairs.compute(bucket(1L -> a, 2L -> b), 1, 4, 3)
    assert(inChunk1.numElements() == 1)
    assert(inChunk1.getStruct(0, 3).getLong(2) == 1L) // ham
    // (a,c) agree only on chunk 0 → emitted there, ham=3
    val ac = SimhashChunkPairs.compute(bucket(1L -> a, 3L -> c), 0, 4, 3)
    assert(ac.numElements() == 1 && ac.getStruct(0, 3).getLong(2) == 3L)
    // over-distance pair never emitted (5 bits differ > maxHamming 3)
    val far = (1L << 1) | (1L << 2) | (1L << 3) | (1L << 4) | (1L << 5)
    assert(SimhashChunkPairs.compute(bucket(1L -> a, 2L -> far), 0, 4, 3)
      .numElements() == 0)
  }

  // --- base58 (cherry tests/test_steps.py:12-27 oracle semantics) ----------

  test("base58 golden vectors") {
    assert(Base58.encode("asd".getBytes) == "ZjVd")
    assert(Base58.encode("qwe".getBytes) == "f7WC")
    assert(Base58.encode("Hello World!".getBytes) == "2NEpo7TZRRrLZSi2U")
    assert(Base58.encode(Array[Byte](0, 0, 0x28, 0x7f, 0xb4.toByte, 0xcd.toByte)) == "11233QC4")
    assert(Base58.encode(Array.emptyByteArray) == "")
    assert(Base58.encode(Array.tabulate[Byte](32)(_.toByte)) ==
      "1thX6LZfHDZZKUs92febYZhYRcXddmzfzF2NvTkPNE")
  }

  test("base58 round-trip property (seeded random, incl. leading zeros)") {
    val rnd = new scala.util.Random(42)
    (0 until 500).foreach { _ =>
      val bytes = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(bytes)
      if (bytes.nonEmpty && rnd.nextBoolean()) bytes(0) = 0 // exercise '1' rule
      assert(Base58.decode(Base58.encode(bytes)).sameElements(bytes))
    }
  }

  test("base58 decode rejects non-alphabet chars (0, O, I, l)") {
    assert(Base58.decode("0OIl") == null)
  }

  test("base58 expressions work in a plan and in SQL") {
    import spark.implicits._
    F.register(spark)
    val df = Seq("asd", "qwe").toDF("s")
      .select(F.base58_encode(col("s").cast("binary")).as("e"))
    assert(df.as[String].collect().toSeq == Seq("ZjVd", "f7WC"))
    val viaSql = spark.sql("SELECT base58_decode(base58_encode(CAST('asd' AS BINARY))) AS b")
      .head().getAs[Array[Byte]]("b")
    assert(new String(viaSql) == "asd")
  }

  // --- anchor discriminator (cherry utils.py:5-12, golden at :161-163) -----

  test("svm_anchor_discriminator golden vectors") {
    import spark.implicits._
    val got = Seq("swap_v2", "swap").toDF("name")
      .select(F.svm_anchor_discriminator_hex(col("name")).as("d"))
      .as[String].collect().toSeq
    assert(got == Seq("2b04ed0b1ac91e62", "f8c69e91e17587c8"))
  }

  // --- hex_lower (cherry steps/hex_encode.py — lowercase + 0x prefix) ------

  test("hex_lower is lowercase and optionally prefixed") {
    import spark.implicits._
    val df = Seq(Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte, 0xef.toByte)).toDF("b")
    assert(df.select(F.hex_lower(col("b")).as("h")).as[String].head() == "0xdeadbeef")
    assert(df.select(F.hex_lower(col("b"), prefixed = false).as("h")).as[String].head() == "deadbeef")
  }

  // --- u256 ------------------------------------------------------------------

  test("u256 string round-trip and decimal overflow → null") {
    import spark.implicits._
    val big = BigInteger.valueOf(2).pow(255).toString
    val df = Seq("0", "1", "1000000000000000000", big).toDF("s")
      .select(col("s"), F.u256_from_string(col("s")).as("b"))
      .select(col("s"), F.u256_to_string(col("b")).as("rt"),
              F.u256_to_decimal(col("b")).as("d"))
    val rows = df.collect()
    rows.foreach { r => assert(r.getString(0) == r.getString(1)) }
    assert(rows.last.isNullAt(2), "2^255 exceeds DECIMAL(38) → null")
    assert(rows(2).getDecimal(2).toBigInteger == new BigInteger("1000000000000000000"))
  }

  test("u256 canonical width is 32 zero-padded bytes (byte-order comparable)") {
    import spark.implicits._
    val b = Seq("5").toDF("s").select(F.u256_from_string(col("s")).as("b"))
      .head().getAs[Array[Byte]]("b")
    assert(b.length == 32 && b(31) == 5 && b.take(31).forall(_ == 0))
  }

  // --- ABI event decode ------------------------------------------------------

  private def word(v: BigInteger): Array[Byte] = {
    val out = new Array[Byte](32)
    val raw = v.toByteArray.dropWhile(_ == 0)
    System.arraycopy(raw, 0, out, 32 - raw.length, raw.length)
    out
  }
  private def addrTopic(fill: Byte): Array[Byte] = {
    val out = new Array[Byte](32)
    java.util.Arrays.fill(out, 12, 32, fill)
    out
  }

  test("evm_decode_event decodes an ERC20 Transfer") {
    import spark.implicits._
    val amount = new BigInteger("10").pow(18)
    val df = Seq((addrTopic(0x11), addrTopic(0x22), null: Array[Byte], word(amount)))
      .toDF("t1", "t2", "t3", "data")
      .select(F.evm_decode_event(
        "Transfer(address indexed from, address indexed to, uint256 amount)",
        col("t1"), col("t2"), col("t3"), col("data")).as("d"))
      .select("d.from", "d.to", "d.amount")
    val r = df.head()
    assert(r.getAs[Array[Byte]]("from").forall(_ == 0x11) &&
      r.getAs[Array[Byte]]("from").length == 20)
    assert(r.getAs[Array[Byte]]("to").forall(_ == 0x22))
    assert(new BigInteger(1, r.getAs[Array[Byte]]("amount")) == amount)
  }

  test("evm_decode_event handles dynamic types (string head/tail)") {
    import spark.implicits._
    // LogNote(string note, uint8 v): head = [offset=0x40][v=7], tail = len+payload
    val data = word(BigInteger.valueOf(0x40)) ++ word(BigInteger.valueOf(7)) ++
      word(BigInteger.valueOf(2)) ++ ("hi".getBytes("UTF-8") ++ new Array[Byte](30))
    val df = Seq((null: Array[Byte], null: Array[Byte], null: Array[Byte], data))
      .toDF("t1", "t2", "t3", "data")
      .select(F.evm_decode_event("LogNote(string note, uint8 v)",
        col("t1"), col("t2"), col("t3"), col("data")).as("d"))
      .select("d.note", "d.v")
    assert(df.head() == Row("hi", 7L))
  }

  test("indexed non-value types decode as 32-byte topic hashes (ABI spec)") {
    import spark.implicits._
    // Indexed static array uint256[2]: its topic is keccak256 of the
    // encoding, NOT an in-place word — decoding it as an array would read
    // past the 32-byte topic ("ABI data truncated") or yield garbage.
    val sig = "Ev(uint256[2] indexed pair, uint64 v)"
    val parsed = Abi.parseEvent(sig)
    assert(parsed.schema("pair").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val hashTopic = Array.fill[Byte](32)(0x7f)
    val df = Seq((hashTopic, null: Array[Byte], null: Array[Byte],
        word(BigInteger.valueOf(9))))
      .toDF("t1", "t2", "t3", "data")
      .select(F.evm_decode_event(sig,
        col("t1"), col("t2"), col("t3"), col("data")).as("d"))
      .select("d.pair", "d.v")
    val r = df.head()
    assert(r.getAs[Array[Byte]]("pair").sameElements(hashTopic))
    assert(r.getAs[java.math.BigDecimal]("v").longValueExact() == 9L)
    // a NON-indexed static array still decodes in place from data
    val sig2 = "Ev2(uint32[2] pair)"
    assert(Abi.parseEvent(sig2).schema("pair").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))
  }

  test("evm_decode_event decodes a static (address,uint256) tuple param") {
    import spark.implicits._
    // Deposit((address, uint256) pos, uint64 tail): static tuple → members
    // in place at sequential word offsets, then the tail param.
    val sig = "Deposit((address, uint256) pos, uint64 tail)"
    assert(Abi.parseEvent(sig).canonical == "Deposit((address,uint256),uint64)")
    val data = addrTopic(0x5a) ++ word(BigInteger.valueOf(77)) ++
      word(BigInteger.valueOf(3))
    val df = Seq((null: Array[Byte], null: Array[Byte], null: Array[Byte], data))
      .toDF("t1", "t2", "t3", "data")
      .select(F.evm_decode_event(sig,
        col("t1"), col("t2"), col("t3"), col("data")).as("d"))
      .select("d.pos.f0", "d.pos.f1", "d.tail")
    val r = df.head()
    assert(r.getAs[Array[Byte]]("f0").length == 20 &&
      r.getAs[Array[Byte]]("f0").forall(_ == 0x5a))
    assert(new BigInteger(1, r.getAs[Array[Byte]]("f1")).intValueExact == 77)
    assert(r.getAs[java.math.BigDecimal]("tail").longValueExact == 3L)
  }

  test("evm_decode_event decodes a dynamic (string,uint256) tuple param") {
    import spark.implicits._
    // Note((string, uint256) m): dynamic tuple → head holds the frame
    // offset; inside the frame, the string's offset is frame-relative.
    val data =
      word(BigInteger.valueOf(0x20)) ++        // head: tuple frame at 0x20
      word(BigInteger.valueOf(0x40)) ++        // frame: string at frame+0x40
      word(BigInteger.valueOf(9)) ++           // frame: f1 = 9
      word(BigInteger.valueOf(2)) ++           // string length
      ("hi".getBytes("UTF-8") ++ new Array[Byte](30))
    val df = Seq((null: Array[Byte], null: Array[Byte], null: Array[Byte], data))
      .toDF("t1", "t2", "t3", "data")
      .select(F.evm_decode_event("Note((string, uint256) m)",
        col("t1"), col("t2"), col("t3"), col("data")).as("d"))
      .select("d.m.f0", "d.m.f1")
    val r = df.head()
    assert(r.getString(0) == "hi")
    assert(new BigInteger(1, r.getAs[Array[Byte]]("f1")).intValueExact == 9)
  }

  test("evm_decode_event decodes a dynamic array of static tuples") {
    import spark.implicits._
    // Batch((address,uint64)[] items): head = offset; tail = [n][t0][t1]
    // with each static tuple inline as 2 words.
    val data =
      word(BigInteger.valueOf(0x20)) ++        // head: array at 0x20
      word(BigInteger.valueOf(2)) ++           // n = 2
      addrTopic(0x0a) ++ word(BigInteger.valueOf(5)) ++   // items[0]
      addrTopic(0x0b) ++ word(BigInteger.valueOf(6))      // items[1]
    val df = Seq((null: Array[Byte], null: Array[Byte], null: Array[Byte], data))
      .toDF("t1", "t2", "t3", "data")
      .select(F.evm_decode_event("Batch((address,uint64)[] items)",
        col("t1"), col("t2"), col("t3"), col("data")).as("d"))
      .select(explode(col("d.items")).as("it"))
      .select("it.f0", "it.f1")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Array[Byte]]("f0").forall(_ == 0x0a) &&
      rows(0).getAs[java.math.BigDecimal]("f1").longValueExact == 5L)
    assert(rows(1).getAs[Array[Byte]]("f0").forall(_ == 0x0b) &&
      rows(1).getAs[java.math.BigDecimal]("f1").longValueExact == 6L)
  }

  test("evm_decode_event decodes a nested static tuple") {
    import spark.implicits._
    // N((uint64,(address,uint64)) v): fully static → 3 words in place.
    val data = word(BigInteger.valueOf(1)) ++ addrTopic(0x0c) ++
      word(BigInteger.valueOf(2))
    val df = Seq((null: Array[Byte], null: Array[Byte], null: Array[Byte], data))
      .toDF("t1", "t2", "t3", "data")
      .select(F.evm_decode_event("N((uint64,(address,uint64)) v)",
        col("t1"), col("t2"), col("t3"), col("data")).as("d"))
      .select("d.v.f0", "d.v.f1.f0", "d.v.f1.f1")
    val r = df.head()
    assert(r.getAs[java.math.BigDecimal](0).longValueExact == 1L)
    assert(r.getAs[Array[Byte]](1).forall(_ == 0x0c))
    assert(r.getAs[java.math.BigDecimal](2).longValueExact == 2L)
  }

  test("indexed tuple params stay 32-byte topic hashes") {
    // Per the ABI spec indexed non-value types are keccak-hashed; a tuple
    // is never a value type regardless of member types.
    val sig = Abi.parseEvent("Ev((address,uint64) indexed key, uint64 v)")
    assert(sig.schema("key").dataType ==
      org.apache.spark.sql.types.BinaryType)
  }

  test("evm_decode_event allowFail yields null struct on garbage") {
    import spark.implicits._
    val df = Seq((null: Array[Byte], null: Array[Byte], null: Array[Byte],
        Array[Byte](1, 2, 3)))
      .toDF("t1", "t2", "t3", "data")
      .select(F.evm_decode_event(
        "Transfer(address indexed from, address indexed to, uint256 amount)",
        col("t1"), col("t2"), col("t3"), col("data"), allowFail = true).as("d"))
    assert(df.head().isNullAt(0))
  }

  // --- the shared kernel contract (Kernel: UnaryKernel, BinaryKernel) ------

  /** One kernel, varied in one argument: its SQL call when registered,
    * else its constructor (Column API); and arguments of types it must
    * reject.
    */
  private case class Unary(name: String, sql: Option[String => String],
                           mk: Expression => Expression, wrong: Seq[String])

  private val notString = Seq("i", "CAST('x' AS BINARY)")
  private val notBinary = Seq("i", "'x'")
  private val notFloats = Seq("i", "'x'", "array(1)")
  private def floats: Expression = Bridge.expression(expr("array(CAST(1 AS FLOAT))"))
  private def bytes: Expression = Bridge.expression(lit(Array[Byte](1)))
  private val unaryKernels = Seq(
    Unary("deflate_len", Some(a => s"deflate_len($a)"), DeflateLen(_), notString),
    Unary("char_ngrams", Some(a => s"char_ngrams($a, 3)"), CharNGrams(_, 3), notString),
    Unary("word_ngrams", Some(a => s"word_ngrams($a, 2)"), WordNGrams(_, 2), notString),
    Unary("md5_bottom_k", Some(a => s"md5_bottom_k($a, 4)"), Md5BottomK(_, 4),
      Seq("i", "'x'", "array(1)")),
    Unary("dechunk_body", None, DechunkBody(_), notString),
    Unary("canonicalize_url", None, CanonicalizeUrl(_), notString),
    Unary("registered_domain_of", None, RegisteredDomainOf(_), notString),
    Unary("decode_html_entities", None, DecodeHtmlEntities(_), notString),
    Unary("hash60", None, Hash60(_), notBinary),
    Unary("md5_salted", None, Md5Salted("s", _), notBinary),
    Unary("top_ngram_stats", None, TopNgramStats(_, 2, 4), notString),
    Unary("gzip_bytes", None, GzipBytes(_), notString),
    Unary("deflate_bytes", None, DeflateBytes(_), notString),
    Unary("zstd_bytes", None, ZstdBytes(_), notString),
    Unary("gunzip_to_string", None, GunzipToString(_), notBinary),
    Unary("inflate_to_string", None, InflateToString(_), notBinary),
    Unary("zstd_to_string", None, ZstdToString(_), notBinary),
    Unary("brotli_to_string", None, BrotliToString(_), notBinary),
    Unary("pdf_to_text", None, PdfToText(_), notBinary),
    // the CodegenFallback kernels (FallbackUnaryKernel)
    Unary("base58_encode", Some(a => s"base58_encode($a)"), Base58Encode(_), notBinary),
    Unary("base58_decode", Some(a => s"base58_decode($a)"), Base58Decode(_), notString),
    Unary("keccak256", Some(a => s"keccak256($a)"), Keccak256(_), notBinary),
    Unary("u256_to_decimal", Some(a => s"u256_to_decimal($a)"), U256ToDecimal(_), notBinary),
    Unary("u256_to_string", Some(a => s"u256_to_string($a)"), U256ToString(_), notBinary),
    Unary("u256_from_string", Some(a => s"u256_from_string($a)"), U256FromString(_), notString),
    // the two-child kernels (BinaryKernel): one row per argument
    // position, the other argument a well-typed expression
    Unary("decode_charset", Some(a => s"decode_charset($a, 'utf-8')"),
      DecodeCharset(_, Bridge.expression(lit("utf-8"))), notString),
    Unary("decode_charset", Some(a => s"decode_charset('x', $a)"),
      DecodeCharset(Bridge.expression(lit("x")), _), notString),
    Unary("int8_vec_dot", None, Int8VecDot(_, bytes), notBinary),
    Unary("int8_vec_dot", None, Int8VecDot(bytes, _), notBinary),
    Unary("int8_float_vec_dot", None, Int8FloatVecDot(_, floats), notBinary),
    Unary("int8_float_vec_dot", None, Int8FloatVecDot(bytes, _), notFloats),
    Unary("nearest_centroid", None,
      NearestCentroid(_, Bridge.expression(lit(1.0)), Array(1L), Array(1f), Array(1.0), 1),
      notFloats),
    Unary("nearest_centroid", None,
      NearestCentroid(floats, _, Array(1L), Array(1f), Array(1.0), 1), notString),
    // the unary kernels that joined the contract with them
    Unary("quantize_vec", None, QuantizeVec(_, 1.0), notFloats),
    Unary("pq_encode", None, PqEncode(_, Array(1f), Array(1.0), 1, 1, 1), notFloats),
    Unary("svm_decode_instruction", None,
      SvmDecodeInstruction("f8c6", "amount:u64", allowFail = true, _), notBinary))

  test("literal NULL arguments pass the plan-time type gates (NullType)") {
    import spark.implicits._
    // the decoder's null-prefix rule exists precisely so a caller can pass
    // literal NULLs for absent topics — a NullType literal must not fail
    // the BinaryType analysis gate (r15 ADVICE)
    val amount = new BigInteger("7")
    val decoded = Seq((addrTopic(0x11), addrTopic(0x22), word(amount)))
      .toDF("t1", "t2", "data")
      .select(F.evm_decode_event(
        "Transfer(address indexed from, address indexed to, uint256 amount)",
        col("t1"), col("t2"), lit(null), col("data")).as("d"))
      .select("d.from", "d.amount")
    val r = decoded.head()
    assert(r.getAs[Array[Byte]]("from").forall(_ == 0x11))
    assert(new BigInteger(1, r.getAs[Array[Byte]]("amount")) == amount)
    // a literal-NULL data argument is a null row, not an analysis error
    val svm = Seq(1).toDF("i")
      .select(F.svm_decode_instruction("f8c6", "amount:u64", lit(null),
        allowFail = true).as("d"))
    assert(svm.head().isNullAt(0))
    // SQL channel, where the NULL literal is the common spelling
    assert(spark.sql("SELECT deflate_len(NULL) AS n").head().isNullAt(0))
    // NullType children behind a conditional over a column (the
    // optimizer folds IF(c, NULL, NULL) to the literal, so the NullType
    // codegen branches are compiled by the `n` column below)
    val nf = when(col("i") > 0, lit(null)).otherwise(lit(null))
    val svmNf = Seq(1).toDF("i")
      .select(F.svm_decode_instruction("f8c6", "amount:u64", nf,
        allowFail = true).as("d"))
    assert(svmNf.head().isNullAt(0))
    Seq(1).toDF("i").createOrReplaceTempView("nulltype_nf")
    assert(spark.sql(
      "SELECT deflate_len(IF(i > 0, NULL, NULL)) AS n FROM nulltype_nf")
      .head().isNullAt(0))
    // the same contract over every unary kernel: a NULL literal and a
    // NullType child give NULL, wrong types fail analysis naming the
    // function. `n` is a NullType COLUMN the optimizer cannot see through
    // (the checkpoint hides the literal), so it compiles the kernel's
    // NullType codegen branch
    F.register(spark)
    spark.range(1, 3).select(col("id").as("i"), lit(null).as("n"))
      .localCheckpoint().createOrReplaceTempView("unary_src")
    def run(k: Unary, arg: String): DataFrame = k.sql match {
      case Some(call) => spark.sql(s"SELECT ${call(arg)} AS r FROM unary_src")
      case None => spark.table("unary_src")
        .select(Bridge.column(k.mk(Bridge.expression(expr(arg)))).as("r"))
    }
    // a Janino failure in the NullType branch must fail, not fall back
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try unaryKernels.foreach { k =>
      assert(k.mk(Bridge.expression(lit(1))).prettyName == k.name)
      Seq("NULL", "IF(i > 0, NULL, NULL)", "n").foreach { arg =>
        val rows = run(k, arg).collect()
        assert(rows.length == 2 && rows.forall(_.isNullAt(0)), s"${k.name}($arg)")
      }
      k.wrong.foreach { arg =>
        val e = intercept[AnalysisException](run(k, arg))
        assert(e.getMessage.contains(k.name), e.getMessage)
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", fallback)
  }

  // --- Borsh instruction decode ----------------------------------------------

  test("svm_decode_instruction decodes scalars, strings and fixed bytes") {
    import spark.implicits._
    val bb = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(Array[Byte](0xf8.toByte, 0xc6.toByte)) // discriminator
    bb.putLong(123456789L)                        // amount: u64
    bb.put(1.toByte)                              // flag: bool
    bb.putInt(2); bb.put("yo".getBytes("UTF-8"))  // memo: string
    bb.put(Array[Byte](9, 8, 7, 6))               // tag: [u8;4]
    val data = java.util.Arrays.copyOf(bb.array(), bb.position())
    val df = Seq(data).toDF("data")
      .select(F.svm_decode_instruction("f8c6",
        "amount:u64, flag:bool, memo:string, tag:[u8;4]", col("data")).as("d"))
      .select("d.amount", "d.flag", "d.memo", "d.tag")
    val r = df.head()
    assert(r.getDecimal(0).longValueExact() == 123456789L)
    assert(r.getBoolean(1))
    assert(r.getString(2) == "yo")
    assert(r.getAs[Array[Byte]]("tag").toSeq == Seq[Byte](9, 8, 7, 6))
  }

  test("svm_decode_instruction discriminator mismatch → null with allowFail") {
    import spark.implicits._
    val df = Seq(Array[Byte](0, 0, 1)).toDF("data")
      .select(F.svm_decode_instruction("f8c6", "amount:u64", col("data"),
        allowFail = true).as("d"))
    assert(df.head().isNullAt(0))
  }

  test("char_ngrams shingles by code point, never splitting a surrogate pair") {
    // "a😀b" is 3 code points (4 UTF-16 units); 2-grams must be
    // {"a😀", "😀b"} — UTF-16-unit slicing would emit lone surrogates
    // that encode as '?' and collapse distinct emoji into one shingle
    val got = graft.functions.CharNGrams.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("a😀b"), 2)
    val strs = (0 until got.numElements())
      .map(i => got.getUTF8String(i).toString)
    assert(strs == Seq("a😀", "😀b"), strs)
    // a single supplementary char is ONE code point: no 2-gram exists
    assert(graft.functions.CharNGrams.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("😀"), 2)
      .numElements() == 0)
  }
}
