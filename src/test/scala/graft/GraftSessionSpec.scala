package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.BinaryType

/** GraftExtensions injector spec. A shared-JVM test can't boot a second
  * SparkContext to observe `spark.sql.extensions` end-to-end, so this
  * applies the injector to a raw SparkSessionExtensions and drives the
  * registered builders directly; SQL-path coverage for the same functions
  * lives in FunctionsSpec via GraftFunctions.register.
  */
class GraftSessionSpec extends SparkSpec {

  test("getOrCreate over a session built without the extensions repairs and warns") {
    // the shared session carries the extensions' functions: drop one, as
    // a session that existed before GraftSession would lack it
    val conf = spark.sessionState.conf
    val saved = conf.getAllConfs
    spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("keccak256"))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    // getOrCreate applies the builder's runtime confs to the shared
    // session; they are put back for the suites that follow
    val (s, timeZone, nanosAsLong) = try {
      val s = GraftSession.getOrCreate()
      (s, conf.getConfString("spark.sql.session.timeZone"),
        conf.getConfString("spark.sql.legacy.parquet.nanosAsLong"))
    } finally {
      System.setErr(stderr)
      conf.clear()
      saved.foreach { case (k, v) => conf.setConfString(k, v) }
    }
    assert(s eq spark)
    assert(spark.catalog.functionExists("keccak256"))
    assert(timeZone == "UTC" && nanosAsLong == "true")
    val warned = err.toString.linesIterator.filter(_.contains("spark.sql.extensions")).toList
    assert(warned.size == 1 && warned.head.contains("not applied") &&
      warned.head.contains("temp functions"), s"stderr: $err")
    val changed = err.toString.linesIterator.filter(_.contains("confs applied")).toList
    assert(changed.size == 1 &&
      changed.head.contains("spark.sql.session.timeZone: America/New_York -> UTC") &&
      changed.head.contains("spark.sql.legacy.parquet.nanosAsLong: false -> true"),
      s"stderr: $err")
  }

  test("GraftExtensions registers all builders and they evaluate") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registered = org.apache.spark.sql.graftbridge.Bridge.applyFunctions(
      ext, org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone())
    for (name <- Seq("base58_encode", "base58_decode", "keccak256",
        "u256_to_decimal", "u256_to_string", "u256_from_string",
        "float_vec_dot", "char_ngrams", "word_ngrams", "md5_bottom_k",
        "deflate_len", "decode_charset")) {
      assert(registered.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
        s"$name missing from extension registry")
    }
    // drive one builder end-to-end: base58_encode('asd') == ZjVd
    val expr = registered.lookupFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("base58_encode"),
      Seq(Literal("asd".getBytes, BinaryType)))
    assert(expr.eval(null).toString == "ZjVd")
  }

  test("GraftSession defaults carry the engine posture") {
    // a shared test JVM can't boot a second SparkContext, so the posture
    // is asserted on the defaults map builder() applies — the previous
    // form of this test materialized nothing and asserted on SparkSpec's
    // own independently-configured session (vacuous: deleting every
    // builder default left it green)
    val d = GraftSession.defaults
    assert(d("spark.sql.session.timeZone") == "UTC")
    assert(d("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(d("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(d("spark.sql.adaptive.enabled") == "true")
    assert(d("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(d("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("an existing session's codegen cache size is named when it differs") {
    // static: getOrCreate cannot resize an existing session's cache, so
    // it says what the session keeps (asserted on the pure comparison —
    // the shared test JVM cannot boot a second SparkContext)
    val conf = GraftSession.codegenCacheConf
    assert(GraftSession.staticConfNotice(Some("1000")).isEmpty)
    val kept = GraftSession.staticConfNotice(Some("100"))
    assert(kept.exists(n => n.contains(conf) && n.contains("keeps 100") &&
      n.contains("default 1000")), kept)
    assert(GraftSession.staticConfNotice(None).exists(_.contains("keeps <unset>")))
  }

  test("SQL function builders reject wrong arity and overflowing literals") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registered = org.apache.spark.sql.graftbridge.Bridge.applyFunctions(
      ext, org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone())
    def lookup(name: String, args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      registered.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), args)
    val bin = Literal("x".getBytes, BinaryType)
    // extra argument: must NAME the function, never silently hash es.head
    val extra = intercept[Exception] { lookup("keccak256", Seq(bin, bin)) }
    assert(extra.getMessage.contains("keccak256") &&
      extra.getMessage.contains("2"), extra.getMessage)
    // missing argument: named error, not an anonymous IndexOutOfBounds
    val missing = intercept[Exception] { lookup("float_vec_dot", Seq(bin)) }
    assert(missing.getMessage.contains("float_vec_dot"), missing.getMessage)
    // overflowing long literal: named range error, never a silent wrap
    // (4294967299L.toInt == 3 would quietly compute 3-grams)
    val over = intercept[Exception] {
      lookup("char_ngrams", Seq(Literal("abc"), Literal(4294967299L)))
    }
    assert(over.getMessage.contains("char_ngrams") &&
      over.getMessage.contains("4294967299"), over.getMessage)
  }
}
