package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions injector: registers every custom expression for
  * SQL use. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or through
  * `GraftSession.builder()`. The idiomatic extension point — works with a
  * plain spark-submit too, no GraftSession required.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.sqlFunctions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}

/** THE canonical SQL-function list — both registration channels (the
  * session-extension injector above and `GraftFunctions.register`'s
  * temp-function path) iterate this one table, so they cannot drift (they
  * did: register() was missing four functions the extension served).
  */
object GraftExtensions {
  /** Fold a literal argument to Int with the function NAMED in every
    * failure: a non-literal (column) argument, a non-integral type, and
    * an out-of-Int-range long each get a plan-time error — `l.toInt`
    * alone would silently WRAP an overflowing literal to an arbitrary
    * small or negative value (char_ngrams(s, 2^32+3) computing 3-grams).
    */
  private def foldToInt(fn: String, e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got a non-literal expression")
    e.eval(null) match {
      case i: Int   => i
      case b: Byte  => b.toInt // TINYINT/SMALLINT literals are legal
      case sh: Short => sh.toInt
      case l: Long =>
        if (l < Int.MinValue || l > Int.MaxValue)
          throw new IllegalArgumentException(
            s"$fn integer argument out of range: $l")
        l.toInt
      case other   => throw new IllegalArgumentException(
        s"$fn expected integer literal, got $other")
    }
  }

  /** A builder's arguments, carrying the function name for its errors. */
  private final class Args(name: String, es: Seq[Expression]) {
    def apply(i: Int): Expression = es(i)
    def int(i: Int): Int = foldToInt(name, es(i))
  }

  /** One SQL function, its name written once: the usage line derives from
    * the argument names, and the arity gate from their count — without
    * the gate, extra arguments are SILENTLY IGNORED (keccak256(a, b)
    * hashing only `a` — a plausible digest over the wrong input) and
    * missing ones die in an anonymous IndexOutOfBounds instead of naming
    * the function.
    */
  private def fn(name: String, args: Seq[String], desc: String)(
      build: Args => Expression): (String, String, Seq[Expression] => Expression) =
    (name, s"$name(${args.mkString(", ")}) - $desc", es => {
      if (es.length != args.length) throw new IllegalArgumentException(
        s"$name expects ${args.length} argument(s), got ${es.length}")
      build(new Args(name, es))
    })

  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    fn("base58_encode", Seq("bin"), "bitcoin-alphabet base58 string")(
      a => Base58Encode(a(0))),
    fn("base58_decode", Seq("str"), "bytes, null on bad alphabet")(
      a => Base58Decode(a(0))),
    fn("keccak256", Seq("bin"), "32-byte Keccak-256 digest")(a => Keccak256(a(0))),
    fn("u256_to_decimal", Seq("bin32"), "DECIMAL(38,0), null on overflow")(
      a => U256ToDecimal(a(0))),
    fn("u256_to_string", Seq("bin32"), "decimal string")(a => U256ToString(a(0))),
    fn("u256_from_string", Seq("str"), "32-byte big-endian binary")(
      a => U256FromString(a(0))),
    fn("float_vec_dot", Seq("a", "b"), "left-fold double dot product")(
      a => FloatVecDot(a(0), a(1))),
    fn("char_ngrams", Seq("str", "n"), "distinct character n-grams")(
      a => CharNGrams(a(0), a.int(1))),
    fn("word_ngrams", Seq("str", "n"), "distinct word n-grams")(
      a => WordNGrams(a(0), a.int(1))),
    fn("md5_bottom_k", Seq("arr", "k"), "k smallest md5 digests, concat")(
      a => Md5BottomK(a(0), a.int(1))),
    fn("deflate_len", Seq("str"), "DEFLATE-compressed byte length")(
      a => DeflateLen(a(0))),
    fn("decode_charset", Seq("view", "name"),
      "decode a latin1-view body with a java.nio charset (WHATWG web " +
        "labels), null on malformed")(a => DecodeCharset(a(0), a(1))))
}

/** Engine session bootstrap: the scale-posture defaults every entry point
  * (Verify, Bench, user apps) shares. local[*] here is the test harness —
  * on a cluster the same settings ride on whatever master the submit
  * provides.
  */
object GraftSession {
  /** ONE parse of SPARK_GRAFT_CPUS (master and shuffle partitions must
    * agree), trimmed, with the env var NAMED on a bad value — a bare
    * .toInt died as an anonymous NumberFormatException at every entry
    * point.
    */
  private def envCpus: Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim
    try raw.toInt
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer (got '$raw')") }
  }

  /** Spark's generated-class cache size: a static SQL conf, so a session
    * that already exists keeps its own value.
    */
  private[graft] val codegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  /** The engine's scale-posture defaults, as data — builder() applies
    * them; the spec asserts on THIS map (a second SparkContext can't boot
    * in a shared test JVM, so the defaults must be observable without
    * materializing a session).
    */
  private[graft] val defaults: Map[String, String] = Map(
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos type —
    // read as long, Tables.load rebuilds the timestamp.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Parquet TIMESTAMP(isAdjustedToUTC=false) otherwise infers as
    // TIMESTAMP_NTZ (Spark 4 default), which unix_micros and friends
    // reject. With the UTC session timezone above, reading NTZ micros as
    // TIMESTAMP is value-preserving (identical epoch micros), so pin the
    // legacy inference session-wide; the time operators ALSO cast NTZ
    // inputs defensively (TsCompat) so the library works without this.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // Spark-default AQE coalescing (parallelismFirst=true): never shrink a
    // post-shuffle stage below the cluster's parallelism. Round 1 set this
    // to false, which coalesced every small-SF shuffle to ONE partition and
    // serialized the compute-heavy pair/kernel stages (x21-x24) through a
    // single task; at 100 TB partitions are data-sized either way, so the
    // default is both the local and the cluster posture.
    "spark.sql.adaptive.enabled" -> "true",
    // Spark's generated-class cache (default 100 entries, one JVM-wide
    // cache sized when CodeGenerator first loads) holds fewer classes
    // than one pass of a query mix generates, so every pass recompiled
    // the evicted ones: 34-79 classes a catalog_mix session. Static: see
    // staticConfNotice for a session that already exists.
    codegenCacheConf -> "1000")

  /** The stderr line for an existing session whose codegen cache size
    * differs from [[defaults]]' — getOrCreate cannot change a static
    * conf, so it names the value the session keeps. None when they agree.
    */
  private[graft] def staticConfNotice(current: Option[String]): Option[String] =
    Option.when(!current.contains(defaults(codegenCacheConf)))(
      s"[graft] $codegenCacheConf not applied: the session existed before " +
        s"GraftSession and keeps ${current.getOrElse("<unset>")} " +
        s"(GraftSession default ${defaults(codegenCacheConf)})")

  /** Everything builder() sets besides the master. */
  private def settings(shufflePartitions: Int): Map[String, String] =
    defaults + ("spark.sql.shuffle.partitions" -> shufflePartitions.toString)

  def builder(master: String = s"local[$envCpus]",
              shufflePartitions: Int = envCpus): SparkSession.Builder =
    settings(shufflePartitions).foldLeft(
      SparkSession.builder().master(master)
    ) { case (b, (k, v)) => b.config(k, v) }

  def getOrCreate(): SparkSession = {
    // Builder.getOrCreate applies the builder's runtime SQL confs to a
    // session that already exists: read the values they replace, to name
    // every one that changes
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val before = existing.map { p =>
      settings(envCpus).keys.filter(p.conf.isModifiable).map(k => k -> p.conf.getOption(k))
    }
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val changed = before.toSeq.flatten.collect {
      case (k, old) if old != s.conf.getOption(k) =>
        s"$k: ${old.getOrElse("<unset>")} -> ${s.conf.get(k)}"
    }
    if (changed.nonEmpty)
      System.err.println("[graft] GraftSession confs applied to the existing session: " +
        changed.sorted.mkString(", "))
    // the static spark.sql.extensions never reaches a PRE-EXISTING session:
    // every graft SQL function would be missing with no hint. Repair the
    // function registry through the temp-function channel, and say so.
    if (!s.catalog.functionExists("keccak256")) {
      graft.functions.GraftFunctions.register(s)
      System.err.println("[graft] spark.sql.extensions not applied: the session " +
        "existed before GraftSession; graft SQL functions registered as temp functions")
    }
    existing.flatMap(p => staticConfNotice(p.conf.getOption(codegenCacheConf)))
      .foreach(System.err.println)
    s
  }
}
