package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._

/** Public scalar-function surface of the engine (SURVEY.md §2.5): Column
  * wrappers over the custom Catalyst expressions plus thin compositions of
  * Spark built-ins. Everything here is deterministic and null-safe, and the
  * custom expressions are plain `Expression`s — Catalyst folds them when
  * inputs are literals (e.g. `evm_topic0` of a constant signature costs
  * nothing at runtime).
  */
object GraftFunctions {

  // --- encodings ------------------------------------------------------------

  /** Lowercase hex, optionally "0x"-prefixed (cherry `steps/hex_encode.py:13`
    * — note Spark's `hex()` is UPPERCASE; the reference emits lowercase).
    */
  def hex_lower(c: Column, prefixed: Boolean = true): Column =
    if (prefixed) concat(lit("0x"), lower(hex(c))) else lower(hex(c))

  def base58_encode(c: Column): Column = Bridge.column(Base58Encode(Bridge.expression(c)))
  def base58_decode(c: Column): Column = Bridge.column(Base58Decode(Bridge.expression(c)))

  // --- hashing --------------------------------------------------------------

  def keccak256(c: Column): Column = Bridge.column(Keccak256(Bridge.expression(c)))

  /** topic0 of a (possibly human-form) event signature, as 32-byte binary;
    * plan-time constant for literal signatures (cherry
    * `evm_signature_to_topic0`, `examples/erc20_custom.py:16,115`).
    */
  def evm_topic0(signature: String): Column =
    lit(Keccak.topic0(signature)) // ONE canonicalize-then-hash recipe, plan-time constant

  /** Anchor discriminator: sha256("global:<name>")[:8] (cherry
    * `utils.py:5-12`; golden vectors `tests/test_steps.py:161-163`).
    * Pure built-ins: sha2 + substring + unhex.
    */
  def svm_anchor_discriminator(name: Column): Column =
    unhex(substring(sha2(concat(lit("global:"), name), 256), 1, 16))

  /** Hex form of the Anchor discriminator (handy for SQL oracles). */
  def svm_anchor_discriminator_hex(name: Column): Column =
    substring(sha2(concat(lit("global:"), name), 256), 1, 16)

  // --- u256 (32-byte big-endian binary canon, SURVEY §7.3) --------------------

  def u256_to_decimal(c: Column): Column = Bridge.column(U256ToDecimal(Bridge.expression(c)))
  def u256_to_string(c: Column): Column = Bridge.column(U256ToString(Bridge.expression(c)))
  def u256_from_string(c: Column): Column = Bridge.column(U256FromString(Bridge.expression(c)))

  // --- decoders -------------------------------------------------------------

  /** Decode an EVM log against one event signature → struct (cherry T1,
    * `steps/evm_decode_events.py`).
    */
  def evm_decode_event(signature: String, topic1: Column, topic2: Column,
                       topic3: Column, data: Column,
                       allowFail: Boolean = false): Column =
    Bridge.column(EvmDecodeEvent(signature, allowFail,
      Seq(topic1, topic2, topic3, data).map(Bridge.expression)))

  /** Decode a Borsh-encoded Solana instruction → struct (cherry T2/T3,
    * `steps/svm_decode_instructions.py`). Field spec DSL:
    * "amount:u64, key:pubkey, tag:[u8;8], memo:string".
    */
  def svm_decode_instruction(discriminatorHex: String, fieldSpec: String,
                             data: Column, allowFail: Boolean = false): Column =
    Bridge.column(SvmDecodeInstruction(discriminatorHex, fieldSpec, allowFail,
      Bridge.expression(data)))

  // --- SQL registration -----------------------------------------------------

  /** Register the custom expressions for `spark.sql` use on a session
    * built WITHOUT the GraftExtensions injector (GraftSession installs the
    * injector and does not call this). Idempotent.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // the SAME list the GraftExtensions injector serves — the two
    // channels used to be hand-maintained copies and drifted (this one
    // was missing float_vec_dot/char_ngrams/word_ngrams/md5_bottom_k)
    graft.GraftExtensions.sqlFunctions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
