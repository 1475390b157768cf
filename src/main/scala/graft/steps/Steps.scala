package graft.steps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Step
import graft.functions.{GraftFunctions => F}

/** The dispatched step library (SURVEY.md §2.2, T1–T12) re-expressed as
  * DataFrame plan rewrites. Where cherry runs a Rust kernel per Arrow
  * RecordBatch (`steps/cast.py:17-20`), we rewrite the lazy plan and let
  * whole-stage codegen vectorize — same semantics, zero interpreter loop.
  *
  * Scale notes: every step here is a narrow per-row transformation (no
  * shuffle introduced by any of them), so a pipeline of N steps still
  * executes as one fused codegen stage over the scan.
  */
object Steps {

  private def targetTables(tables: Map[String, DataFrame],
                           only: Option[Seq[String]]): Set[String] =
    only.map(_.toSet).getOrElse(tables.keySet)

  /** Columns of `df` whose type is `dt`. */
  private def colsOfType(df: DataFrame, dt: DataType): Seq[String] =
    df.schema.fields.filter(_.dataType == dt).map(_.name).toSeq

  // --- T4 CAST (cherry steps/cast.py:9-27) ----------------------------------

  /** The one cast expression both cast steps share — `try_cast` (null on
    * failure) vs strict `cast`, the reference's `allow_cast_fail` split.
    */
  private def castExpr(c: String, t: DataType, tryIt: Boolean) =
    if (tryIt) col(c).try_cast(t.sql) else col(c).cast(t)

  /** A table-TARGETED step addressing a name not in the bundle is a typo,
    * and a `collect { case matching => }` would silently no-op it — the
    * pipeline runs green with the step never applied (the failure surfaces,
    * if ever, as a far-downstream type mismatch). Same loud policy as the
    * decode steps' `tables(inputTable)` lookup.
    */
  private def requireTable(tables: Map[String, DataFrame], name: String,
                           step: String): Unit =
    require(tables.contains(name),
      s"$step targets table '$name' but the bundle has: " +
        tables.keys.toSeq.sorted.mkString(", "))

  /** Rewrite the one table `name` of the bundle with `f`, after the
    * [[requireTable]] check — the shape every single-table step shares.
    */
  private def onTable(tables: Map[String, DataFrame], name: String,
                      step: String)(f: DataFrame => DataFrame)
      : Map[String, DataFrame] = {
    requireTable(tables, name, step)
    tables.updated(name, f(tables(name)))
  }

  /** Cast named columns of one table; `allowCastFail` → `try_cast` semantics
    * (null on failure), exactly the reference's `allow_cast_fail` contract.
    */
  final case class Cast(tableName: String, mappings: Map[String, DataType],
                        allowCastFail: Boolean = false) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] =
      onTable(tables, tableName, "Cast") { df =>
        mappings.foldLeft(df) { case (d, (c, t)) =>
          d.withColumn(c, castExpr(c, t, allowCastFail))
        }
      }
  }

  // --- T5 CAST_BY_TYPE (cherry steps/cast_by_type.py:9-27) ------------------

  /** Cast every column whose type == `from`, across all tables. */
  final case class CastByType(from: DataType, to: DataType,
                              allowCastFail: Boolean = false) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] =
      tables.map { case (name, df) =>
        name -> colsOfType(df, from).foldLeft(df) { (d, c) =>
          d.withColumn(c, castExpr(c, to, allowCastFail))
        }
      }
  }

  // --- T6 HEX_ENCODE (cherry steps/hex_encode.py:10-27) ---------------------

  /** Encode ALL binary columns of the selected tables to lowercase hex
    * strings, `prefixed` → "0x…" (cherry defaults prefixed=True; note Spark's
    * `hex()` is uppercase — `F.hex_lower` wraps it, oracle-visible).
    */
  final case class HexEncode(tables: Option[Seq[String]] = None,
                             prefixed: Boolean = true) extends Step {
    def apply(spark: SparkSession, all: Map[String, DataFrame]): Map[String, DataFrame] =
      encodeBinaryCols(all, tables, c => F.hex_lower(c, prefixed))
  }

  // --- T7 BASE58_ENCODE (cherry steps/base58_encode.py:10-28) ---------------

  /** Encode ALL binary columns of the selected tables to base58 (bitcoin
    * alphabet) strings.
    */
  final case class Base58Encode(tables: Option[Seq[String]] = None) extends Step {
    def apply(spark: SparkSession, all: Map[String, DataFrame]): Map[String, DataFrame] =
      encodeBinaryCols(all, tables, F.base58_encode)
  }

  /** Shared traversal of the binary-encoding steps: every BinaryType
    * column of the selected tables through `enc` — ONE definition so the
    * table-selection logic cannot drift between encodings.
    */
  private def encodeBinaryCols(all: Map[String, DataFrame],
                               tables: Option[Seq[String]],
                               enc: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Map[String, DataFrame] = {
    val targets = targetTables(all, tables)
    all.map { case (name, df) =>
      name -> (if (!targets(name)) df
               else colsOfType(df, BinaryType).foldLeft(df) { (d, c) =>
                 d.withColumn(c, enc(col(c)))
               })
    }
  }

  // --- T8 U256 canon (cherry steps/u256_to_binary.py:11-29) -----------------

  /** In cherry, u256 arrives as decimal256(76,0) and this step rewrites it to
    * raw 32-byte binary. Our engine's canonical u256 IS 32-byte big-endian
    * binary (SURVEY §7.3 — Spark decimals cap at 38 digits), so the
    * equivalent boundary step converts decimal-string columns to the canon.
    */
  final case class U256FromString(tableName: String, columns: Seq[String]) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] =
      onTable(tables, tableName, "U256FromString") { df =>
        columns.foldLeft(df)((d, c) =>
          d.withColumn(c, F.u256_from_string(col(c))))
      }
  }

  // --- T9 SET_CHAIN_ID (cherry steps/set_chain_id.py:7-21) ------------------

  /** Drop any existing `chain_id`, append constant chain_id to every table.
    * uint64 in the reference → LongType here (widen convention §1.3: chain
    * ids are far below 2^63).
    */
  final case class SetChainId(chainId: Long) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] =
      tables.map { case (name, df) =>
        name -> df.drop("chain_id").withColumn("chain_id", lit(chainId))
      }
  }

  // --- T1 EVM_DECODE_EVENTS (cherry steps/evm_decode_events.py:9-35) --------

  /** Topic column if present, else a typed null (absent topics decode as
    * null) — shared by every decode step.
    */
  private def topicCol(in: DataFrame, n: String): Column =
    if (in.columns.contains(n)) col(n) else lit(null).cast(BinaryType)

  /** Shared decode projection: the `__d` struct's fields, plus all input
    * columns under `hstack`. A decoded field shadowing an input column
    * under hstack fails HERE with a clear message — the alternative is two
    * same-named output columns and an AMBIGUOUS_REFERENCE far downstream.
    */
  private def projectDecoded(decoded: DataFrame, in: DataFrame,
                             hstack: Boolean): DataFrame = {
    val dFields = decoded.select("__d.*").columns
    if (hstack) {
      val collide = dFields.filter(in.columns.contains)
      require(collide.isEmpty,
        s"decoded field(s) ${collide.mkString(", ")} collide with input " +
          "columns under hstack; rename the ABI fields or disable hstack")
      decoded.select(col("__d.*") +: in.columns.map(col).toSeq: _*)
    } else decoded.select(dFields.map(f => col(s"__d.$f")).toSeq: _*)
  }

  /** Decode `inputTable` logs against one event signature into typed columns;
    * `hstack` appends all input columns (cherry's 1:1 cardinality contract —
    * decode is an expression, not a generator). Expects the conventional
    * column names topic1..topic3 + data (absent topics decode as null).
    */
  final case class EvmDecodeEvents(eventSignature: String,
                                   allowDecodeFail: Boolean = false,
                                   inputTable: String = "logs",
                                   outputTable: String = "decoded_logs",
                                   hstack: Boolean = false) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] = {
      val in = tables(inputTable)
      val decoded = in.withColumn("__d", F.evm_decode_event(
          eventSignature, topicCol(in, "topic1"), topicCol(in, "topic2"),
          topicCol(in, "topic3"), col("data"), allowDecodeFail))
      tables + (outputTable -> projectDecoded(decoded, in, hstack))
    }
  }

  // --- T2/T3 SVM_DECODE_* (cherry steps/svm_decode_instructions.py:9-35) ----

  /** Decode Borsh-encoded `data` of `inputTable` against a discriminator +
    * field spec. For SVM_DECODE_LOGS semantics pass discriminatorHex = ""
    * (cherry reuses the instruction path with a dummy discriminator,
    * `steps/svm_decode_logs.py:26-34`).
    */
  final case class SvmDecodeInstructions(discriminatorHex: String,
                                         fieldSpec: String,
                                         allowDecodeFail: Boolean = false,
                                         inputTable: String = "instructions",
                                         outputTable: String = "decoded_instructions",
                                         hstack: Boolean = false) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] = {
      val in = tables(inputTable)
      val decoded = in.withColumn("__d",
        F.svm_decode_instruction(discriminatorHex, fieldSpec, col("data"), allowDecodeFail))
      tables + (outputTable -> projectDecoded(decoded, in, hstack))
    }
  }

  /** T3 SVM_DECODE_LOGS (cherry `steps/svm_decode_logs.py:10-41`): decode
    * Borsh-encoded log payloads — exactly the instruction path with no
    * discriminator (the reference reuses the instruction schema-gen with a
    * dummy discriminator, `svm_decode_logs.py:26-34`; here the empty
    * discriminator means "skip 0 prefix bytes").
    */
  final case class SvmDecodeLogs(fieldSpec: String,
                                 allowDecodeFail: Boolean = false,
                                 inputTable: String = "logs",
                                 outputTable: String = "decoded_logs",
                                 hstack: Boolean = false) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] =
      SvmDecodeInstructions("", fieldSpec, allowDecodeFail, inputTable,
        outputTable, hstack)(spark, tables)
  }

  // --- T14 GLACIERS_EVENTS analog (cherry config.py:137-142 — declared but
  //     never dispatched): decode logs against a MULTI-signature ABI set ---

  /** Decode `inputTable` against several event signatures at once: each log
    * routes to the signature whose topic0 (keccak of the canonical form)
    * matches, decodes with that ABI, and the per-signature results union by
    * name (missing columns null — signatures rarely share fields). Adds
    * `event_name`. Spark-first shape: per-signature filtered decode plans
    * unioned — each branch's topic0 filter sits on the scan, and the union
    * is plan-level (no data copied).
    */
  final case class EvmDecodeMultiEvents(signatures: Seq[String],
                                        allowDecodeFail: Boolean = true,
                                        inputTable: String = "logs",
                                        outputTable: String = "decoded_logs")
      extends Step {
    require(signatures.nonEmpty, "EvmDecodeMultiEvents needs >= 1 signature")

    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] = {
      val in = tables(inputTable)
      val parsedSigs = signatures.map(sig =>
        (sig, graft.functions.Abi.parseEvent(sig),
          graft.functions.Keccak.topic0(sig)))
      // Config validation up front, with the offending signatures NAMED —
      // each of these otherwise surfaces far away as silently doubled rows
      // (duplicate topic0: two branches match every such log), an opaque
      // unionByName AnalysisException (same field name at different ABI
      // widths → LongType vs BinaryType), or AMBIGUOUS_REFERENCE (decoded
      // field shadowing an appended input column).
      val dupes = parsedSigs.groupBy(_._3.toSeq).filter(_._2.size > 1)
      require(dupes.isEmpty,
        "duplicate topic0 (same canonical event) in signatures: " +
          dupes.values.map(_.map(_._1).mkString(" == ")).mkString("; "))
      val fieldTypes = scala.collection.mutable.Map[String, (String, org.apache.spark.sql.types.DataType)]()
      for ((sig, parsed, _) <- parsedSigs; f <- parsed.schema.fields) {
        fieldTypes.get(f.name) match {
          case Some((otherSig, t)) if t != f.dataType =>
            throw new IllegalArgumentException(
              s"field '${f.name}' has type ${f.dataType.simpleString} in " +
                s"'$sig' but ${t.simpleString} in '$otherSig'; the union " +
                "cannot reconcile them — rename one field")
          case _ => fieldTypes(f.name) = (sig, f.dataType)
        }
        require(!in.columns.contains(f.name) && f.name != "event_name",
          s"decoded field '${f.name}' of '$sig' collides with an input " +
            "column; rename it")
      }
      // ONE scan of the source: without this each branch's topic0 filter
      // re-reads the input (N scans for N signatures — a glaciers-style
      // 300-signature ABI db would re-scan the logs table 300 times). The
      // combined IN filter keeps only decodable logs, materialized once;
      // every branch then reads the materialized rows. localCheckpoint,
      // NOT persist (r14 — the previous comment had Spark's cleanup
      // semantics backwards): persist() registers the plan in the
      // CacheManager, which holds it STRONGLY until an explicit
      // unpersist — on the streaming path that is one leaked cache entry
      // per micro-batch for the life of the session. localCheckpoint
      // blocks belong to an RDD the ContextCleaner reclaims as soon as
      // the batch's plans are dropped. The trade (lineage truncation:
      // executor loss fails the task set instead of recomputing) is the
      // one every other multi-consumer materialization in this engine
      // already makes.
      val matched = in
        .filter(col("topic0").isin(parsedSigs.map(t => t._3: Any): _*))
        .localCheckpoint()
      val branches = parsedSigs.map { case (sig, parsed, t0) =>
        val decoded = matched.filter(col("topic0") === lit(t0))
          .withColumn("__d", F.evm_decode_event(
            sig, topicCol(in, "topic1"), topicCol(in, "topic2"),
            topicCol(in, "topic3"), col("data"), allowDecodeFail))
        decoded.select(
          (lit(parsed.name).as("event_name") +:
            parsed.schema.fieldNames.map(f => col(s"__d.$f")).toSeq) ++
            in.columns.map(col): _*)
      }
      val out = branches.reduce(_.unionByName(_, allowMissingColumns = true))
      tables + (outputTable -> out)
    }
  }

  object EvmDecodeMultiEvents {
    /** Glaciers-style ABI-database loader (cherry `config.py:137-142`
      * `abi_db_path`): a text file with one canonical event signature per
      * line; blank lines and `#` comments skipped. Driver-side config IO —
      * the signature set becomes plan-time constants (topic0 filters on the
      * scan), never per-row work.
      */
    def fromAbiDb(path: String,
                  allowDecodeFail: Boolean = true,
                  inputTable: String = "logs",
                  outputTable: String = "decoded_logs"): EvmDecodeMultiEvents = {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      val sigs =
        try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
        finally src.close()
      require(sigs.nonEmpty, s"ABI db at $path contains no signatures")
      EvmDecodeMultiEvents(sigs, allowDecodeFail, inputTable, outputTable)
    }
  }

  // --- T12 EVM_VALIDATE_BLOCK_DATA (declared-but-undispatched in cherry,
  //     config.py:120-125; semantics: block-hash chain continuity) ----------

  /** Append `valid` to the blocks table: hash-chain continuity via a lag
    * window over block_number (prev.hash == this.parent_hash).
    *
    * Scale: the DEFAULT is bucketed — blocks partition by
    * floor(number/bucketSize) so the window parallelizes across the chain
    * (a single global `Window.orderBy` serializes the whole table through
    * one task). Bucket-boundary links stay exact: each bucket's last
    * possible block is replicated as a carrier row into the next bucket, so
    * the first real row there still sees its predecessor's hash. On a
    * gapless chain this is bit-identical to the global window; if the block
    * right before a bucket boundary is missing, the boundary row reports
    * valid=true (no predecessor visible) where the global window would
    * compare against an older block and report false. Pass bucketSize <= 0
    * for the exact single-partition check on bounded slices.
    */
  final case class EvmValidateBlockData(blocksTable: String = "blocks",
                                        numberCol: String = "block_number",
                                        hashCol: String = "hash",
                                        parentHashCol: String = "parent_hash",
                                        bucketSize: Long = 1000000L) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] =
      onTable(tables, blocksTable, "EvmValidateBlockData") { df =>
        if (bucketSize > 0) {
          val slim = df.select(col(numberCol), col(hashCol), col(parentHashCol))
          // integral div, not floor(double /): double division loses
          // precision above 2^53 and would misassign bucket ids near
          // boundaries for large sequence keys (the Tables.scala
          // nanos-timestamp rule applied here)
          val bucket =
            expr(s"CAST(`$numberCol` AS BIGINT) div $bucketSize")
          val own = df.withColumn("__b", bucket)
            .withColumn("__carrier", lit(false))
          // last possible block of each bucket rides into the next one
          val carriers = slim
            .filter((col(numberCol) + 1) % bucketSize === 0)
            .withColumn("__b", bucket + 1)
            .withColumn("__carrier", lit(true))
          val w = Window.partitionBy(col("__b")).orderBy(col(numberCol))
          val prevHash = lag(col(hashCol), 1).over(w)
          own.unionByName(carriers, allowMissingColumns = true)
            // coalesce(false): a null parent_hash with a real
            // predecessor is a continuity VIOLATION, not a null —
            // `valid` must stay a total boolean or filter(col("valid"))
            // silently drops the very rows it should flag
            .withColumn("valid",
              coalesce(prevHash.isNull || prevHash === col(parentHashCol),
                lit(false)))
            .filter(!col("__carrier"))
            .drop("__b", "__carrier")
        } else {
          val prevHash = lag(col(hashCol), 1).over(Window.orderBy(col(numberCol)))
          df.withColumn("valid",
            coalesce(prevHash.isNull || prevHash === col(parentHashCol),
              lit(false)))
        }
      }
  }

  // --- T10 POLARS-analog: whole-bundle user function ------------------------

  /** The engine's user-function escape hatch (cherry `steps/polars_step.py`):
    * an arbitrary bundle→bundle function over the DataFrame API.
    */
  final case class Fn(run: (SparkSession, Map[String, DataFrame]) => Map[String, DataFrame])
      extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] =
      run(spark, tables)
  }

  // --- T11 DATAFUSION-analog: SQL-context step ------------------------------

  /** Register every table as a temp view, run user SQL, bind results
    * (cherry `steps/datafusion_step.py:8-28` — the SessionContext is
    * Catalyst itself here). `outputs` maps new/replaced table name → SQL.
    *
    * Contract: every output SQL sees the step's INPUT tables — an output
    * referencing another output's name reads the (unmodified) input view
    * of that name, never the other output (outputs are peers, not a
    * chain; chain by composing two Sql steps). Views are session-scoped:
    * registration REPLACES any same-named pre-existing temp view (they
    * are dropped again when the step returns — spark.sql resolves views
    * eagerly at analysis, so the returned plans don't need them — but a
    * clobbered pre-existing view is NOT restored; avoid bundle table
    * names that collide with session views).
    */
  final case class Sql(outputs: Map[String, String]) extends Step {
    def apply(spark: SparkSession, tables: Map[String, DataFrame]): Map[String, DataFrame] = {
      tables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
      try tables ++ outputs.map { case (name, q) => name -> spark.sql(q) }
      finally tables.keys.foreach(spark.catalog.dropTempView)
    }
  }
}
