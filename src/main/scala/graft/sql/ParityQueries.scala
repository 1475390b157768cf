package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** SURVEY.md §2.9 declared parity query set (Q1–Q15), DataFrame-first.
  *
  * Each query exercises one row of the SURVEY §2 operator inventory; the
  * paired DuckDB oracle SQL is hash-compared by the driver (columns sorted
  * by name), so column NAMES and TYPES are pinned on both sides:
  *   - every aggregate / computed column is aliased identically;
  *   - SUM/AVG over doubles go through DECIMAL(38,6), ROUND(..,4), then
  *     scale to a BIGINT of 1e-4 units (`*_e4`): decimal summation is exact
  *     (double order-dependence eliminated) and the integer output avoids
  *     the driver hasher's per-engine decimal canonicalization (DuckDB
  *     fetchdf yields float64, Spark parquet yields Decimal — equal values,
  *     different hashes);
  *   - COUNT/ROW_NUMBER pinned to BIGINT (Spark row_number is INT);
  *   - every query has a total ORDER BY over a unique key set;
  *   - NULL ordering is explicit (Spark ASC default = NULLS FIRST, DuckDB
  *     default = NULLS LAST — never rely on the default).
  *
  * Scale notes (100 TB posture): dimension sides of joins are broadcast
  * (`broadcast()` hint) so the fact table never shuffles for a dim lookup;
  * selective filters sit directly on the scan so Catalyst pushes them into
  * the parquet reader (verified via explain: PushedFilters); aggregations
  * are partial-agg friendly (plain groupBy on low-cardinality keys).
  */
object ParityQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal summation of a double column, rounded to 4 places and
    * emitted as a BIGINT of 1e-4 units (exact: scale-4 decimal × 10000 is
    * an integer).
    */
  private def money(c: Column): Column =
    (round(sum(c.cast(DecimalType(38, 6))), 4) * 10000).cast(LongType)

  val catalog: Map[String, QueryCase] = QueryCase.catalog(
    // Q1 — scan + filter + project (inventory S3/S4/S6): both predicates
    // reach the parquet scan as PushedFilters; ReadSchema is 4 columns.
    "q01_scan_filter_project" -> QueryCase({ (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                col("l_returnflag") === "N")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, oracle =
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_returnflag = 'N'
        | ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Q2 — inner equi-join fact⋈dim (R1). Dim side filtered then broadcast:
    // no shuffle of orders at any scale.
    "q02_join_fact_dim" -> QueryCase({ (s, dir) =>
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o.o_orderkey, c.c_name FROM orders o
        | JOIN customer c ON o.o_custkey = c.c_custkey
        | WHERE c.c_mktsegment = 'BUILDING' ORDER BY o.o_orderkey""".stripMargin),

    // Q3 — multi-join chain with differing key names (R2/R3); both dims
    // broadcast so the chain is two map-side hash joins.
    "q03_multijoin_chain" -> QueryCase({ (s, dir) =>
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c.c_custkey, n.n_name, r.r_name FROM customer c
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | ORDER BY c.c_custkey""".stripMargin),

    // Q4 — left outer join + CASE + concat (R4/R9/R10). The ON-clause
    // condition l_linenumber=1 pre-filters the right side (pushed to scan).
    "q04_left_join_case_concat" -> QueryCase({ (s, dir) =>
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
      p.join(l, p("p_partkey") === l("l_partkey"), "left")
        .select(
          col("p_partkey"),
          concat(when(col("p_size") > 25, lit("BIG")).otherwise(lit("SMALL")),
                 lit("-"), col("p_brand")).as("tag"),
          col("l_orderkey"))
        .orderBy(col("p_partkey"), col("l_orderkey").asc_nulls_first)
    }, oracle =
      """SELECT p.p_partkey,
        | (CASE WHEN p.p_size > 25 THEN 'BIG' ELSE 'SMALL' END) || '-' || p.p_brand AS tag,
        | l.l_orderkey
        | FROM part p LEFT JOIN lineitem l
        |   ON p.p_partkey = l.l_partkey AND l.l_linenumber = 1
        | ORDER BY p.p_partkey, l.l_orderkey NULLS FIRST""".stripMargin),

    // Q5 — left-semi join (R5; the provider include_* semantics,
    // cherry erc20_custom.py:118). Semi side is tiny after filter → broadcast.
    "q05_semi_join" -> QueryCase({ (s, dir) =>
      val o = t(s, dir, "orders")
      val keys = t(s, dir, "customer")
        .filter(col("c_acctbal") > 9000).select(col("c_custkey"))
      o.join(broadcast(keys), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }, oracle =
      """SELECT o_orderkey FROM orders
        | WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        | ORDER BY o_orderkey""".stripMargin),

    // Q6 — anti join (NOT IN with non-null keys ≡ left_anti): customers
    // with no order before 1996. The date cut keeps the gate non-empty:
    // every fixture customer has some order, and a 0-row gate passes a
    // plan that drops every row.
    "q06_anti_join" -> QueryCase({ (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1996-01-01")))
        .select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    }, oracle =
      // NOT EXISTS, not NOT IN: one NULL o_custkey would make every
      // NOT IN comparison UNKNOWN and return zero rows, while Spark's
      // left_anti keeps all unmatched customers (the
      // incrementalDedupSql NULL rule, applied here too)
      """SELECT c_custkey FROM customer c
        | WHERE NOT EXISTS (SELECT 1 FROM orders o
        |   WHERE o.o_custkey = c.c_custkey
        |     AND o.o_orderdate < DATE '1996-01-01')
        | ORDER BY c_custkey""".stripMargin),

    // Q7 — grouped aggregation + HAVING. Low-cardinality keys → partial
    // aggregation collapses almost everything map-side before the shuffle.
    "q07_groupby_having" -> QueryCase({ (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), money(col("l_extendedprice")).as("rev_e4"))
        .filter(col("cnt") > 10)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 4) * 10000 AS BIGINT) AS rev_e4
        | FROM lineitem GROUP BY l_returnflag, l_linestatus
        | HAVING COUNT(*) > 10 ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Q8 — global MIN/MAX/COUNT (R6): single-stage partial+final agg.
    "q08_global_minmax" -> QueryCase({ (s, dir) =>
      t(s, dir, "orders").agg(
        min(col("o_orderdate")).as("mn"),
        max(col("o_orderdate")).as("mx"),
        count(lit(1)).as("cnt"))
    }, oracle =
      "SELECT MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx, COUNT(*) AS cnt FROM orders"),

    // Q9 — distinct aggregation (two distinct columns → Spark expand+agg).
    "q09_distinct_agg" -> QueryCase({ (s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_suppkey")).as("s"),
        countDistinct(col("l_partkey")).as("p"))
    }, oracle =
      "SELECT COUNT(DISTINCT l_suppkey) AS s, COUNT(DISTINCT l_partkey) AS p FROM lineitem"),

    // Q10 — top-k (R11): plans TakeOrderedAndProject, no global sort.
    "q10_topk" -> QueryCase({ (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    }, oracle =
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),

    // Q11 — window ranking; rk pinned to BIGINT (DuckDB ROW_NUMBER is
    // BIGINT, Spark's is INT).
    "q11_window_rank" -> QueryCase({ (s, dir) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("c_custkey"), col("c_acctbal"), col("rk"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """SELECT c_custkey, c_acctbal, rk FROM (
        |   SELECT c_custkey, c_acctbal,
        |     ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                        ORDER BY c_acctbal DESC, c_custkey) AS rk
        |   FROM customer) t
        | WHERE rk <= 3 ORDER BY c_custkey""".stripMargin),

    // Q12 — set op INTERSECT (distinct semantics on both engines).
    "q12_intersect" -> QueryCase({ (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("k"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
        .orderBy(col("k"))
    }, oracle =
      """SELECT c_nationkey AS k FROM customer
        | INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k""".stripMargin),

    // Q13 — ROLLUP grouping sets; NULL ordering explicit on both sides.
    "q13_rollup" -> QueryCase({ (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first)
    }, oracle =
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt FROM orders
        | GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // Q14 — event-time bucketing + agg over the stream-shaped table (the
    // batch analog of a tumbling window, SURVEY §2.7).
    "q14_date_trunc_agg" -> QueryCase({ (s, dir) =>
      t(s, dir, "events")
        .groupBy(to_date(date_trunc("day", col("ts"))).as("d"),
                 col("event_type"))
        .agg(count(lit(1)).as("cnt"), money(col("value")).as("total_e4"))
        .orderBy(col("d"), col("event_type"))
    }, oracle =
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
        | COUNT(*) AS cnt,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 4) * 10000 AS BIGINT) AS total_e4
        | FROM events GROUP BY 1, 2 ORDER BY d, event_type""".stripMargin),

    // Q15 — JSON extraction from events.props.
    "q15_json_extract" -> QueryCase({ (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
                get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .orderBy(col("event_id"))
    }, oracle =
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        | FROM events WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.transform((_, c) => c.build)
}
