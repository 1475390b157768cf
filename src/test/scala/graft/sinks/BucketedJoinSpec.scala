package graft.sinks

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The co-located-join contract of [[CatalogSink]]'s `buckets`: two tables
  * written bucketed on the same key and count join WITHOUT shuffling
  * either side — the plan property that turns every downstream equi-join
  * of a 100 TB fact table from a corpus-sized exchange into a bucket-
  * aligned local merge. The last case checks the same property on tables
  * bucketed by Spark's own writer, without the sink.
  */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  private def withTables[T](names: String*)(f: => T): T =
    try f finally names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  private def joinPlan(left: String, right: String): String = {
    val p = spark.table(left).join(spark.table(right), "doc_id")
      .groupBy().count()
    p.queryExecution.executedPlan.toString
  }

  test("same-bucket tables join with NO exchange on either side") {
    val docs = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val scores = (0L until 500L).map(i => (i, i % 7)).toDF("doc_id", "score")
    withTables("bkt_docs", "bkt_scores") {
      CatalogSink(buckets = Map(
        "bkt_docs" -> ("doc_id", 8), "bkt_scores" -> ("doc_id", 8)))
        .push(Map("bkt_docs" -> docs, "bkt_scores" -> scores))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val p = joinPlan("bkt_docs", "bkt_scores")
        assert(!p.contains("Exchange hashpartitioning"),
          s"co-bucketed join still shuffles:\n$p")
        assert(p.contains("SortMergeJoin"), p)
        assert(p.contains("SelectedBucketsCount"), p)
        // and the join is correct, not just shuffle-free
        val n = spark.table("bkt_docs")
          .join(spark.table("bkt_scores"), "doc_id").count()
        assert(n == 500L)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("x114 snapshot diff runs exchange-free over bucketed snapshots") {
    // the DECLARED x114 flow (ExtensionQueries x114_snapshot_diff) over
    // snapshots persisted through CatalogSink: both scans read
    // bucket-aligned, the full-outer merge joins with ZERO exchange, and
    // the rows are identical to the unbucketed path
    val d = (0L until 500L).map(i => (i, s"text of document number $i"))
      .toDF("doc_id", "text")
    val nw = graft.sql.ExtensionQueries.refreshSnapshot(d)
    withTables("snap_old", "snap_new") {
      CatalogSink(buckets = Map(
          "snap_old" -> ("doc_id", 8), "snap_new" -> ("doc_id", 8)))
        .push(Map("snap_old" -> d, "snap_new" -> nw))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val diff = graft.ops.StatOps.snapshotDiff(
          spark.table("snap_old"), spark.table("snap_new"), "doc_id", "text")
        val p = diff.queryExecution.executedPlan.toString
        assert(!p.contains("Exchange hashpartitioning"),
          s"bucketed x114 join still shuffles:\n$p")
        assert(p.contains("SortMergeJoin"), p)
        val got = diff.orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val expect = graft.ops.StatOps.snapshotDiff(d, nw, "doc_id", "text")
          .orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(got == expect)
        assert(got.nonEmpty && got.map(_._2).toSet ==
          Set("added", "removed", "unchanged", "changed"))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("mismatched bucket counts DO exchange (negative control) and an " +
      "unknown bucketed table fails loudly") {
    val docs = (0L until 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val scores = (0L until 200L).map(i => (i, i)).toDF("doc_id", "s")
    withTables("bkt_a", "bkt_b") {
      // ONE sink, two bucket counts in one push — the per-table layout map
      CatalogSink(buckets = Map(
          "bkt_a" -> ("doc_id", 8), "bkt_b" -> ("doc_id", 3)))
        .push(Map("bkt_a" -> docs, "bkt_b" -> scores))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val p = joinPlan("bkt_a", "bkt_b")
        // Spark may shuffle one side to match the other's bucketing or
        // shuffle both — either way at least one exchange must appear
        assert(p.contains("Exchange hashpartitioning"),
          s"expected a shuffle for mismatched bucket counts:\n$p")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val e = intercept[IllegalArgumentException] {
        CatalogSink(buckets = Map("nope" -> ("doc_id", 4)))
          .push(Map("bkt_a" -> docs))
      }
      assert(e.getMessage.contains("unknown table"))
    }
  }

  test("bucketed tables join without any shuffle exchange") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")

    (1L to 1000L).map(i => (i, i % 100, i * 10.0)).toDF("o_orderkey", "o_custkey", "o_total")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    (0L until 100L).map(i => (i, s"c$i")).toDF("c_custkey", "c_name")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join would NEED a shuffle if not co-located
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          $"o_custkey" === $"c_custkey")
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"expected zero shuffles for co-bucketed join, got ${shuffles.size}")
      assert(joined.count() == 1000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }
}
