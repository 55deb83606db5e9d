package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** On the distributed twin: the join's plan is for inputs larger than one file split. */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join runs without a shuffle exchange") {
    val t = Tables(distributed, sf())
    Layout.writeBucketed(t.lineitem.select("l_orderkey", "l_extendedprice"),
      "li_bucketed", "l_orderkey", buckets = 8)
    Layout.writeBucketed(t.orders.select("o_orderkey", "o_totalprice"),
      "ord_bucketed", "o_orderkey", buckets = 8)

    // force the shuffle-join path (small sf would broadcast, which bypasses
    // bucketing entirely — at scale both sides are too big to broadcast)
    val prev = distributed.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    distributed.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = distributed.table("li_bucketed")
        .join(distributed.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")

      // and it is still correct
      val plain = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == plain)
    } finally distributed.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
