package graft.operators

import graft.{Catalog, SparkSpec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** On the distributed twin: the rank's plan is for inputs larger than one file split. */
class DistributedRankSpec extends SparkSpec {

  test("distributed global rank equals single-partition window rank") {
    val cust = Tables(distributed, sf()).customer
    val viaWindow = cust
      .withColumn("rank", row_number().over(Window.orderBy("c_acctbal", "c_custkey")).cast("long"))
      .select("c_custkey", "rank")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDistributed = DistributedRank
      .withGlobalRank(cust, "rank", col("c_acctbal"), col("c_custkey"))
      .select("c_custkey", "rank")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDistributed == viaWindow && viaWindow.nonEmpty)
  }

  test("distributed rank plan has no single-partition window stage") {
    val cust = Tables(distributed, sf()).customer
    val plan = DistributedRank
      .withGlobalRank(cust, "rank", col("c_acctbal"), col("c_custkey"))
      .queryExecution.executedPlan.toString
    // the window runs per range-partition (partitionBy __pid), never over
    // an Exchange SinglePartition
    assert(!plan.contains("SinglePartition"), s"found single-partition stage:\n$plan")
  }

  test("q36 matches q22 values exactly") {
    val q22 = Catalog.byName("q22_customer_percentiles").build(distributed, sf())
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSet
    val q36 = Catalog.byName("q36_distributed_percentiles").build(distributed, sf())
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSet
    assert(q36 == q22)
  }
}
