package graft.operators

import graft.{QueryDef, Residency, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact global ranking.
  *
  * `Window.orderBy(...)` with no partition key (percent_rank/ntile over a
  * whole relation — q22/q35, the reference's RFM queries) collapses the data
  * into ONE task: correct, and what ClickHouse effectively does, but a
  * single-node bottleneck at 100 TB. This operator computes the identical
  * rank with no single-partition stage, from Spark primitives:
  *
  *   1. `repartitionByRange` on the sort key — each partition holds a
  *      contiguous key range (sampled range boundaries, the same mechanism
  *      as Spark's global sort);
  *   2. per-partition counts — a partition-id groupBy whose result is one row
  *      per partition (metadata-scale; the only driver-side collect);
  *   3. local `row_number` within each partition + broadcast offset of all
  *      preceding partitions = exact global rank.
  *
  * The sort key must be made total (append a unique tiebreaker) for ranks to
  * be deterministic — same rule as every oracle-checked ORDER BY.
  */
object DistributedRank {

  /** Adds `rankCol` (1-based global rank by `keys` ascending). */
  def withGlobalRank(df: DataFrame, rankCol: String, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val numParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // snapped: the offsets collect and the final plan must observe the SAME
    // range partitioning — repartitionByRange samples boundaries per
    // execution, and two independent executions can split borderline keys
    // differently (observed at sf0.1: offsets for a partitioning the final
    // run didn't have). The snap materializes the ranged rows once so both
    // passes share them.
    val ranged = Residency.snap(df.repartitionByRange(numParts, keys: _*)
      .withColumn("__pid", spark_partition_id()))
    // one row per partition — tiny, metadata-scale collect
    val sizes = ranged.groupBy("__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 until numParts).map { p =>
        val o = p -> acc; acc += sizes.getOrElse(p, 0L); o
      }.toMap
    }
    val w = Window.partitionBy("__pid").orderBy(keys: _*)
    ranged
      .withColumn("__local", row_number().over(w))
      .withColumn(rankCol,
        element_at(typedLit(offsets), col("__pid")) + col("__local"))
      .drop("__pid", "__local")
  }

  /** Adds `totalCol` (running sum of `valueCol`, inclusive of the current
    * row, ordered by `keys` ascending) with no single-partition window —
    * same offsets pattern as [[withGlobalRank]]: range-partition on the
    * order keys, per-partition value sums (metadata-scale collect),
    * broadcast exclusive prefix offsets, local cumulative sum + offset.
    */
  def withRunningTotal(df: DataFrame, totalCol: String, valueCol: String, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val numParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = Residency.snap(df.repartitionByRange(numParts, keys: _*)
      .withColumn("__pid", spark_partition_id()))
    val sums = ranged.groupBy("__pid").agg(sum(col(valueCol)).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 until numParts).map { p =>
        val o = p -> acc; acc += sums.getOrElse(p, 0L); o
      }.toMap
    }
    val w = Window.partitionBy("__pid").orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn(totalCol,
        sum(col(valueCol)).over(w) + element_at(typedLit(offsets), col("__pid")))
      .drop("__pid")
  }

  val defs: Seq[QueryDef] = Seq(
    // ----- q36: the scalable twin of q22 — distributed percent_rank/decile,
    // oracle-checked against the plain window formulation (identical values,
    // no single-partition exchange; see DistributedRankSpec for the plan
    // assertion).
    QueryDef.sql(
      "q36_distributed_percentiles",
      """SELECT c_custkey, c_acctbal,
        |  percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS bal_pctile,
        |  CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    ) { (spark, dir) =>
      val cust = Tables(spark, dir).customer
      val n = cust.count()
      val ranked = withGlobalRank(cust, "rank", col("c_acctbal"), col("c_custkey"))
      ranked.select(
        col("c_custkey"), col("c_acctbal"),
        // greatest(n-1, 1): percent_rank of a 1-row relation is 0, not 0/0
        ((col("rank") - 1).cast("double") / lit(math.max(n - 1, 1L).toDouble)).as("bal_pctile"),
        // ntile(k) assigns floor tiles of size ceil/floor split: first (n % k)
        // tiles get (n/k + 1) rows — reproduce exactly
        {
          val k = 10L
          val big = n % k
          val size1 = n / k + 1
          val size0 = n / k
          when(col("rank") <= big * size1, floor((col("rank") - 1) / size1) + 1)
            .otherwise(lit(big) + floor((col("rank") - 1 - big * size1) / size0) + 1)
            .cast("long").as("decile")
        })
        .orderBy("c_custkey")
    },
  )
}
